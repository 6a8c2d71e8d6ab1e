package graft

/** Overlap of independent work (guide §2.6): run `task` on a background
  * daemon thread while `body` runs on the caller's thread. The hermetic
  * working-copy seeds are the use: a file-level tree copy with no data
  * dependency on the probe or tokenize phase that follows it.
  *
  * `body` receives a join handle that blocks until the task is done and
  * rethrows its failure (unwrapped); it must be called before `body` first
  * touches what the task writes. Whatever way `body` exits, the task is
  * joined before `background` returns, so no thread is still writing into
  * a directory the caller goes on to clean up or reuse. When `body` fails,
  * its exception propagates with the task's failure attached as
  * suppressed; when only the task fails, its failure propagates.
  */
object Overlap {
  def background[A](task: => Unit)(body: (() => Unit) => A): A = {
    val future = new java.util.concurrent.FutureTask[Unit](() => task)
    val th = new Thread(future, "graft-overlap")
    th.setDaemon(true)
    th.start()
    def join(): Unit =
      try future.get() catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    var failure: Throwable = null
    try body(() => join())
    catch { case t: Throwable => failure = t; throw t }
    finally {
      if (failure == null) join()
      else try join() catch {
        case t: Throwable => if (t ne failure) failure.addSuppressed(t)
      }
    }
  }
}
