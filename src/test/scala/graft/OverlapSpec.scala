package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Overlap.background]] joins its task on every exit path: no task is
  * left running once the call returns, and neither failure is lost.
  */
class OverlapSpec extends AnyFunSuite {

  test("a failing body still joins the task before returning") {
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.background { Thread.sleep(300); done.set(true) } { _ =>
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(done.get(), "the task must have finished when background returns")
  }

  test("the task's failure rides along as suppressed when the body fails") {
    val e = intercept[IllegalStateException] {
      Overlap.background(throw new java.io.IOException("copy failed")) { _ =>
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("copy failed"))
  }

  test("a task failure surfaces through the join handle and at exit") {
    def failing = throw new java.io.IOException("copy failed")
    val joined = intercept[java.io.IOException] {
      Overlap.background(failing) { seeded => seeded(); "unreached" }
    }
    assert(joined.getMessage == "copy failed" && joined.getSuppressed.isEmpty)
    val atExit = intercept[java.io.IOException] {
      Overlap.background(failing)(_ => "body done")
    }
    assert(atExit.getMessage == "copy failed")
  }

  test("the body's value returns after the task completes") {
    val done = new AtomicBoolean(false)
    val out = Overlap.background { Thread.sleep(100); done.set(true) } { _ => 42 }
    assert(out == 42 && done.get())
  }
}
