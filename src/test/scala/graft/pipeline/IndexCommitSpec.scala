package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The cross-process commit protocol behind every persisted index
  * ([[Dedup.ensureMinhashIndex]], [[IvfIndex.ensure]],
  * [[Retrieval.ensureBm25Index]]): build into a temp sibling, publish
  * with one atomic rename. The round-12 verdict demonstrated that the
  * old check-then-build paths torn-overwrote each other under two
  * concurrent `sbt test` runs; this spec pins the repaired invariants at
  * the protocol level — racing writers yield exactly one committed
  * winner and zero torn states, losers converge on the winner's index,
  * and leftover temp dirs are always cleaned.
  */
class IndexCommitSpec extends AnyFunSuite {

  private def freshRoot(tag: String): Path = {
    val d = Files.createTempDirectory(s"index-commit-$tag").toString
    new Path(d, "idx")
  }

  private val fs: FileSystem =
    new Path("/tmp").getFileSystem(new Configuration())

  private def committed(r: Path): Boolean =
    fs.exists(new Path(r, "_SUCCESS")) && fs.exists(new Path(r, "_manifest"))

  /** A "full" build: data file, then manifest, then success marker —
    * tagged with the builder's id so the winner is observable.
    */
  private def buildAs(id: String, sleepMs: Long = 0)(tmp: Path): Unit = {
    fs.mkdirs(tmp)
    val d = fs.create(new Path(tmp, "data"), true)
    try d.write(s"data-$id".getBytes("UTF-8")) finally d.close()
    if (sleepMs > 0) Thread.sleep(sleepMs)
    val m = fs.create(new Path(tmp, "_manifest"), true)
    try m.write(s"manifest-$id".getBytes("UTF-8")) finally m.close()
    val s = fs.create(new Path(tmp, "_SUCCESS"), true)
    try s.write(Array.emptyByteArray) finally s.close()
  }

  private def readFile(p: Path): String = {
    val in = fs.open(p)
    try {
      val bs = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bs, 4096, false)
      bs.toString("UTF-8")
    } finally in.close()
  }

  test("single build commits atomically and is reused on re-ensure") {
    val root = freshRoot("single")
    IndexCommit.ensure(fs, root)(committed)(buildAs("a"))
    assert(committed(root))
    assert(readFile(new Path(root, "data")) === "data-a")
    // second ensure must be a pure no-op: the build closure must not run
    IndexCommit.ensure(fs, root)(committed)(_ =>
      fail("build ran although a committed index exists"))
    assert(readFile(new Path(root, "data")) === "data-a")
  }

  test("racing builders: exactly one winner, both observe a committed index") {
    val root = freshRoot("race")
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val results = Seq("a", "b").map { id =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Unit]] {
        def call(): Either[Throwable, Unit] = {
          start.await()
          try Right(IndexCommit.ensure(fs, root)(committed)(
            buildAs(id, sleepMs = 50)))
          catch { case t: Throwable => Left(t) }
        }
      })
    }
    start.countDown()
    val outcomes = results.map(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(outcomes.forall(_.isRight),
      s"a racer failed: ${outcomes.collect { case Left(t) => t.toString }}")
    // exactly one complete, internally consistent index at the final path
    assert(committed(root))
    val winner = readFile(new Path(root, "data")).stripPrefix("data-")
    assert(Set("a", "b").contains(winner))
    assert(readFile(new Path(root, "_manifest")) === s"manifest-$winner",
      "data and manifest must come from the SAME builder (no torn mix)")
    // losers must have cleaned their temp builds — neither beside the
    // index (the build site) nor nested INSIDE it (the Hadoop rename-
    // into-existing-dir hazard the publish post-condition guards)
    def strays(p: String) = Files.list(Paths.get(p))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".build-")).toSeq
    assert(strays(root.getParent.toString).isEmpty, "temp dirs beside index")
    assert(strays(root.toString).isEmpty, "temp dirs nested inside index")
  }

  test("pre-protocol crash leftover at the final path is cleared and rebuilt") {
    val root = freshRoot("leftover")
    // an uncommitted partial dir (no _SUCCESS / manifest) blocks the rename
    fs.mkdirs(root)
    val d = fs.create(new Path(root, "data"), true)
    try d.write("torn".getBytes("UTF-8")) finally d.close()
    IndexCommit.ensure(fs, root)(committed)(buildAs("fresh"))
    assert(committed(root))
    assert(readFile(new Path(root, "data")) === "data-fresh")
  }
}
