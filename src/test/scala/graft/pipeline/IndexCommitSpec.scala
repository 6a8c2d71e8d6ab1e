package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The cross-process commit protocol behind every persisted index
  * ([[Dedup.ensureMinhashIndex]], [[IvfIndex.ensure]],
  * [[Retrieval.ensureBm25Index]]): build into a temp sibling, publish
  * with one atomic rename. The round-12 verdict demonstrated that the
  * old check-then-build paths torn-overwrote each other under two
  * concurrent `sbt test` runs; this spec pins the repaired invariants at
  * the protocol level — racing writers yield exactly one committed
  * winner and zero torn states, losers converge on the winner's index,
  * and leftover temp dirs are always cleaned. It also pins the one
  * partition manifest of the bucketed indexes: written from the build's
  * listing, intersected by the pruned read, augmented by an append whose
  * touched set is collected once.
  */
class IndexCommitSpec extends AnyFunSuite with SparkSpec {

  private def freshRoot(tag: String): Path = {
    val d = graft.TempDirs.scoped(s"index-commit-$tag")
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

  private val key = IndexCommit.Content(rows = 3, maxKey = 2, fp = 7)

  test("scratch-corpus index roots lie under the TempDirs root") {
    val corpus = graft.TempDirs.scoped("index-commit-corpus")
    val scratch = Paths.get(corpus).getParent.toString
    val root = IndexCommit.root("fam", corpus, "_b4", key)
    assert(root.startsWith(s"$scratch/graft_fam/"), root)
    assert(root.endsWith("_b4_n3_f7"), root)
  }

  test("index roots of corpora outside the scratch root keep the base") {
    assert(IndexCommit.root("fam", "/data/sf0.001", "_b4", key, "_pq") ===
      s"${IndexCommit.Base}/graft_fam/_data_sf0.001_b4_n3_f7_pq")
  }

  /** The partition dirs under `root`, `depth` levels deep, from disk. */
  private def dirsOnDisk(root: String, depth: Int): Set[String] = {
    val base = Paths.get(root)
    Files.walk(base, depth).iterator().asScala
      .filter(p => Files.isDirectory(p) && base.relativize(p).getNameCount == depth &&
        p.getFileName.toString.contains("="))
      .map(p => base.relativize(p).toString).toSet
  }

  /** A bucketed index of `rows` (id, v, p, q) partitioned by `cols`. */
  private def buildPartitioned(tag: String, cols: Seq[String],
      rows: Seq[(Long, String, Int, Int)]): String = {
    import spark.implicits._
    val root = graft.TempDirs.scoped(s"index-commit-$tag") + "/idx"
    IndexCommit.publishPartitioned(spark, root, Seq(IndexCommit.Root), cols) { tmp =>
      rows.toDF("id", "v", "p", "q").write.partitionBy(cols: _*).parquet(tmp)
      Map("n" -> rows.size.toLong)
    }
  }

  private val rows = Seq((1L, "a", 0, 0), (2L, "b", 1, 0), (3L, "c", 1, 2))

  test("a build's manifest lists exactly the partition dirs on disk, at depth 1 and 2") {
    val one = buildPartitioned("depth1", Seq("p"), rows)
    assert(IndexCommit.partitions(spark, one) == dirsOnDisk(one, 1))
    assert(IndexCommit.partitions(spark, one) == Set("p=0", "p=1"))
    val two = buildPartitioned("depth2", Seq("p", "q"), rows)
    assert(IndexCommit.partitions(spark, two) == dirsOnDisk(two, 2))
    assert(IndexCommit.partitions(spark, two) == Set("p=0/q=0", "p=1/q=0", "p=1/q=2"))
    assert(IndexCommit.totals(spark, two, Seq("n")) == Seq(3L))
    val e = intercept[IllegalStateException](IndexCommit.totals(spark, two, Seq("m")))
    assert(e.getMessage.contains(IndexCommit.PartitionsFile), e.getMessage)
  }

  test("a pruned read of dirs the manifest does not name is an empty frame " +
    "of the recorded schema") {
    val root = buildPartitioned("absent", Seq("p"), rows)
    val schema = IndexCommit.schemas(spark, root)(IndexCommit.Root)
    val empty = IndexCommit.readPruned(spark, root, IndexCommit.Root, Seq("p=7", "p=9"))
    assert(empty.schema == schema)
    assert(empty.inputFiles.isEmpty)
    assert(empty.count() == 0)
    assert(IndexCommit.readPruned(spark, root, IndexCommit.Root, Seq("p=1", "p=9"))
      .count() == 2)
  }

  /** Descriptions of the `collect` SQL executions started while `body`
    * runs. A marker job closes the window: the listener bus delivers
    * events in order, so once it sees the marker it has seen them all.
    */
  private def collectsDuring(body: => Unit): Seq[String] = {
    val mark = "index-commit-spec-mark"
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val done = new java.util.concurrent.Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == mark))
          done.release()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.description.startsWith("collect at") =>
          seen.synchronized(seen += s.description)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(mark)
      try spark.sparkContext.parallelize(Seq(0), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      done.acquire()
      seen.synchronized(seen.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an append adds exactly its touched dirs and collects them once") {
    import spark.implicits._
    val root = buildPartitioned("append", Seq("p"), rows)
    val batch = Seq((2L, "b2", 1, 0), (4L, "d", 5, 0)).toDF("id", "v", "p", "q")
    val collects = collectsDuring {
      val touched = IndexCommit.touchedDirs(batch, "p")
      graft.streaming.Sinks.partitionedUpsertBatch(batch, root, touched,
        partitionCols = Seq("p"), keyCols = Seq("id"), versionCols = Seq("v"))
      IndexCommit.augment(spark, root, touched, Map("n" -> 1L))
    }
    assert(collects.size == 1, s"touched-set collects: $collects")
    assert(IndexCommit.partitions(spark, root) == Set("p=0", "p=1", "p=5"))
    assert(IndexCommit.partitions(spark, root) == dirsOnDisk(root, 1))
    assert(IndexCommit.totals(spark, root, Seq("n")) == Seq(4L))
    assert(IndexCommit.readPruned(spark, root, IndexCommit.Root, Seq("p=1", "p=5"))
      .as[(Long, String, Int, Int)].collect().toSet ==
      Set((2L, "b2", 0, 1), (3L, "c", 2, 1), (4L, "d", 0, 5)))
  }

  test("a BM25 wave with its block-max sidecar collects its touched set once") {
    val dir = "/root/testdata/sf0.001"
    val root = Retrieval.ensureBm25Index(spark, dir)
    var work = ""
    val collects = collectsDuring {
      work = Retrieval.appendWave(spark, dir, root, "index-commit-bm25",
        Retrieval.blockMaxSidecar)
    }
    assert(collects.size == 1, s"touched-set collects: $collects")
    assert(IndexCommit.partitions(spark, work) == dirsOnDisk(s"$work/postings", 1))
  }

  test("a root holding only a retired per-family manifest is rebuilt once") {
    import spark.implicits._
    val root = graft.TempDirs.scoped("index-commit-retired") + "/idx"
    rows.toDF("id", "v", "p", "q").write.partitionBy("p").parquet(root)
    IndexCommit.recordSchemas(spark, root, Seq(IndexCommit.Root))
    val (lfs, r) = IndexCommit.fsOf(spark, root)
    IndexCommit.writeLines(lfs, new Path(r, "_lists"), Seq("0", "1"))
    var builds = 0
    def publish(): String =
      IndexCommit.publishPartitioned(spark, root, Seq(IndexCommit.Root), Seq("p")) { tmp =>
        builds += 1
        rows.toDF("id", "v", "p", "q").write.partitionBy("p").parquet(tmp)
        Map.empty
      }
    assert(publish() == root && builds == 1)
    assert(IndexCommit.partitions(spark, root) == Set("p=0", "p=1"))
    assert(!lfs.exists(new Path(r, "_lists")), "the rebuild replaces the old root")
    publish()
    assert(builds == 1, "a committed root is reused")
  }
}
