package graft.pipeline

import java.util.concurrent.Semaphore

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec, Tables, TempDirs}

/** The one pruned reader of committed indexes ([[IndexCommit.read]]) and
  * what it buys: every committed artifact's schema is recorded exactly as
  * inference returns it, before and after an append; probes plan with no
  * schema-inference job; an empty touched set lists nothing; in every
  * family an index lacking its record, an artifact's `_SUCCESS` or a
  * manifest is rebuilt ([[IndexCommit.publish]]).
  */
class IndexReaderSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val ivfLayouts = Seq(IvfIndex.Float, IvfIndex.Sq8, IvfIndex.Pq,
    IvfIndex.PqRes, IvfIndex.Opq)

  /** Every recorded artifact of the index at `root` against a fresh
    * inference of its files.
    */
  private def assertParity(root: String, what: String): Unit = {
    val recorded = IndexCommit.schemas(spark, root)
    assert(recorded.nonEmpty, s"$what: empty schema record")
    recorded.foreach { case (a, schema) =>
      val path = if (a == IndexCommit.Root) root else s"$root/$a"
      assert(schema == spark.read.parquet(path).schema,
        s"$what: recorded schema of $a differs from inference")
    }
  }

  /** A working copy of the committed index at `src`. */
  private def copyOf(src: String, scope: String, name: String = "index"): String = {
    val work = TempDirs.scoped(scope) + "/" + name
    TempDirs.copyTree(spark, src, work)
    work
  }

  test("BM25: recorded schemas equal inference after build and after an append") {
    val root = Retrieval.ensureBm25Index(spark, dir)
    assert(IndexCommit.schemas(spark, root).keySet ==
      Set("postings", "stats", "blockmax"))
    assertParity(root, "bm25 build")
    val work = Retrieval.appendWave(spark, dir, root, "schema-bm25",
      Retrieval.blockMaxSidecar)
    assertParity(work, "bm25 append")
  }

  test("MinHash band and line indexes: recorded schemas equal inference") {
    val root = Dedup.ensureMinhashIndex(spark, dir)
    assertParity(root, "minhash build")
    val aug = copyOf(root, "schema-minhash",
      s"index_b${Dedup.indexBuckets(spark, dir)}")
    Dedup.appendDocsBatch(spark, aug, Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${2 * Dedup.IncrSplitMod} = 0"))
    assertParity(aug, "minhash append")
    assertParity(LineDedup.ensureLineIndex(spark, dir), "line build")
    assertParity(Refresh.ensureEvalGramIndex(spark, dir), "eval-gram build")
  }

  test("IVF, all five layouts: recorded schemas equal inference after build and append") {
    val emb = Similarity.embDouble(spark, dir)
    ivfLayouts.foreach { layout =>
      val root = IvfIndex.ensure(spark, dir, layout)
      assert(IndexCommit.schemas(spark, root).keySet ==
        (Set(IndexCommit.Root, IvfIndex.CodebookDir) ++ layout.artifacts),
        s"$layout: recorded artifacts")
      assertParity(root, s"$layout build")
      val aug = copyOf(root, s"schema-ivf${layout.tag}")
      IvfIndex.appendWave(spark, aug, layout, IvfIndex.open(spark, aug, layout),
        emb.where(s"vec_id % ${2 * Similarity.IvfSplitMod} = 0"))
      assertParity(aug, s"$layout append")
    }
  }

  /** Every persisted index family: its build-or-reuse call, the artifacts
    * its committed rule must cover (the first is the one whose `_SUCCESS`
    * the rebuild case removes) and its manifest and line files.
    */
  private def families: Seq[(String, () => String, Seq[String], Seq[String])] = {
    import IndexCommit.Root
    Seq(
      ("bm25", () => Retrieval.ensureBm25Index(spark, dir),
        Seq("blockmax", "postings", "stats"), Seq(IndexCommit.PartitionsFile)),
      ("bm25 skew corpus", () => Retrieval.skewedStage(spark, dir),
        Seq("documents.parquet"), Nil),
      ("bm25 wand corpus", () => Retrieval.wandStage(spark, dir),
        Seq("documents.parquet"), Nil),
      ("minhash", () => Dedup.ensureMinhashIndex(spark, dir),
        Seq(Root), Seq(IndexCommit.PartitionsFile)),
      ("line", () => LineDedup.ensureLineIndex(spark, dir),
        Seq(Root), Seq(IndexCommit.PartitionsFile)),
      ("eval-gram", () => Refresh.ensureEvalGramIndex(spark, dir), Seq(Root), Nil),
      ("aggregate MV", () => CorpusOps.ensureAggMv(spark, dir), Seq(Root), Nil),
      ("bucketed", () => graft.ops.BucketedJoin.stagedRoot(spark, dir),
        Seq("orders", "lineitem"), Nil)) ++
      ivfLayouts.map(l => (s"ivf $l", () => IvfIndex.ensure(spark, dir, l),
        Seq(IvfIndex.CodebookDir, Root) ++ l.artifacts,
        IndexCommit.PartitionsFile +: l.files))
  }

  test("an index lacking its schema record, an artifact's _SUCCESS or a " +
    "manifest counts as uncommitted and is rebuilt, in every family") {
    families.foreach { case (what, ensure, artifacts, manifests) =>
      val root = ensure()
      val success =
        if (artifacts.head == IndexCommit.Root) "_SUCCESS" else s"${artifacts.head}/_SUCCESS"
      (IndexCommit.SchemaFile +: success +: manifests).foreach { rel =>
        val (fs, p) = IndexCommit.fsOf(spark, s"$root/$rel")
        assert(fs.delete(p, false), s"$what: no $rel to remove")
        assert(ensure() == root)
        assert(fs.exists(p), s"$what: the rebuild did not restore $rel")
        assert(IndexCommit.schemas(spark, root).keySet == artifacts.toSet,
          s"$what: artifacts recorded by the rebuild after removing $rel")
        assertParity(root, s"$what rebuild after removing $rel")
      }
    }
  }

  test("an empty touched set is an empty frame of the recorded schema and lists nothing") {
    import spark.implicits._
    val root = TempDirs.scoped("schema-empty") + "/index"
    Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(s"$root/art")
    IndexCommit.recordSchemas(spark, root, Seq("art"))
    val schema = IndexCommit.schemas(spark, root)("art")
    // with the artifact gone, any listing under the root would fail
    val (fs, _) = IndexCommit.fsOf(spark, root)
    fs.delete(new Path(s"$root/art"), true)
    val empty = IndexCommit.read(spark, root, "art", Some(Nil))
    assert(empty.schema == schema)
    assert(empty.inputFiles.isEmpty)
    assert(empty.count() == 0)
  }

  /** Stage names (call sites) of every job started while `body` runs. A
    * marker job closes the window: the listener bus delivers job starts in
    * submission order, so once it sees the marker it has seen them all.
    */
  private def jobsDuring[A](body: => A): Seq[String] = {
    val mark = "index-reader-spec-mark"
    val names = mutable.ArrayBuffer.empty[String]
    val done = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        if (desc.contains(mark)) done.release()
        else names.synchronized(names ++= e.stageInfos.map(_.name))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(mark)
      try spark.sparkContext.parallelize(Seq(0), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      done.acquire()
      names.synchronized(names.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("text_bm25_index_topk is defined with no job on a built index") {
    val entry = SparkEntry.queries("text_bm25_index_topk")
    entry(spark, dir).collect() // builds the index and warms the memos
    val jobs = jobsDuring(entry(spark, dir))
    assert(jobs.isEmpty, s"define-phase jobs: ${jobs.mkString(", ")}")
  }

  test("IVF, MinHash and line probes start no parquet job while defined") {
    val incoming = Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
    val probes: Seq[(String, () => Any)] =
      ivfLayouts.map(l => s"ivf $l" -> (() => IvfIndex.search(spark, dir, l))) ++
        Seq(
          "minhash pruned" -> (() => Dedup.incrementalBatchPruned(spark, dir)),
          "minhash full" -> (() => Dedup.incrementalBatch(spark, dir)),
          "line refresh" -> (() => LineDedup.refreshLines(spark, dir, incoming)))
    probes.foreach { case (what, probe) =>
      probe() // builds the index and warms the memos
      val parquet = jobsDuring(probe()).filter(_.startsWith("parquet at"))
      assert(parquet.isEmpty, s"$what: ${parquet.mkString(", ")}")
    }
  }
}
