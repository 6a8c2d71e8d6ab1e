package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Block-max probe invariants that the shared hash oracle cannot show:
  * (1) result equality with the unpruned probe on the real testdata
  * (where the homogeneous synthetic vocabulary keeps pruning mostly
  * idle), and (2) on a constructed skewed corpus, the pruning actually
  * DROPS blocks — the upper-bound machinery is live, and equality still
  * holds on exactly the input shape pruning exists for.
  */
class RetrievalBlockMaxSpec extends AnyFunSuite with SparkSpec {

  /** (relative path, size, modification time) of every file under `root`. */
  private def fileState(root: String): Set[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toSet
    finally walk.close()
  }

  test("block-max and WAND probes leave a freshly published index untouched") {
    // a private copy of the corpus, so the index under test is built now
    val dir = graft.TempDirs.scoped("bm25-published")
    graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .write.parquet(s"$dir/documents.parquet")
    val root = Retrieval.ensureBm25Index(spark, dir)
    try {
      val published = fileState(root)
      Retrieval.blockMaxTopK(spark, root).collect()
      Retrieval.wandTopK(spark, root)
      assert(fileState(root) == published,
        "a probe wrote into the published index root")
    } finally {
      val (fs, p) = IndexCommit.fsOf(spark, root)
      fs.delete(p, true)
    }
  }

  test("block-max probe equals the unpruned probe on testdata") {
    val root = Retrieval.ensureBm25Index(spark, "/root/testdata/sf0.001")
    val pruned = Retrieval.prunedTopK(spark, root).collect().map(_.toSeq)
    val bm = Retrieval.blockMaxTopK(spark, root).collect().map(_.toSeq)
    assert(bm.toSeq == pruned.toSeq,
      "block-max pruning must not change the result")
  }

  /** Skewed fixture: block 0 (doc_id 0..63) holds every query term with
    * high tf and short docs; blocks 1..9 carry only the common terms
    * once each inside long filler docs. The rarest-term θ lands high
    * (set by block-0 docs), the filler blocks' upper bounds land low —
    * most (query, block) pairs must be provably prunable.
    */
  private def skewedCorpus(): String = {
    val dir = graft.TempDirs.scoped("bm25-blockmax")
    val allTerms = Retrieval.Queries.flatMap(_._2.split(' ')).distinct
    val rows = (0L until 640L).map { id =>
      val text =
        if (id < 64)
          // every query term, repeated: high tf, dl ≈ 5·|terms|
          Seq.fill(5)(allTerms).flatten.mkString(" ")
        else
          // one hit of the two COMMON terms + 200 unique filler tokens
          (Seq("slow", "query") ++
            (0 until 200).map(i => s"f${id}x$i")).mkString(" ")
      (id, text, "en", s"src${id % 3}", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("on a skewed corpus, blocks are pruned and the result is unchanged") {
    val dir = skewedCorpus()
    val root = Retrieval.ensureBm25Index(spark, dir)

    // pruning accounting: candidate (query, blk) pairs before the θ cut
    // vs the survivors the probe admits
    val qterms = Retrieval.queryTerms(spark)
    val totalPairs = spark.read.parquet(s"$root/blockmax")
      .join(qterms, "term")
      .select("query_id", "blk").distinct().count()
    val survivors = Retrieval.blockSurvivors(spark, root).count()
    assert(survivors < totalPairs,
      s"expected pruned blocks on the skewed corpus " +
        s"(survivors=$survivors of $totalPairs candidate pairs)")
    // the skew is strong: at least half the candidate pairs must go
    assert(survivors * 2 <= totalPairs,
      s"pruning too weak for the constructed skew: $survivors/$totalPairs")

    val pruned = Retrieval.prunedTopK(spark, root).collect().map(_.toSeq)
    val bm = Retrieval.blockMaxTopK(spark, root).collect().map(_.toSeq)
    assert(bm.toSeq == pruned.toSeq,
      "pruning dropped a block that held a true top-k document")
  }

  test("committed skewed entry: >50% prune on the DERIVED corpus, result exact") {
    val dir = "/root/testdata/sf0.001"
    val rows = Retrieval.blockMaxSkewed(spark, dir).collect()
    assert(rows.nonEmpty)
    // the entry refuses to return unless 2·survivors < blocks; re-assert
    // the emitted accounting here so a weakened require() fails the spec
    rows.foreach { r =>
      val nBlocks = r.getLong(r.fieldIndex("n_blocks"))
      val nSurv = r.getLong(r.fieldIndex("n_survivors"))
      assert(r.getBoolean(r.fieldIndex("prune_ok")))
      assert(2 * nSurv < nBlocks, s"prune too weak: $nSurv/$nBlocks")
    }
    // the probe's top-k on the skewed corpus must equal the UNPRUNED
    // probe on the same derived corpus (equality is the theorem the ub/θ
    // bound proves — check it on exactly the surface pruning exists for)
    val skDir = graft.TempDirs.scoped("bm25-skew-spec")
    Retrieval.skewedDocs(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(s"$skDir/documents.parquet")
    val root = Retrieval.ensureBm25Index(spark, skDir)
    val unpruned = Retrieval.prunedTopK(spark, root).collect().map(_.toSeq)
    val bm = Retrieval.blockMaxTopK(spark, root).collect().map(_.toSeq)
    assert(bm.toSeq == unpruned.toSeq,
      "skewed-surface pruning dropped a true top-k document")
  }

  test("WAND: beats one-shot block-max AND equals the full scoring") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val out = Retrieval.wandSkewed(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("wand_ok")))
      // the adaptive θ must strictly beat the one-shot phase-1 bound on
      // this surface — otherwise the entry is re-testing block-max
      assert(r.getLong(r.fieldIndex("n_scored")) <
        r.getLong(r.fieldIndex("n_bm_survivors")),
        "WAND scored no fewer blocks than one-shot block-max admits")
    }
    // exactness: the loop's top-k == full scoring over the same derived
    // corpus and query set (scoreTopK is the family's correctness anchor)
    val docs = Retrieval.wandDocs(spark, dir)
      .where(s"doc_id % ${Dedup.IncrSplitMod} <> 0")
    val qt = Retrieval.WandQueries
      .flatMap { case (id, q) => q.split(' ').map(t => (id, t)) }
      .toDF("query_id", "term")
    val postings = Retrieval.postingsOf(docs)
    val want = Retrieval.scoreTopK(qt, postings,
        Retrieval.statsOf(postings), Retrieval.metaOf(docs))
      .select("query_id", "doc_id", "w_sum", "rk")
      .collect().map(_.toSeq).toSeq
    val got = out.map(r => Seq(r.getLong(0), r.getLong(1),
      r.getLong(r.fieldIndex("w_sum")), r.getLong(r.fieldIndex("rk"))))
      .toSeq
    assert(got == want, "WAND top-k must equal the unpruned scoring")
  }
}
