package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Contracts of the incremental end-to-end refresh (`pipeline_e2e_refresh`):
  * the batch flows against STANDING artifacts — which the refresh must
  * never rewrite — with base-corpus IO bounded by the batch (manifest-
  * pruned point lookups), frozen weights trained once, and the line
  * accounting equal to the full corpus+batch recompute restricted to the
  * batch's rows. The value-level ground truth is the DuckDB oracle; these
  * tests pin the properties the oracle cannot see (IO shape, artifact
  * immutability, memoization).
  */
class RefreshSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** (relative path, size, mtime) of every file under an index root. */
  private def fileState(root: String): Set[(String, Long, Long)] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => (base.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis))
      .toSet
  }

  test("refresh accounting is coherent and the append re-probe covers every accepted doc") {
    val rows = Refresh.query(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = rows((1L, "batch_docs"))
    val stages = Seq(
      rows((2L, "quality_docs")), rows((3L, "exact_dedup_docs")),
      rows((4L, "past_base_neardup")), rows((5L, "past_batch_neardup")),
      rows((6L, "train_candidates")), rows((7L, "gram_clean_docs")),
      rows((8L, "accepted_docs")))
    assert(batch > 0 && stages.head <= batch)
    assert(stages.zip(stages.tail).forall { case (a, b) => b <= a },
      s"stage survivor counts must be monotone non-increasing: $stages")
    val accepted = stages.last
    assert(accepted > 0, "refresh must accept some of the batch")
    assert(rows((9L, "lines_kept")) <= rows((9L, "lines_total")))
    // every accepted doc on this corpus has >= 3 tokens (asserted below),
    // so each appends a signature and must self-match in the re-probe
    val shortDocs = graft.Tables.load(spark, dir, "documents")
      .where("size(split(text, ' ')) < 3").count()
    assert(shortDocs == 0, "corpus precondition for the equality below")
    assert(rows((10L, "reprobe_self_dups")) == accepted,
      "post-append pruned re-probe must flag every accepted doc as a dup " +
        "of the augmented index (the appended rows must be visible)")
  }

  test("refresh never rewrites the standing artifacts (append goes to a working copy)") {
    val bandIdx = Dedup.ensureMinhashIndex(spark, dir)
    val lineIdx = LineDedup.ensureLineIndex(spark, dir)
    val gramIdx = Refresh.ensureEvalGramIndex(spark, dir)
    val before = Seq(bandIdx, lineIdx, gramIdx).map(fileState)
    Refresh.query(spark, dir).collect()
    val after = Seq(bandIdx, lineIdx, gramIdx).map(fileState)
    assert(before == after,
      "a refresh must read the persisted band/line/gram artifacts " +
        "without touching a byte of them")
  }

  test("line refresh probes only the batch's touched lb= buckets") {
    LineDedup.ensureLineIndex(spark, dir)
    val tiny = graft.Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
      .orderBy("doc_id").limit(3).select("doc_id", "text")
    val probe = LineDedup.refreshLines(spark, dir, tiny)
    val scans = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths
          .exists(_.toString.contains("graft_line_index")) => f
    }
    assert(scans.nonEmpty, "line-index scan not found in the probe plan")
    val roots = scans.head.relation.location.rootPaths.map(_.toString)
    assert(roots.forall(_.matches(".*/lb=\\d+$")),
      s"line probe must be rooted at touched lb= dirs, got ${roots.take(3)}")
    assert(roots.length < LineDedup.LineBuckets,
      s"tiny batch must touch fewer than all ${LineDedup.LineBuckets} " +
        s"buckets, opened ${roots.length}")
  }

  test("line refresh equals the full corpus+batch recompute restricted to the batch") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val batch = docs.where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
      .select("doc_id", "text")
    val incremental = LineDedup.refreshLines(spark, dir, batch)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val recompute = LineDedup.dedupLines(LineDedup.lineTable(docs))
      .where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
      .select("doc_id", "lines_total", "lines_kept")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(incremental == recompute,
      "probing the standing line index must equal recomputing line dedup " +
        "over base ∪ batch and keeping the batch's rows")
  }

  test("frozen weights are trained once and memoized per corpus content") {
    val w1 = Refresh.ensureFrozenWeights(spark, dir)
    val w2 = Refresh.ensureFrozenWeights(spark, dir)
    assert(w1 eq w2,
      "second call must return the memoized array, not retrain")
    assert(w1.length == QualityClassifier.QcDim + 1)
    assert(w1.exists(_ != 0L), "training on the planted classes must move " +
      "at least one weight off zero")
  }
}
