package graft

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan linter: machine-enforces the 100 TB design rules that PLANS.md
  * documents by hand, over EVERY declared query — so a regression that
  * re-introduces a cartesian product, an unvetted nested-loop join, or an
  * unpartitioned window fails the suite instead of waiting for a human
  * plan audit. (Correctness is the driver oracle's job; this is the
  * scale-shape gate.)
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  /** Entries whose single-partition window is bounded BY CONSTRUCTION:
    * text_vocab ranks only the VocabK=50 rows surviving a
    * TakeOrderedAndProject, so its global window never sees more than K
    * rows regardless of corpus size (CorpusOps.vocab scaladoc).
    */
  private val globalWindowOk = Set("text_vocab",
    // the merged-KMV re-rank: its input is the union of per-type kept
    // minima (≤ |event_types| · KmvK rows — sketch-sized, not data-sized)
    "x_kmv_distinct")

  /** ANN entries whose nested-loop join broadcasts the QUERY BATCH (a
    * `vec_id < QuerySetSize` filter — bounded by a constant, not by data;
    * the non-equi `vec_id =!= q_id` condition forces BNLJ) or the IVF
    * probe/centroid frame. Brute force is the DECLARED O(N·Q) baseline;
    * the bucketed paths (sim_lsh_topk, sim_filtered_topk) join on equi
    * keys and are correctly NOT in this list — the label predicate riding
    * the join is exactly what turns filtered search into a hash join.
    */
  private val bnljQueryBatchOk = Set(
    "sim_bruteforce_topk", "sim_bruteforce_agg_topk",
    // MMR pool = the brute-force query-batch broadcast (vec_id < 5);
    // every later round iterates localCheckpoint-ed pool-bounded tables
    "sim_mmr_topk",
    // anchor batch broadcast (vec_id < 5), label predicate decides role
    "sim_hard_negatives",
    // hard-negative mining broadcasts the CaptionAnchors-bounded anchor
    // image batch (doc_id < 8) against the caption corpus — the
    // sim_hard_negatives shape with a decoded-image build side
    "mm_caption_pairs",
    // vector leg = the brute-force query-batch broadcast (vec_id < 5)
    "text_hybrid_rrf",
    // the broadcast side is the BENCHMARK-sized eval slice, bounded by
    // the constant SemanticEvalCap (vec_id < 640) — not a corpus fraction
    "pipeline_decontaminate_semantic",
    // the indexed twin: the eval batch crossJoins the bounded persisted
    // codebook (nearestLists) for probe-list selection — the incremental
    // IVF family's vetted shape; list scoring is an equi join on c_id
    "pipeline_decontaminate_semantic_indexed",
    "sim_sq8_topk", "sim_ivf_topk", "sim_ivf_trained_topk",
    "sim_ivfpq_topk", // coarse codebook broadcast: vec_id < NCentroids (16)
    // two-level IVF: the L1 coarse codebook broadcast (vec_id < l1Cells,
    // capped at 1024 rows) — same bounded-codebook shape as the family
    "sim_ivf2_topk",
    "sim_recall_gate", "sim_recall_gate_x10",
    // incremental IVF: nearestLists crossJoins the broadcast 16-row
    // codebook (vec_id < NCentroids) for list assignment / probe set
    "sim_incremental_ivf", "sim_incremental_ivf_append",
    // compaction entry: the post-OPTIMIZE probe — identical bounded
    // persisted-codebook crossJoin shape as the probe/append pair
    "sim_incremental_ivf_compact",
    // drift-refresh entry: four bounded crossJoins — the frozen and
    // retrained codebooks (nearestLists assignment/probe set, ≤
    // NCentroids rows each) and the query batch (≤ QuerySetSize rows)
    // broadcast twice for the brute truth and the recall join's
    // truth-count scalar
    "sim_ivf_refresh",
    // OPQ entry: the residual probe with a rotated query side — the
    // codebook crossJoin is the same bounded persisted frame
    "sim_incremental_ivf_opq",
    // SQ8-stored IVF probe/append: the same bounded persisted-codebook
    // crossJoin (nearestLists) for assignment and the probe set; list
    // scoring itself is an equi join on c_id
    "sim_incremental_ivf_sq8", "sim_incremental_ivf_sq8_append",
    // PQ-coded IVF probe/append/gate: the same bounded persisted-codebook
    // crossJoin (nearestLists) plus the gate's query-batch (wave-1, ≤
    // QuerySetSize rows) brute-force truth broadcast; ADC itself is an
    // equi join on (q_id, m, code) against a broadcast Q×M×K LUT
    "sim_incremental_ivf_pq", "sim_incremental_ivf_pq_append",
    // the residual-coded layout probe: same bounded persisted-codebook
    // crossJoin for assignment/probe-set and a bounded codebook join for
    // the per-(query, list) coarse term
    "sim_incremental_ivf_pq_res", "sim_incremental_ivf_pq_res_append",
    "sim_ivfpq_idx_recall_gate",
    // vector leg = the incremental-IVF probe's bounded codebook broadcast
    "text_hybrid_rrf_indexed",
    // SemDeDup cluster assignment: the same bounded coarse-codebook
    // broadcast (vec_id < nCentroids, corpus-adaptive with a hard
    // NCentroidsMax cap) as the IVF family
    "sim_semdedup")

  /** A nested-loop/cross join is otherwise vetted iff its BROADCAST side
    * IS an aggregate frame (the 1-to-16-row stats/bounds/total rows every
    * crossJoin site in this repo broadcasts) or a literal local relation —
    * never a scan-shaped input that could grow with the data. "Is" means
    * the build side's ROOT, walked through row-count-preserving (or
    * row-count-reducing) single-child wrappers — exchange, codegen,
    * project, filter, sort, limit, coalesce — must be the Aggregate /
    * LocalTableScan. Merely CONTAINING an aggregate somewhere in the
    * subtree (e.g. a scan joined with a small aggregate) does NOT vet:
    * such a build is data-proportional and fails the lint.
    */
  @annotation.tailrec
  private def vettedBuild(p: SparkPlan): Boolean = {
    val name = p.nodeName
    val bounded =
      name.contains("Aggregate") || name.contains("LocalTableScan")
    val rowPreservingWrapper =
      name.contains("Exchange") || name.contains("WholeStageCodegen") ||
        name.contains("InputAdapter") || name.contains("Project") ||
        name.contains("Filter") || name.contains("Sort") ||
        name.contains("Limit") || name.contains("Coalesce") ||
        name.contains("Subquery")
    if (bounded) true
    else if (rowPreservingWrapper && p.children.size == 1) vettedBuild(p.children.head)
    else false
  }

  /** Every entry's prepared physical plan, computed ONCE (AQE off:
    * subqueries are then PHYSICAL — `sparkPlan` still holds logical
    * subquery plans, which would defeat the lints — and no
    * AdaptiveSparkPlanExec wrapper hides the tree) and shared by all
    * three lint passes below.
    */
  private lazy val plans: Seq[(String, SparkPlan)] = {
    val dir = "/root/testdata/sf0.001"
    Session.withConfs(spark, Map("spark.sql.adaptive.enabled" -> "false")) {
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan
        spark.catalog.clearCache()
        name -> plan
      }
    }
  }

  test("no cartesian products, unvetted nested-loop joins, or unpartitioned windows") {
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    plans.foreach { case (name, plan) =>
      plan.collectWithSubqueries { case p => p }.foreach {
        case _: CartesianProductExec =>
          violations += s"$name: CartesianProduct"
        case j: BroadcastNestedLoopJoinExec if !bnljQueryBatchOk(name) =>
          val build = if (j.buildSide == BuildRight) j.right else j.left
          if (!vettedBuild(build))
            violations += s"$name: BroadcastNestedLoopJoin with scan-shaped build side"
        case w: WindowExec if w.partitionSpec.isEmpty && !globalWindowOk(name) =>
          violations += s"$name: unpartitioned Window"
        case _ => ()
      }
    }
    assert(violations.isEmpty,
      s"100TB plan-shape violations:\n${violations.mkString("\n")}")
  }

  /** Entries whose defining predicate MUST reach the parquet scan: a data
    * filter pushed into `PushedFilters` (comparison, not the bare
    * IsNotNull every join emits), or — for the partition-layout entry —
    * a partition filter that actually prunes directories. A regression
    * that re-plans the filter above the scan (e.g. wrapping the column in
    * a non-pushable expression) fails here even though results stay
    * correct.
    */
  private val pushdownSensitive = Map(
    "tpch_q6_forecast" -> "data",
    "tpch_q14_promo_revenue" -> "data",
    "tpch_q19_banded_revenue" -> "data",
    "x_partitioned_roundtrip" -> "partition")

  test("pushdown-sensitive entries keep their filters at the scan") {
    val comparison =
      "(GreaterThan|LessThan|EqualTo|StringStartsWith|StringContains|In\\()".r
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    val byName = plans.toMap
    pushdownSensitive.foreach { case (name, kind) =>
      val scans = byName(name).collectWithSubqueries {
        case s: FileSourceScanExec => s
      }
      kind match {
        case "data" =>
          val pushed = scans.flatMap(_.metadata.get("PushedFilters"))
          if (!pushed.exists(f => comparison.findFirstIn(f).isDefined))
            violations += s"$name: no comparison filter reached any scan " +
              s"(PushedFilters = ${pushed.mkString("; ")})"
        case "partition" =>
          val parts = scans.flatMap(_.metadata.get("PartitionFilters"))
          if (!parts.exists(f => f.contains("=")))
            violations += s"$name: no partition-pruning filter at the scan " +
              s"(PartitionFilters = ${parts.mkString("; ")})"
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  /** Per-entry SHUFFLE budget: the exact number of ShuffleExchangeExec
    * nodes each entry's plan carries today (reused exchanges count once at
    * definition — ReusedExchangeExec is a different node). An accidental
    * extra shuffle — a lost co-partitioning, a filter that stopped
    * aligning with an existing exchange, an orderBy that crept in — now
    * fails the suite with the per-entry diff instead of surfacing as a
    * silent bench regression. Entries not pinned yet get
    * [[defaultShuffleBudget]]; pin them when they land.
    */
  private val defaultShuffleBudget = 3
  private val shuffleBudget: Map[String, Int] = Map(
    PlanAuditBudgets.shuffles.toSeq: _*)

  test("no entry exceeds its pinned shuffle-exchange budget") {
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    val observed = plans.map { case (name, plan) =>
      name -> plan.collectWithSubqueries {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
    }
    observed.foreach { case (name, n) =>
      val budget = shuffleBudget.getOrElse(name, defaultShuffleBudget)
      if (n > budget) violations += s"$name: $n shuffles > budget $budget"
    }
    assert(violations.isEmpty,
      "shuffle budget exceeded (if the extra exchange is DELIBERATE, " +
        "re-pin it in PlanAuditBudgets.shuffles with a rationale):\n" +
        violations.mkString("\n") + "\nfull observed counts:\n" +
        observed.map { case (n, c) => s"""    "$n" -> $c,""" }.mkString("\n"))
  }
}
