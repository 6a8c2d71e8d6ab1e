package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable invariants over the stateful FADS replay output — the
  * hard correctness gate for the one operator family a SQL oracle cannot
  * replay (SURVEY.md §2.3 Q9: the full stateful loop is not SQL-expressible,
  * so `q9_*`/`taxi_fads_replay` were recorded rows-only until now).
  *
  * The replay output IS checkable without replaying the engine: the paper's
  * guarantees are per-row/per-group properties of the OUTPUT, so we emit
  * their violation counts and let DuckDB pin them to literal zeros — the same
  * tolerance-gate trick `x_sketch_stats` uses ([[Sketches.approxStats]]).
  * Reference semantics pinned (SURVEY.md §5.2 properties a–c):
  *
  *  - '''containment''' — every released tuple's original QID value lies
  *    inside its emitted interval: own-cluster bounds are the member min/max
  *    (inclusive, Cluster.java:18-34), reuse requires strict `fits`
  *    (Cluster.java:55-62), and suppression emits the running global bounds
  *    which include every tuple seen so far (Generalizer.java:108-115,
  *    246-257) — so `lo <= orig <= hi` holds on every row, on every path.
  *  - '''cardinality''' — in == out after the drain (Generalizer.java:59-74):
  *    per-group counts over the output must equal DuckDB's counts over the
  *    input table.
  *  - '''k-anonymity''' — every non-suppressed interval-group was formed by a
  *    k-member cluster release (Generalizer.java:166-176; reuse only ADDS
  *    rows to an existing group's box), so every box-group has ≥ k rows —
  *    and, with the paper's distinct-PID constraint on (quirk Q4 fixed),
  *    ≥ k distinct PIDs.
  *  - '''suppression bound''' — a healthy engine suppresses a minority of
  *    tuples at reference parameters; gated as a boolean with headroom (the
  *    measured fractions are stated at `summarise` below).
  *
  * To make containment checkable post-hoc, the original QID values ride
  * through the engine as extra payload columns (`orig_*`) — the engine never
  * sees them (payload is opaque, [[graft.fads.Fads.In]]), so the check cannot
  * influence the replay. Each gate is declared on its variant's row of
  * [[FadsReplays]]: that replay, with the `orig_*` carry, summarised.
  */
object FadsInvariants {

  /** Row-level containment violation: original value outside [lo, hi].
    * NULL-hardened: a NULL orig/lo/hi makes the comparison NULL, and `sum`
    * would silently drop it — so un-evaluable rows COUNT AS violations
    * (a corrupted replay that nulls its interval bounds must fail the gate,
    * not slip past it).
    */
  private def violation(qidCols: Seq[String]): Column =
    coalesce(
      qidCols
        .map(q =>
          col(s"orig_$q") < col(s"${q}_lo") || col(s"orig_$q") > col(s"${q}_hi"))
        .reduce(_ || _),
      lit(true))

  /** One-row invariant summary over a flattened replay output.
    *
    * @param pidOrigCol payload column holding the original person identifier
    * @param usePids    gate distinct-PID group size (paper mode) vs plain row
    *                   count (refmode, where the PID filter is off by design)
    * @param suppFracBound declared upper bound on the suppressed fraction
    */
  private[ops] def invariantRow(
      flat: DataFrame,
      qidCols: Seq[String],
      pidOrigCol: String,
      k: Int,
      usePids: Boolean,
      suppFracBound: Double,
      shardCol: Option[String] = None): DataFrame = {
    val boxCols = qidCols.flatMap(q => Seq(col(s"${q}_lo"), col(s"${q}_hi")))
    val groupSize =
      if (usePids) countDistinct(col(pidOrigCol)) else count(lit(1))
    // single aggregation tree (one pass over the replay, no caching): per-box
    // partials first, then a global roll-up — suppressed rows keep their own
    // box-groups but are excluded from the k-size gate
    val sums = flat
      .groupBy(col("suppressed") +: boxCols: _*)
      .agg(
        count(lit(1)).as("n_rows"),
        groupSize.as("n_members"),
        sum(violation(qidCols).cast("long")).as("viols"))
      .agg(
        sum(col("n_rows")).as("n_released"),
        sum(col("viols")).as("contain_viol"),
        sum(when(!col("suppressed") && col("n_members") < k, 1L).otherwise(0L))
          .as("groups_lt_k"),
        sum(when(col("suppressed"), col("n_rows")).otherwise(0L))
          .as("supp_rows"))
    val out = Seq(col("n_released"), col("contain_viol"), col("groups_lt_k"))
    shardCol match {
      case None =>
        sums.select(out :+
          (col("supp_rows") <= lit(suppFracBound) * col("n_released"))
            .as("supp_frac_ok"): _*)
      case Some(sc) =>
        // CAPACITY-AWARE gate for sharded replays: the fraction bound is a
        // quality expectation that only applies when at least one shard
        // holds ≥ k distinct PIDs. Below that capacity NO shard can ever
        // form a k-anonymous cluster, so FULL suppression is the only
        // k-safe output and is what the gate must DEMAND (a partial
        // release there would be the bug). One tiny per-shard distinct
        // agg, broadcast onto the summary row.
        val cap = flat.groupBy(col(sc))
          .agg(countDistinct(col(pidOrigCol)).as("pids"))
          .agg(max("pids").as("max_shard_pids"))
        sums.crossJoin(broadcast(cap)).select(out :+
          when(col("max_shard_pids") < k,
            col("supp_rows") === col("n_released"))
            .otherwise(
              col("supp_rows") <= lit(suppFracBound) * col("n_released"))
            .as("supp_frac_ok"): _*)
    }
  }

  private val invariantRowSql: String =
    """SELECT count(*)::BIGINT AS n_released, CAST(0 AS BIGINT) AS contain_viol,
      |       CAST(0 AS BIGINT) AS groups_lt_k, true AS supp_frac_ok
      |FROM events""".stripMargin

  /** `n_out` per event_type must equal DuckDB's per-type input counts (in ==
    * out through the engine, drain included) and `contain_viol` must be 0.
    */
  private val perTypeSql: String =
    """SELECT event_type, count(*)::BIGINT AS n_out, CAST(0 AS BIGINT) AS contain_viol
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Gate `g`'s summary over `flat`, its variant's reporting frame with
    * `orig_*` payload ([[FadsReplays.frame]]).
    *
    * The group gates count distinct PIDs unless the variant's config turns
    * the paper's distinct-PID filter off (quirk Q4, the refmode variants):
    * there the box-group still has ≥ k ROWS (that part of the algorithm is
    * unchanged). Measured suppressed fractions at reference parameters,
    * sf0.01 (the scale the oracles are checked at): replay 0.09%, hash-sharded
    * 1.25%, region-sharded 0.33%, refmode/taxi 0% — bound 0.5 leaves wide
    * headroom while still failing a suppress-everything regression. Tiny
    * inputs: the HASH-sharded variant at sf0.001 (15 distinct users split 8
    * ways ⇒ no shard ever sees k=10 distinct PIDs) legitimately suppresses
    * 100% — a real lesson in not over-sharding below ~k·PIDs per shard — so
    * its gate is CAPACITY-AWARE ([[invariantRow]]'s `shardCol` branch):
    * below capacity it demands exactly-full suppression (the only k-safe
    * output), at operating scale it applies the fraction bound. Merging
    * box-groups across shards only grows them, so the global check stays
    * valid for every sharded variant.
    */
  private def summarise(v: FadsReplays.Variant, g: FadsReplays.Summary,
      flat: DataFrame): DataFrame = g match {
    case FadsReplays.PerType =>
      flat.groupBy("event_type")
        .agg(
          count(lit(1)).as("n_out"),
          sum(violation(v.qidCols).cast("long")).as("contain_viol"))
        .orderBy("event_type")
    case _ =>
      invariantRow(flat, v.qidCols, s"orig_${v.pidCol}", v.cfg.k,
        usePids = v.cfg.quirks.uniquePid, suppFracBound = 0.5,
        shardCol = if (g == FadsReplays.ShardCapacity) Some("shard") else None)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] =
    FadsReplays.gates.map { case (key, v, g) =>
      key -> ((s: SparkSession, dir: String) =>
        summarise(v, g, FadsReplays.frame(s, dir, v, orig = true)))
    }.toMap

  val oracles: Map[String, String] =
    FadsReplays.gates.map { case (key, _, g) =>
      key -> (if (g == FadsReplays.PerType) perTypeSql else invariantRowSql)
    }.toMap
}
