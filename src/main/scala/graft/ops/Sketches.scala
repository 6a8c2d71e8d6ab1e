package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{PacedReplay, StateSizing}

/** Sketch/approximate aggregates — the cardinality/quantile estimators a
  * 100 TB pipeline leans on when exact distinct/sort is too expensive
  * (HyperLogLog++ `approx_count_distinct`, t-digest-ish `percentile_approx`).
  * Sketch values are engine-specific, so the cross-engine contract is a
  * TOLERANCE: Spark computes both the sketch and the exact aggregate and
  * emits per-group booleans `|approx - exact| <= tol`; the DuckDB oracle
  * emits the same exact aggregates with literal `true`s — the driver's
  * hash-compare then asserts the sketches actually landed within tolerance
  * (hard gate, not just a spec-side check).
  */
object Sketches {

  /** HLL++ at rsd=0.02 is deterministic per dataset; 5% covers its bias with
    * headroom. percentile_approx at accuracy 10000 has rank error n/10000 —
    * 1% relative value tolerance is generous at every sf.
    */
  val DistinctTol = 0.05
  val MedianTol = 0.01

  def approxStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, dir, "lineitem")
    // the exact distinct count runs as its own two-phase hash agg — mixing
    // count(DISTINCT) into the sketch agg would expand the input and drop
    // the whole plan to sort-aggregate (measured 13.8 s vs 1.4 s at sf0.1)
    val sketches = li.groupBy(col("l_returnflag").as("rf"))
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("ap"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("am"))
    val exactDistinct = li.groupBy(col("l_returnflag").as("rf"), col("l_partkey"))
      .agg(lit(1).as("one"))
      .groupBy("rf").agg(count(lit(1)).as("exact_parts"))
    // exact-median yardstick by RANK ARITHMETIC (sort-based, spillable) —
    // the AggFamilies.percentiles construction; the native `percentile`
    // aggregate would buffer every group's values in one task's heap, the
    // exact shape the sketch exists to avoid (round-5 verdict on
    // x_percentiles). Discrete-vs-interpolated median differs by at most
    // one inter-value gap — noise against the 1% tolerance.
    val vals = li.select(col("l_returnflag").as("rf"),
      col("l_extendedprice").as("v"))
    val target = vals.groupBy("rf").agg(count(lit(1)).as("n"))
      .selectExpr("rf", "(50 * n + 99) div 100 AS rn")
    val exactMed = vals
      .withColumn("rn",
        row_number().over(Window.partitionBy("rf").orderBy("v")).cast("long"))
      .join(broadcast(target), Seq("rf", "rn"))
      .selectExpr("rf", "v AS em")
    sketches.join(exactDistinct, "rf").join(exactMed, "rf")
      .selectExpr("rf", "exact_parts",
        s"abs(CAST(ap AS DOUBLE) - exact_parts) <= $DistinctTol * exact_parts AS parts_ok",
        s"abs(CAST(am AS DOUBLE) - em) <= $MedianTol * abs(em) AS median_ok")
      .orderBy("rf")
  }

  val approxStatsSql: String =
    """SELECT l_returnflag AS rf, count(DISTINCT l_partkey)::BIGINT AS exact_parts,
      |       true AS parts_ok, true AS median_ok
      |FROM lineitem GROUP BY 1 ORDER BY rf""".stripMargin

  /** The typed [[BoundsAgg]] Aggregator as a driver-checked entry (round-2
    * verdict item 9 — it was spec-only): per-returnflag FADS bounding box of
    * (price, quantity) through the registered `graft_bounds` UDAF, flattened
    * to plain doubles for the hash compare. Two-phase ObjectHashAggregate
    * with map-side partial merge — the same shuffle shape as min/max.
    */
  def boundsAgg(spark: SparkSession, dir: String): DataFrame = {
    BoundsAgg.register(spark)
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag").as("rf"))
      .agg(
        expr("graft_bounds(l_extendedprice)").as("pb"),
        expr("graft_bounds(l_quantity)").as("qb"))
      .selectExpr("rf", "pb._1 AS price_lo", "pb._2 AS price_hi",
        "qb._1 AS qty_lo", "qb._2 AS qty_hi")
      .orderBy("rf")
  }

  val boundsAggSql: String =
    """SELECT l_returnflag AS rf,
      |       min(l_extendedprice) AS price_lo, max(l_extendedprice) AS price_hi,
      |       min(l_quantity) AS qty_lo, max(l_quantity) AS qty_hi
      |FROM lineitem GROUP BY 1 ORDER BY rf""".stripMargin

  /** Sketch REAGGREGATION — the pattern that matters at 100 TB: build
    * per-(day, event_type) Apache DataSketches HLL sketches ONCE, then roll
    * them up to event_type with `hll_union_agg` — no rescan of the raw
    * stream, mergeable across any dimension slice (daily → monthly → all
    * time). The estimate is gated against the exact distinct count (±5%,
    * HLL lgk=12 gives ~1.6% rsd) with the literal-boolean oracle trick;
    * the exact side is the verification yardstick, not the scale path.
    */
  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .selectExpr("event_type", "user_id",
        s"${Tables.tsNanosToDaysSql("ts")} AS day")
    val daily = ev.groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val rolled = daily.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"),
        count(lit(1)).as("n_daily_sketches"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    rolled.join(exact, "event_type")
      .selectExpr("event_type", "exact_users", "n_daily_sketches",
        s"abs(CAST(approx_users AS DOUBLE) - exact_users) <= $DistinctTol * exact_users AS approx_ok")
      .orderBy("event_type")
  }

  val hllRollupSql: String =
    """SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
      |       count(DISTINCT epoch_ns(ts) // 86400000000000)::BIGINT AS n_daily_sketches,
      |       true AS approx_ok
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Count-min sketch geometry: d=4 independent hash rows × w cells — a
    * FIXED counter array whatever the vocabulary size, mergeable cell-wise
    * across any data split (the property that matters at 100 TB: per-shard
    * sketches union by element-wise sum, no re-scan). Row hashes are affine
    * maps of the shared [[graft.pipeline.TextAnalysis.FpMod]] polynomial
    * fingerprint — exact integer arithmetic, replayable by the DuckDB
    * oracle bit-for-bit. w is sized BELOW the synthetic corpus's fixed
    * 31-token vocabulary on purpose: a w ≫ vocab sketch never collides and
    * the emitted error surface would be vacuously zero — at w=16 over half
    * the tokens collide, so `cms_over` exercises the εN overestimate (small
    * relative to heavy hitters, swamping rare tokens — the textbook CMS
    * trade) and the min-across-rows actually selects. A production run
    * sizes w to the error budget (w = ⌈e/ε⌉), not the vocabulary.
    */
  val CmsW = 16
  val CmsA: Seq[Long] = Seq(1L, 131L, 8191L, 524287L)
  val CmsB: Seq[Long] = Seq(0L, 7L, 127L, 2047L)
  val CmsTopK = 40

  /** Count-min heavy hitters over document tokens — the OTHER canonical
    * mergeable sketch next to HLL ([[hllRollup]]): HLL answers "how many
    * distinct", CMS answers "how often does each" with a fixed-size counter
    * array, the standard summary for term frequencies over an unbounded
    * vocabulary. Plan shape for 100 TB: one map-side-combined token count
    * (the only corpus-sized shuffle), then the sketch build aggregates the
    * DISTINCT-token table into ≤ d·w = 64 cells, and the estimate join
    * broadcasts both the 64-cell sketch and the top-K candidate set —
    * nothing after the first exchange is corpus-proportional. The emitted
    * `lower_bound_ok` gate (CMS never underestimates) is a structural
    * invariant of the algorithm, hash-checked per candidate; `cms_over`
    * exposes the collision overestimate the oracle replays exactly.
    */
  /** Per-token exact counts — the one corpus-sized (map-side-combined)
    * shuffle; everything downstream is vocabulary- or cell-scale.
    */
  private[graft] def cmsTokenCounts(docs: DataFrame): DataFrame =
    docs.selectExpr("explode(split(text, ' ')) AS w")
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** The d cell coordinates of the fingerprint in `ph`, as one array
    * expression — shared by the batch builder and the streaming twin.
    */
  private def cmsCellArrExpr: String = {
    import graft.pipeline.TextAnalysis.FpMod
    CmsA.indices.map(i =>
      s"((ph * ${CmsA(i)}L + ${CmsB(i)}L) % ${FpMod}L) % $CmsW").mkString(", ")
  }

  /** Each distinct token's d (row, cell) coordinates, count attached. */
  private[graft] def cmsCells(toks: DataFrame): DataFrame = {
    import graft.pipeline.TextAnalysis.polyHashExpr
    toks.selectExpr("w", "cnt", s"${polyHashExpr("w")} AS ph")
      .selectExpr("w", "cnt", s"posexplode(array($cmsCellArrExpr)) AS (r, cell)")
  }

  /** The d×w counter array as a (r, cell, cellsum) frame. Sketches built
    * from disjoint corpus splits MERGE by cell-wise sum — the spec asserts
    * sketch(A ∪ B) == sketch(A) ⊎ sketch(B) on the real builder.
    */
  private[graft] def cmsSketch(toks: DataFrame): DataFrame =
    cmsCells(toks).groupBy("r", "cell").agg(sum("cnt").as("cellsum"))

  /** Shared estimate-verdict tail: top-K exact candidates, per-candidate
    * min-of-d-cells estimate from whichever `sketch` frame is supplied
    * (batch-built or streamed state), `lower_bound_ok` gate.
    */
  private def cmsVerdict(toks: DataFrame, sketch: DataFrame): DataFrame = {
    // global top-K by exact count: TakeOrderedAndProject (driver take of K
    // rows per partition), not a range-partitioned sort — scale-safe
    val cand = toks.orderBy(desc("cnt"), asc("w")).limit(CmsTopK)
    val est = cmsCells(toks).join(broadcast(cand.select("w")), Seq("w"))
      .join(broadcast(sketch), Seq("r", "cell"))
      .groupBy("w").agg(min("cellsum").as("cms_est"))
    cand.join(est, Seq("w"))
      .selectExpr("w AS token", "cnt AS exact_cnt", "cms_est",
        "cms_est - cnt AS cms_over", "cms_est >= cnt AS lower_bound_ok")
      .orderBy(desc("exact_cnt"), asc("token"))
  }

  def cmsHeavy(spark: SparkSession, dir: String): DataFrame = {
    val toks = cmsTokenCounts(Tables.load(spark, dir, "documents"))
    cmsVerdict(toks, cmsSketch(toks))
  }

  /** The SAME count-min sketch maintained as LIVE STREAMING STATE: the
    * documents table replays as [[graft.streaming.PacedReplay]] chunk files
    * (4 micro-batches, file-backed — no driver-side row feed), each batch's
    * token occurrences fold into a `groupBy(r, cell)` streaming aggregation
    * whose state is the sketch itself — ≤ d·w = 64 rows FOREVER, however
    * long the stream runs. That bounded-state property (vs the unbounded
    * per-key state of a naive streaming `groupBy(token)`) is exactly why a
    * 100 TB ingest keeps sketches, not exact counters, in its hot path.
    * The entry then runs the [[cmsVerdict]] tail against the STREAMED
    * sketch and shares [[cmsHeavySql]] as its oracle — so the hash gate
    * asserts end-state equality between the incrementally-merged partial
    * sketches and the one-shot batch build, in the real streaming engine
    * (not a spec-side simulation).
    */
  def streamCmsHeavy(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.TextAnalysis.polyHashExpr
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val nDocs = docs.count()
    // the sketch's whole state is ≤ d·w cells FOREVER — partitions beyond
    // that are per-trigger commit overhead at any corpus size (StateSizing)
    val sketch = PacedReplay.drain(docs, Seq("doc_id"), nDocs,
        "graft_stream_cms_sketch", "complete",
        Some(StateSizing.statePartitions(spark, nDocs,
          stateRowsBound = CmsA.size.toLong * CmsW))) {
      _.selectExpr("explode(split(text, ' ')) AS w")
        .selectExpr(s"${polyHashExpr("w")} AS ph")
        .selectExpr(s"posexplode(array($cmsCellArrExpr)) AS (r, cell)")
        .groupBy("r", "cell").agg(count(lit(1)).as("cellsum"))
    }
    cmsVerdict(cmsTokenCounts(docs), sketch)
  }

  val cmsHeavySql: String = {
    import graft.pipeline.TextAnalysis.{polyHashSql, FpMod}
    val rowSelects = CmsA.indices.map(i =>
      s"SELECT w, cnt, $i AS r, ((ph * ${CmsA(i)} + ${CmsB(i)}) % $FpMod) % $CmsW AS cell FROM h"
    ).mkString("\n  UNION ALL ")
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |tc AS (SELECT w, count(*)::BIGINT AS cnt FROM tok GROUP BY w),
       |h AS (SELECT w, cnt, ${polyHashSql("w")} AS ph FROM tc),
       |cells AS (
       |  $rowSelects),
       |sketch AS (SELECT r, cell, sum(cnt)::BIGINT AS cellsum
       |           FROM cells GROUP BY 1, 2),
       |cand AS (SELECT w, cnt FROM tc ORDER BY cnt DESC, w LIMIT $CmsTopK),
       |est AS (SELECT c.w, min(s.cellsum) AS cms_est
       |        FROM cells c JOIN cand USING (w) JOIN sketch s USING (r, cell)
       |        GROUP BY c.w)
       |SELECT cand.w AS token, cand.cnt AS exact_cnt, est.cms_est,
       |       est.cms_est - cand.cnt AS cms_over,
       |       est.cms_est >= cand.cnt AS lower_bound_ok
       |FROM cand JOIN est ON cand.w = est.w
       |ORDER BY exact_cnt DESC, token""".stripMargin
  }

  // ---------------------------------------------------------------- KMV

  /** Sketch size: k minimum hash values kept per scope. With k = 32 the
    * standard error is ≈ 1/√(k−2) ≈ 18%; the emitted gate allows 50%.
    * Deliberately BELOW sf0.01's ~150 distinct users so the estimation
    * path is live at the driver's gate scale, while sf0.001 (~15 users)
    * exercises the exact small-cardinality path — both regimes under the
    * same hash oracle.
    */
  val KmvK = 32
  /** Hash domain (the Knuth-mix modulus): estimates scale against it. */
  val KmvP = 2147483647L

  /** K-minimum-values distinct sketch (Bar-Yossef et al. 2002) — the
    * third mergeable summary (HLL answers "how many distinct", CMS "how
    * often each"; KMV adds SET ALGEBRA over the sketches, which HLL
    * cannot intersect). Deterministic by construction: the "random" hash
    * is the Knuth multiplicative mix of user_id, so both engines keep the
    * same k minima and the estimate `(k−1)·M / h_k` is exact integer
    * arithmetic — a sketch the hash oracle can check VALUE-FOR-VALUE, not
    * just within tolerance. Scopes: one sketch per event_type, plus the
    * `all` row built by MERGING the per-type sketches (re-rank of
    * ≤ types·k kept hashes — the 100 TB shape, where partial sketches
    * merge without rescanning the data). Each row carries the exact
    * distinct count and an error-gate boolean, so an estimator regression
    * breaks the hash.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val hashes = ev.selectExpr("event_type",
        s"((user_id % $KmvP) * 2654435761) % $KmvP AS h")
      .distinct()
    val kept = hashes.withColumn("hrk", expr(
        "row_number() OVER (PARTITION BY event_type ORDER BY h)"))
      .where(s"hrk <= $KmvK")
    val perType = kept.groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"), max("h").as("h_k"))
      .join(ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact")), "event_type")
      .selectExpr("event_type AS scope", "n_exact", "n_kept", "h_k")
    val merged = kept.select("h").distinct()
      .withColumn("hrk", expr("row_number() OVER (ORDER BY h)"))
      .where(s"hrk <= $KmvK")
      .agg(count(lit(1)).as("n_kept"), max("h").as("h_k"))
      .crossJoin(ev.agg(countDistinct("user_id").as("n_exact")))
      .selectExpr("'all' AS scope", "n_exact", "n_kept", "h_k")
    kmvVerdict(perType.union(merged))
  }

  val kmvDistinctSql: String =
    s"""WITH hashes AS (
       |  SELECT DISTINCT event_type,
       |         ((user_id % $KmvP) * 2654435761) % $KmvP AS h FROM events),
       |kept AS (
       |  SELECT event_type, h FROM (
       |    SELECT event_type, h,
       |           row_number() OVER (PARTITION BY event_type ORDER BY h) AS hrk
       |    FROM hashes)
       |  WHERE hrk <= $KmvK),
       |per_type AS (
       |  SELECT k.event_type AS scope, x.n_exact,
       |         k.n_kept, k.h_k
       |  FROM (SELECT event_type, count(*)::BIGINT AS n_kept,
       |               max(h)::BIGINT AS h_k FROM kept GROUP BY 1) k
       |  JOIN (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
       |        FROM events GROUP BY 1) x USING (event_type)),
       |merged AS (
       |  SELECT 'all' AS scope,
       |         (SELECT count(DISTINCT user_id)::BIGINT FROM events) AS n_exact,
       |         count(*)::BIGINT AS n_kept, max(h)::BIGINT AS h_k
       |  FROM (SELECT h FROM (
       |          SELECT h, row_number() OVER (ORDER BY h) AS hrk
       |          FROM (SELECT DISTINCT h FROM kept))
       |        WHERE hrk <= $KmvK)),
       |u AS (SELECT * FROM per_type UNION ALL SELECT * FROM merged),
       |e AS (SELECT scope, n_exact, n_kept, h_k,
       |             CASE WHEN n_kept < $KmvK THEN n_kept
       |                  ELSE (${(KmvK - 1) * KmvP} // h_k) END AS est
       |      FROM u)
       |SELECT scope, n_exact, n_kept, h_k, est,
       |       abs(est - n_exact) * 2 <= n_exact AS est_ok
       |FROM e ORDER BY scope""".stripMargin

  /** The est/est_ok presentation tail shared by the batch and streaming
    * KMV entries — both must emit the identical surface for the shared
    * oracle.
    */
  private def kmvVerdict(u: DataFrame): DataFrame =
    u.selectExpr("scope", "n_exact", "n_kept", "h_k",
        s"CASE WHEN n_kept < $KmvK THEN n_kept " +
          s"ELSE (${(KmvK - 1) * KmvP} div h_k) END AS est")
      .selectExpr("scope", "n_exact", "n_kept", "h_k", "est",
        "abs(est - n_exact) * 2 <= n_exact AS est_ok")
      .orderBy("scope")

  /** Streaming twin of [[kmvDistinct]]: events replayed as 4 micro-batch
    * chunks, the sketch maintained as LIVE streaming state through the
    * [[KmvAgg]] typed aggregator in complete mode — per-group state is
    * the ≤ k sorted minima themselves (the whole point of a sketch in an
    * ingest hot path: the state store holds ≤ |scopes|·k longs forever,
    * where an exact distinct would grow with users). The memory-sink end
    * state is then dressed with the same exact-count yardsticks and
    * gates; the entry SHARES the batch oracle, so the hash asserts
    * streamed end-state == one-shot build (the [[streamCmsHeavy]]
    * contract).
    */
  def streamKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    KmvAgg.register(spark)
    val ev = Tables.load(spark, dir, "events")
      .selectExpr("event_id", "event_type", "user_id")
    val nEv = ev.count()
    // state = one ≤k-minima sketch per scope; partitions from the input
    // scale, not the session constant (StateSizing)
    val sk = PacedReplay.drain(ev, Seq("event_id"), nEv,
        "graft_stream_kmv_sketch", "complete",
        Some(StateSizing.statePartitions(spark, nEv))) {
      _.selectExpr("event_type",
          s"((user_id % $KmvP) * 2654435761) % $KmvP AS h")
        .groupBy("event_type").agg(expr("graft_kmv(h)").as("mins"))
    }
    val perType = sk
      .selectExpr("event_type", "CAST(size(mins) AS BIGINT) AS n_kept",
        "element_at(mins, -1) AS h_k")
      .join(ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact")), "event_type")
      .selectExpr("event_type AS scope", "n_exact", "n_kept", "h_k")
    val merged = sk.selectExpr("explode(mins) AS h")
      .agg(expr("graft_kmv(h)").as("mins"))
      .selectExpr("CAST(size(mins) AS BIGINT) AS n_kept",
        "element_at(mins, -1) AS h_k")
      .crossJoin(ev.agg(countDistinct("user_id").as("n_exact")))
      .selectExpr("'all' AS scope", "n_exact", "n_kept", "h_k")
    kmvVerdict(perType.union(merged))
  }

  // ------------------------------------------------------------ QSKETCH

  /** Sub-buckets per power-of-two octave. Bucket width is 2^e / S inside
    * octave [2^e, 2^{e+1}), so the midpoint representative is within
    * 1/(2·S) ≈ 3.1% relative error of ANY value in its bucket — the
    * DDSketch/HdrHistogram guarantee, here with the log-free exponent
    * `length(bin(v)) - 1` (exact integer in both engines; `floor(log2)`
    * through libm is last-ulp-unstable at powers of two).
    */
  val QsS = 16L

  /** Bucket id of a positive BIGINT column `c`: octave = bit-length − 1,
    * then the linear sub-bucket within the octave. Pure integer ops.
    */
  private def qsBucketExpr(c: String): String =
    s"(CAST(length(bin($c)) - 1 AS BIGINT) * $QsS" +
      s" + ($c * $QsS) div shiftleft(CAST(1 AS BIGINT), length(bin($c)) - 1) - $QsS)"

  /** Midpoint representative of bucket id `b` (integer cents). */
  private def qsEstExpr(b: String): String =
    s"(shiftleft(CAST(1 AS BIGINT), CAST($b div $QsS AS INT))" +
      s" + ((2 * ($b % $QsS) + 1) * shiftleft(CAST(1 AS BIGINT), CAST($b div $QsS AS INT))) div ${2 * QsS})"

  /** Quantiles emitted per group, as integer percents. */
  val QsPcts = Seq(50L, 90L, 99L)

  /** lineitem prices as exact integer cents — `floor(x·100 + 0.5)` is the
    * same IEEE multiply/add/floor in both engines (a plain CAST truncates
    * in Spark but rounds in DuckDB; `round()` half-behavior also differs).
    */
  private[graft] def qsCents(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .selectExpr("l_returnflag AS rf", "l_orderkey", "l_linenumber",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c")

  /** The bounded log-bucket histogram — the sketch itself: ≤ 64·S rows per
    * group whatever the corpus size, mergeable by bucket-wise sum across
    * any data split (spec-proven on the real builder).
    */
  private[graft] def qsHist(cents: DataFrame): DataFrame =
    cents.selectExpr("rf", s"${qsBucketExpr("c")} AS b")
      .groupBy("rf", "b").agg(count(lit(1)).as("cnt"))

  /** Shared verdict tail: answer p50/p90/p99 from whichever histogram is
    * supplied (batch-built or streamed state), yardsticked against the
    * EXACT quantile computed over the value-distinct cumulative table
    * (group-by-value + a window over distinct values — never a per-row
    * rank; the x_percentiles lesson), with the structural relative-error
    * gate `|est − exact|·2S ≤ exact + 2S` hash-checked per row.
    */
  private def qsVerdict(cents: DataFrame, hist: DataFrame): DataFrame = {
    val targets = cents.groupBy("rf").agg(count(lit(1)).as("n"))
      .selectExpr("rf", "n", s"explode(array(${QsPcts.map(p => s"${p}L").mkString(", ")})) AS qpct")
      .selectExpr("rf", "n", "qpct", "(qpct * n + 99) div 100 AS rn")
    val nb = hist.groupBy("rf").agg(count(lit(1)).as("n_buckets"))
    val cum = hist.withColumn("cum", expr(
      "sum(cnt) OVER (PARTITION BY rf ORDER BY b)"))
    val est = cum.join(broadcast(targets), "rf").where("cum >= rn")
      .groupBy("rf", "qpct", "n").agg(min("b").as("b"))
      .selectExpr("rf", "qpct", "n", s"${qsEstExpr("b")} AS est_c")
    val vcum = cents.groupBy("rf", "c").agg(count(lit(1)).as("vcnt"))
      .withColumn("cum", expr("sum(vcnt) OVER (PARTITION BY rf ORDER BY c)"))
    val exact = vcum.join(broadcast(targets), "rf").where("cum >= rn")
      .groupBy("rf", "qpct").agg(min("c").as("exact_c"))
    est.join(exact, Seq("rf", "qpct")).join(broadcast(nb), "rf")
      .selectExpr("rf", "qpct", "n", "n_buckets", "exact_c", "est_c",
        s"abs(est_c - exact_c) * ${2 * QsS} <= exact_c + ${2 * QsS} AS rel_ok")
      .orderBy("rf", "qpct")
  }

  /** Log-bucketed quantile sketch (DDSketch, Masson et al. VLDB 2019 /
    * HdrHistogram) over lineitem prices — the FOURTH mergeable summary:
    * HLL answers "how many distinct", CMS "how often each", KMV adds set
    * algebra; the quantile sketch answers "what is p99" in bounded space,
    * the summary every latency/size dashboard over 100 TB actually wants.
    * Deterministic by construction (integer bucket arithmetic), so the
    * oracle checks bucket estimates VALUE-for-value and the relative-error
    * guarantee rides as a hash-gated boolean per quantile. Plan shape: one
    * map-side-combined histogram agg is the only corpus-sized shuffle;
    * everything downstream is bucket- or value-distinct-scale.
    */
  def qsketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cents = qsCents(spark, dir)
    qsVerdict(cents, qsHist(cents))
  }

  val qsketchSql: String = {
    val pctRows = QsPcts.map(p => s"($p)").mkString(",")
    s"""WITH src AS (SELECT l_returnflag AS rf,
       |                    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
       |             FROM lineitem),
       |bk AS (SELECT rf,
       |              (length(bin(c)) - 1)::BIGINT * $QsS
       |               + (c * $QsS) // (1::BIGINT << (length(bin(c)) - 1)) - $QsS AS b
       |       FROM src),
       |hist AS (SELECT rf, b, count(*)::BIGINT AS cnt FROM bk GROUP BY 1, 2),
       |nb AS (SELECT rf, count(*)::BIGINT AS n_buckets FROM hist GROUP BY 1),
       |t AS (SELECT rf, n, qpct::BIGINT AS qpct, (qpct * n + 99) // 100 AS rn
       |      FROM (SELECT rf, count(*)::BIGINT AS n FROM src GROUP BY 1)
       |      CROSS JOIN (VALUES $pctRows) AS q(qpct)),
       |cum AS (SELECT rf, b, sum(cnt) OVER (PARTITION BY rf ORDER BY b) AS cum
       |        FROM hist),
       |sel AS (SELECT t.rf, t.qpct, t.n, min(c.b) AS b
       |        FROM t JOIN cum c ON c.rf = t.rf AND c.cum >= t.rn
       |        GROUP BY 1, 2, 3),
       |est AS (SELECT rf, qpct, n,
       |               (1::BIGINT << (b // $QsS))
       |                + ((2 * (b % $QsS) + 1) * (1::BIGINT << (b // $QsS))) // ${2 * QsS} AS est_c
       |        FROM sel),
       |vcum AS (SELECT rf, c, sum(vcnt) OVER (PARTITION BY rf ORDER BY c) AS cum
       |         FROM (SELECT rf, c, count(*)::BIGINT AS vcnt FROM src GROUP BY 1, 2)),
       |ex AS (SELECT t.rf, t.qpct, min(v.c) AS exact_c
       |       FROM t JOIN vcum v ON v.rf = t.rf AND v.cum >= t.rn
       |       GROUP BY 1, 2)
       |SELECT e.rf, e.qpct, e.n, nb.n_buckets, ex.exact_c, e.est_c,
       |       abs(e.est_c - ex.exact_c) * ${2 * QsS} <= ex.exact_c + ${2 * QsS} AS rel_ok
       |FROM est e
       |JOIN ex ON e.rf = ex.rf AND e.qpct = ex.qpct
       |JOIN nb ON e.rf = nb.rf
       |ORDER BY e.rf, e.qpct""".stripMargin
  }

  /** The SAME log-bucket histogram maintained as LIVE streaming state:
    * lineitem replays as 4 micro-batch chunks and each batch folds into a
    * `groupBy(rf, b)` streaming aggregation whose state IS the sketch —
    * ≤ groups·64·S rows forever (vs the unbounded per-value state an exact
    * streaming quantile would need). The verdict tail then answers the
    * quantiles from the STREAMED histogram and shares [[qsketchSql]], so
    * the hash gate asserts streamed end-state == one-shot build (the
    * [[streamCmsHeavy]] contract).
    */
  def streamQsketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    // (r17: widening + localCheckpoint of `cents` was tried and REVERTED —
    // the 600k-row eager materialization cost more than the re-scans it
    // saved: 5.5-6.3 s -> 6.5-7.3 s at sf0.1)
    val cents = qsCents(spark, dir)
    val nCents = cents.count()
    // state ≤ |l_returnflag ∈ {A,N,R}| · 64·S bucket rows by construction
    // (TPC-H domain × the 64-octave × S sub-bucket grid) — partitions
    // beyond that are per-trigger commit overhead at any scale
    val hist = PacedReplay.drain(cents, Seq("l_orderkey", "l_linenumber"),
        nCents, "graft_stream_qsketch_hist", "complete",
        Some(StateSizing.statePartitions(spark, nCents,
          stateRowsBound = 3L * 64L * QsS))) {
      _.selectExpr("rf", s"${qsBucketExpr("c")} AS b")
        .groupBy("rf", "b").agg(count(lit(1)).as("cnt"))
    }
    // the verdict tail uses the histogram TWICE (cum + n_buckets): the
    // drained rows are a local relation, which self-joins cleanly
    qsVerdict(cents, hist)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_qsketch_quantiles" -> qsketchQuantiles,
    "stream_qsketch_quantiles" -> streamQsketchQuantiles,
    "x_kmv_distinct" -> kmvDistinct,
    "stream_kmv_distinct" -> streamKmvDistinct,
    "x_sketch_stats" -> approxStats,
    "x_bounds_agg" -> boundsAgg,
    "x_hll_rollup" -> hllRollup,
    "x_cms_heavy" -> cmsHeavy,
    "stream_cms_heavy" -> streamCmsHeavy)

  val oracles: Map[String, String] = Map(
    "x_qsketch_quantiles" -> qsketchSql,
    // streamed histogram end state must equal the batch build — shared
    "stream_qsketch_quantiles" -> qsketchSql,
    "x_kmv_distinct" -> kmvDistinctSql,
    // streamed KMV end state must equal the batch build — shared oracle
    "stream_kmv_distinct" -> kmvDistinctSql,
    "x_sketch_stats" -> approxStatsSql,
    "x_bounds_agg" -> boundsAggSql,
    "x_hll_rollup" -> hllRollupSql,
    // streamed sketch must equal the batch build — same oracle by design
    "x_cms_heavy" -> cmsHeavySql,
    "stream_cms_heavy" -> cmsHeavySql)
}

/** Typed `Aggregator` for a per-QID (min, max) interval — SURVEY §4.2's
  * optional convenience: the FADS bounding box as a first-class reusable
  * aggregate (`BoundsAgg.toColumn` / registered UDAF), with a partial-
  * combinable buffer (map-side merge like any built-in agg).
  */
object BoundsAgg extends Aggregator[Double, (Double, Double), (Double, Double)] {
  def zero: (Double, Double) = (Double.PositiveInfinity, Double.NegativeInfinity)
  def reduce(b: (Double, Double), v: Double): (Double, Double) =
    (math.min(b._1, v), math.max(b._2, v))
  def merge(a: (Double, Double), b: (Double, Double)): (Double, Double) =
    (math.min(a._1, b._1), math.max(a._2, b._2))
  def finish(b: (Double, Double)): (Double, Double) = b
  def bufferEncoder: Encoder[(Double, Double)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
  def outputEncoder: Encoder[(Double, Double)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)

  /** Register as `graft_bounds(col)` for SQL use. */
  def register(spark: SparkSession): Unit =
    spark.udf.register("graft_bounds", org.apache.spark.sql.functions.udaf(this))
}

/** Typed `Aggregator` keeping the k smallest DISTINCT hash values — the
  * KMV sketch as a first-class combinable aggregate (map-side partial
  * merge like any built-in agg; registered as `graft_kmv`). The buffer is
  * a sorted Vector capped at [[Sketches.KmvK]], so streaming state built
  * from it is bounded whatever the cardinality.
  */
object KmvAgg extends Aggregator[Long, Seq[Long], Seq[Long]] {
  private def insert(b: Seq[Long], h: Long): Seq[Long] =
    if (b.contains(h) ||
      (b.size >= Sketches.KmvK && h >= b.last)) b
    else {
      val nb = (b :+ h).sorted
      if (nb.size > Sketches.KmvK) nb.take(Sketches.KmvK) else nb
    }
  def zero: Seq[Long] = Vector.empty
  def reduce(b: Seq[Long], h: Long): Seq[Long] = insert(b, h)
  def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = b.foldLeft(a)(insert)
  def finish(b: Seq[Long]): Seq[Long] = b
  def bufferEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()

  /** Register as `graft_kmv(col)` for SQL use. */
  def register(spark: SparkSession): Unit =
    spark.udf.register("graft_kmv", org.apache.spark.sql.functions.udaf(this))
}
