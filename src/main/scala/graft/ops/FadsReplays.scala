package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import graft.fads.Fads

/** The table of bounded FADS replay variants. Each row describes one way the
  * operator reaches Spark — its input, QID/PID/order/clock columns, engine
  * config (quirks included), optional shard key, normalization and raw
  * columns — and three things are generated from it:
  *
  *  - the replay entries ([[entries]], keys `q9_fads_*`/`taxi_fads_replay`),
  *  - the invariant gates over the same replays ([[FadsInvariants.all]]),
  *  - the recursive-CTE oracles ([[FadsOracle.oracles]]).
  *
  * A sharded row is the keyed-state model of Flink's state management: one
  * operator, an independent FADS state per shard value. Every value the
  * Spark replay and the DuckDB oracle must compute alike — the clock and the
  * shard key — is stated once as a [[Twin]], so the two sides cannot drift.
  */
object FadsReplays {

  /** One value stated on both sides: the Spark column the replay computes
    * and the DuckDB expression over the oracle's `src` rows.
    */
  final case class Twin(spark: Column, sql: String)

  /** A replay input: how Spark loads it, the DuckDB CTE that rebuilds it,
    * and its payload columns in order. `doubles` are read as they are in
    * DuckDB (every other QID or raw column is cast to DOUBLE); `tsCols`
    * are LONG epoch-nanos in Spark but TIMESTAMP(NANOS) in the parquet
    * DuckDB reads, which it sees only at microsecond precision, so both
    * sides report them as `<c>_us` micros.
    */
  final case class Input(
      load: (SparkSession, String) => DataFrame,
      cte: String,
      cols: Seq[String],
      doubles: Set[String] = Set.empty,
      tsCols: Seq[String] = Nil)

  /** How an invariant gate summarises its variant's replay
    * ([[FadsInvariants]] holds the three summaries).
    */
  sealed trait Summary
  /** Per-`event_type` output counts and containment violations. */
  case object PerType extends Summary
  /** One-row containment / k-anonymity / suppression summary. */
  case object Groups extends Summary
  /** [[Groups]], with the suppression bound capacity-aware per shard. */
  case object ShardCapacity extends Summary

  final case class Variant(
      key: String,
      input: Input,
      qidCols: Seq[String],
      pidCol: String,
      orderCols: Seq[String],
      clock: Twin,
      cfg: Fads.Config,
      shard: Option[Twin] = None,
      globalNorm: Boolean = false,
      rawCols: Seq[String] = Nil,
      gates: Seq[(String, Summary)] = Nil)

  val events: Input = Input((s, d) => Tables.load(s, d, "events"),
    "SELECT * FROM events",
    Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    doubles = Set("value"), tsCols = Seq("ts"))

  /** The reference-format rides of [[graft.sources.TaxiRideSource]]; the
    * CTE repeats `TaxiRideSource.parseQuerySql`'s integer arithmetic
    * (already oracle-green through `taxi_parse`).
    */
  val rides: Input = Input(graft.sources.TaxiRideSource.syntheticRides,
    """SELECT event_id AS rideId,
      |       1000 + user_id AS taxiId,
      |       2000 + user_id AS driverId,
      |       (event_id % 2 = 0) AS isStart,
      |       (epoch_ms(ts) // 1000) * 1000 AS startTime,
      |       (epoch_ms(ts) // 1000 + event_id % 3600) * 1000 AS endTime,
      |       CASE WHEN event_id % 7 = 0 THEN 0.0
      |            ELSE ((user_id % 90)::VARCHAR || '.' || lpad((event_id % 1000)::VARCHAR, 3, '0'))::DOUBLE END AS startLon,
      |       CASE WHEN event_id % 11 = 0 THEN 0.0
      |            ELSE ((user_id % 60)::VARCHAR || '.' || lpad((user_id % 1000)::VARCHAR, 3, '0'))::DOUBLE END AS startLat,
      |       ((event_id % 90)::VARCHAR || '.' || lpad((user_id % 500)::VARCHAR, 3, '0'))::DOUBLE AS endLon,
      |       CASE WHEN event_id % 13 = 0 THEN 0.0
      |            ELSE ((event_id % 60)::VARCHAR || '.' || lpad((event_id % 500)::VARCHAR, 3, '0'))::DOUBLE END AS endLat,
      |       (1 + event_id % 6)::SMALLINT AS passengerCnt
      |FROM events""".stripMargin,
    Seq("rideId", "taxiId", "driverId", "isStart", "startTime", "endTime",
      "startLon", "startLat", "endLon", "endLat", "passengerCnt"))

  /** 8 identity-hash shards on user_id (DuckDB's `%` equals `pmod` on the
    * non-negative ids).
    */
  val hashShard: Twin = Twin(pmod(col("user_id"), lit(8)), "src.user_id % 8")

  /** value ∈ [0, ~500): 8 fixed-width regions of the QID space. The
    * streaming twin is [[graft.streaming.FadsStream.regionShardOf]].
    */
  val regionShard: Twin = Twin(least(floor(col("value") / 64.0), lit(7L)),
    "least(floor(src.value / 64.0), 7)::BIGINT")

  /** An `events` row: QIDs {user_id, value}, PID user_id, replayed in
    * (ts, event_id) order on the event-time clock.
    */
  private def eventsVariant(key: String, gates: Seq[(String, Summary)],
      cfg: Fads.Config = SparkEntry.eventsFadsConfig,
      shard: Option[Twin] = None, globalNorm: Boolean = false,
      rawCols: Seq[String] = Nil): Variant =
    Variant(key, events, Seq("user_id", "value"), "user_id",
      Seq("ts", "event_id"),
      Twin(Tables.tsNanosToMillis("ts"), "epoch_ns(src.ts) // 1000000"),
      cfg, shard, globalNorm, rawCols, gates)

  private def refCfg(raw: Boolean): Fads.Config =
    SparkEntry.eventsFadsConfig.copy(quirks = Fads.Quirks(
      referenceDistance = true, rawFieldDistance = raw, uniquePid = false))

  val variants: Seq[Variant] = Seq(
    // the reference's single stream context
    eventsVariant("q9_fads_replay",
      Seq("q9_inv_replay" -> PerType, "q9_inv_kanon" -> Groups)),
    // the 100 TB shape: one shuffle, per-shard sequential state. At sf0.001
    // no shard holds k distinct PIDs, hence the capacity-aware gate
    eventsVariant("q9_fads_sharded", Seq("q9_inv_sharded" -> ShardCapacity),
      shard = Some(hashShard)),
    // clusters form among numerically close tuples, so the sharded QID's
    // intervals come out far tighter; globalNorm keeps the other QIDs at
    // single-stream width (shard-local bounds over-weighted the compressed
    // value dimension: 647 vs 435 avg user_id width without it)
    eventsVariant("q9_fads_region_sharded", Seq("q9_inv_region" -> Groups),
      shard = Some(regionShard), globalNorm = true),
    // reference parity, quirks Q2 (distance precedence) + Q4 (PID filter
    // off, so its gate counts rows, not distinct PIDs); Q3 stays off here
    eventsVariant("q9_fads_replay_refmode", Seq("q9_inv_refmode" -> Groups),
      cfg = refCfg(raw = false)),
    // full parity, Q2 + Q3 + Q4: the :355 raw-field-index bug reads the
    // tuple's leading raw fields (event_id, ts-nanos) in the kNN distance
    // while bounds, containment and loss stay QID-based
    eventsVariant("q9_fads_replay_refmode_raw",
      Seq("q9_inv_refmode_raw" -> Groups), cfg = refCfg(raw = true),
      rawCols = Seq("event_id", "ts")),
    // THE reference pipeline end-to-end with the job's exact config and
    // QIDs (TransactionGeneralizationJob.java:66-71); clock = startTime.
    // rideId is QID and PID, generalized away: only the orig_* carry lets
    // its gate check containment
    Variant("taxi_fads_replay", rides, Seq("rideId", "taxiId", "endTime"),
      "rideId", Seq("startTime", "rideId"),
      Twin(col("startTime"), "src.startTime"),
      Fads.Config(k = 10, bufferConstraint = 30, reuseTtlMs = 60000L, nQid = 3),
      gates = Seq("taxi_inv_replay" -> Groups)))

  private val byKey: Map[String, Variant] = variants.map(v => v.key -> v).toMap

  def apply(key: String): Variant = byKey(key)

  /** Every gate with the variant it runs: (gate key, variant, summary). */
  val gates: Seq[(String, Variant, Summary)] =
    for (v <- variants; (g, s) <- v.gates) yield (g, v, s)

  /** The variant's replay over the tables under `dir`: each QID becomes a
    * `struct(lo, hi)` interval, a sharded variant keeps its `shard` column,
    * and with `orig` each QID is first copied into an `orig_<q>` payload
    * column for the gates' containment check (payload is opaque to the
    * engine, so the copy cannot influence the replay).
    */
  def replay(spark: SparkSession, dir: String, v: Variant,
      orig: Boolean = false): DataFrame = {
    val in = v.input.load(spark, dir)
    val withOrig =
      if (orig) v.qidCols.foldLeft(in)((d, q) => d.withColumn(s"orig_$q", col(q)))
      else in
    val sharded = v.shard.fold(withOrig)(s => withOrig.withColumn("shard", s.spark))
    FadsBatch.anonymize(sharded, v.qidCols, v.pidCol, v.orderCols,
      v.clock.spark, v.cfg, v.shard.map(_ => "shard"), v.globalNorm, v.rawCols)
  }

  /** The reporting surface of [[replay]]: flat `q_lo`/`q_hi` doubles (the
    * GenEvent shape; pandas cannot hash structs) and timestamps as `<c>_us`.
    */
  def frame(spark: SparkSession, dir: String, v: Variant,
      orig: Boolean = false): DataFrame =
    v.input.tsCols.foldLeft(
      FadsBatch.flattenIntervals(replay(spark, dir, v, orig), v.qidCols)) {
      (d, c) => d.withColumn(s"${c}_us", Tables.tsNanosToMicros(c)).drop(c)
    }

  val entries: Map[String, (SparkSession, String) => DataFrame] =
    variants.map(v =>
      v.key -> ((s: SparkSession, d: String) => frame(s, d, v))).toMap
}
