package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream INTERVAL join — the conversion-attribution shape: each
  * click joined to the same user's purchases within the next `maxLag`.
  * Another stream-processor capability absent in the reference (which has
  * no joins at all, SURVEY.md §2.2) provided as first-class surface.
  *
  * The SAME join runs batch (driver-checked against DuckDB) and streaming
  * (StreamJoinSpec): in streaming, BOTH sides carry watermarks and the join
  * condition is time-bounded in both directions, so Spark derives state
  * eviction for each side — click state older than the watermark minus
  * maxLag is dropped, purchase state at the watermark. That bounded-state
  * derivation is exactly what keeps a 1000-executor stream-stream join's
  * state finite at 100 TB/day; an unconstrained join condition would grow
  * state forever.
  */
object StreamJoin {

  val MaxLag = "6 hours"

  /** The join core, batch or streaming: sides must expose
    * (c_user, click_id, c_ts) / (p_user, purchase_id, p_ts).
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
        expr(s"c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL $MaxLag"))
      .select(
        col("c_user").as("user_id"),
        col("click_id"), col("purchase_id"),
        ((unix_micros(col("p_ts")) - unix_micros(col("c_ts"))) / lit(1000000L))
          .cast("long").as("lag_s"))

  /** Batch sides from `events` (ts nanos → timestamp, see Windows.tsCol). */
  def sides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = graft.Tables.load(spark, dir, "events")
      .withColumn("event_ts", Windows.tsCol("ts"))
    val clicks = e.where("event_type = 'click'")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_ts").as("c_ts"))
    val purchases = e.where("event_type = 'purchase'")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_ts").as("p_ts"))
    (clicks, purchases)
  }

  /** Driver entry: batch form of the interval join. One hash shuffle per
    * side on user_id, the range predicate evaluated join-local — never a
    * cross product (the equi key carries the join).
    */
  def intervalJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = sides(spark, dir)
    clickToPurchase(clicks, purchases).orderBy("click_id", "purchase_id")
  }

  /** LEFT OUTER core: matched pairs plus NULL-padded unmatched clicks. */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
        expr(s"c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL $MaxLag"),
        "left_outer")
      .select(
        col("c_user").as("user_id"),
        col("click_id"), col("purchase_id"),
        ((unix_micros(col("p_ts")) - unix_micros(col("c_ts"))) / lit(1000000L))
          .cast("long").as("lag_s"))

  /** Stream-stream LEFT OUTER interval join, driver-checked END-TO-END as
    * a real streaming query: the inner join ([[intervalJoinQuery]]) only
    * ever emits on a match, but the outer form must ALSO emit each
    * unmatched click exactly once, NULL-padded — and may only do so once
    * the watermark proves no future purchase can still match (here:
    * wm > c_ts + [[MaxLag]]). That deferred emission is driven by state
    * eviction, which is exactly the mechanism that bounds both sides'
    * state at 100 TB/day; this entry puts it under the hash oracle.
    *
    * Determinism: events replay in EVENT-TIME ORDER ([[PacedReplay.stage]]
    * sorted by (ts, event_id), 4+1 chunks), so nothing is ever late and
    * the final multiset is exactly the batch LEFT JOIN the DuckDB oracle
    * computes — emission TIMING depends on watermark folding (the 2-batch
    * lag pinned in [[LateData]]), but append-mode outer-join CONTENT does
    * not, which is why this entry needs no watermark replica in SQL. One
    * far-future sentinel per side (same instant, so the strict p_ts > c_ts
    * bound keeps them from joining each other) advances both watermarks
    * past every real click's match horizon at drain, flushing all pending
    * NULL emissions before the query ends (the FadsStream drain-sentinel
    * pattern); AvailableNow's trailing no-data micro-batches perform the
    * final eviction.
    */
  def outerJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val chunks = 4
    val ev = graft.Tables.load(spark, dir, "events")
      .where("event_type IN ('click', 'purchase')")
      .selectExpr("event_id", "event_type", "user_id", "ts")
    val maxTsNanos = ev.agg(max("ts")).head().getLong(0)
    // final wm = sentinel − 2 h delay must clear max(c_ts) + 6 h MaxLag;
    // +2 h margin on top
    val sentinelTs = maxTsNanos + 10L * 3600L * 1000000000L
    val sentinels = spark.range(1).selectExpr(
      "CAST(-1 AS BIGINT) AS event_id", "'click' AS event_type",
      "CAST(-1 AS BIGINT) AS user_id", s"CAST(${sentinelTs}L AS BIGINT) AS ts")
      .unionByName(spark.range(1).selectExpr(
        "CAST(-2 AS BIGINT) AS event_id", "'purchase' AS event_type",
        "CAST(-2 AS BIGINT) AS user_id", s"CAST(${sentinelTs}L AS BIGINT) AS ts"))
    // chunks sized from the count before the sentinels are added (they
    // sort last, into the final chunk). Stream-stream joins keep FOUR state-store
    // instances per shuffle partition; at the session's 32 partitions that
    // is 128 RocksDB stores paying the per-trigger changelog-commit floor,
    // a write and rename through the checkpoint file manager (the
    // streamdiag finding) — measured 46 s for a 5-trigger query.
    // 4 partitions = 16 stores matches the data volume
    PacedReplay.drain(ev.unionByName(sentinels), Seq("ts", "event_id"),
        ev.count(), "graft_stream_outer_join", "append", Some(4)) { replay =>
      val src = replay.withColumn("event_ts", Windows.tsCol("ts"))
      val clicks = src.where("event_type = 'click'")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("event_ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val purchases = src.where("event_type = 'purchase'")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("event_ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      clickToPurchaseOuter(clicks, purchases)
    }.where("click_id >= 0") // drop the sentinel's own unmatched row
      .orderBy("click_id", "purchase_id")
  }

  /** Batch LEFT JOIN replica — content-equal to the streamed outer join
    * because the in-order replay makes no row late (scaladoc above).
    */
  val outerJoinSql: String =
    """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
      |       (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS lag_s
      |FROM (SELECT * FROM events WHERE event_type = 'click') a
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id
      | AND epoch_us(b.ts) > epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 21600000000
      |ORDER BY click_id, purchase_id""".stripMargin

  val intervalJoinSql: String =
    """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
      |       (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS lag_s
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'click' AND b.event_type = 'purchase'
      | AND epoch_us(b.ts) > epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 21600000000
      |ORDER BY click_id, purchase_id""".stripMargin
}
