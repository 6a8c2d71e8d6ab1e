package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermark LATE-DATA semantics, driver-checked end-to-end: events are
  * deliberately replayed OUT OF EVENT-TIME ORDER (chunk = event_id mod 4,
  * one chunk per micro-batch — each chunk spans the whole month, so every
  * batch after the first carries mostly data far older than the watermark)
  * through a REAL watermarked tumbling aggregation in append mode. Spark
  * drops a row when its window end has passed the watermark — the
  * finalized-window contract that bounds state at 100 TB — and this entry
  * puts exactly that drop rule under the hash oracle: the DuckDB replica
  * recomputes per-chunk event-time maxima, derives the same
  * `max(previous batches) − delay` watermark sequence (in MILLISECONDS —
  * Spark's EventTimeStats tracks ms, not µs), applies the identical
  * `window_end > watermark` survival predicate, and aggregates the
  * survivors. A Spark that dropped too much, too little, or at the wrong
  * boundary hash-mismatches.
  *
  * Determinism notes: chunk membership is a pure function of event_id;
  * [[PacedReplay.stage]]'s zero-padded file names pin the batch ORDER;
  * watermark per batch is a global max (partition-order-free); and a
  * far-future sentinel row in its own final chunk advances the watermark
  * past every real window so append mode FLUSHES them all before the
  * query ends (the FadsStream drain-sentinel pattern) — the sentinel's
  * own window is excluded from the output surface.
  */
object LateData {

  val Chunks = 4
  val HourUs = 3600000000L
  val DelayMs = 7200000L // 2 hours allowed lateness

  def lateDataQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
      .selectExpr("event_id", "event_type", "ts",
        s"pmod(event_id, $Chunks) AS replay_ord")
    val maxTsNanos = ev.agg(max("ts")).head().getLong(0)
    val sentinelTs = maxTsNanos + (DelayMs * 1000L + 2 * HourUs) * 1000L
    val sentinel = spark.range(1).selectExpr(
      "CAST(-1 AS BIGINT) AS event_id",
      "'zz_sentinel' AS event_type",
      s"CAST(${sentinelTs}L AS BIGINT) AS ts",
      s"CAST($Chunks AS BIGINT) AS replay_ord")
    val nEv = ev.count()
    // chunks sized from the count before the sentinel is added (the
    // sentinel sorts last, into the final chunk); state partitions from the
    // replayed row count, not the session constant (per-trigger
    // per-partition state commits — StateSizing)
    PacedReplay.drain(ev.unionByName(sentinel), Seq("replay_ord", "event_id"),
        nEv, "graft_stream_late", "append",
        Some(StateSizing.statePartitions(spark, nEv))) {
      _.withColumn("event_ts", Windows.tsCol("ts"))
        .withWatermark("event_ts", "2 hours")
        .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(
          unix_millis(col("window.start")).as("win_start_ms"),
          unix_millis(col("window.end")).as("win_end_ms"),
          col("event_type"), col("n"))
    }.where("event_type <> 'zz_sentinel'")
      .orderBy("win_start_ms", "event_type")
  }

  /** The watermark machine replayed in SQL: per-chunk ms maxima → running
    * max − delay → the same strict `window_end > wm` survival predicate →
    * tumbling counts of the survivors.
    *
    * The lag is TWO batches, not one — measured, not assumed: the
    * watermark a batch filters with lives in its OffsetSeqMetadata, which
    * is fixed when the batch is CONSTRUCTED, before the previous batch's
    * event-time stats are folded into the tracker — so batch b drops
    * against `max(event time through batch b−2) − delay`. A 1-batch model
    * mismatched 249 of Spark's 477 surviving windows at sf0.001; the
    * 2-batch model matches all of them exactly. If a Spark upgrade
    * tightens the lag, this entry fails loudly — by design.
    */
  val lateDataSql: String =
    s"""WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
       |                  event_id % $Chunks AS c FROM events),
       |m AS (SELECT c, max(ts_us // 1000) AS mxms FROM e GROUP BY 1),
       |w AS (SELECT c, max(mxms) OVER (ORDER BY c
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
       |             - $DelayMs AS wm_ms
       |      FROM m),
       |surv AS (SELECT e.event_type,
       |                (ts_us // $HourUs) * 3600000 AS win_start_ms,
       |                ((ts_us // $HourUs) + 1) * 3600000 AS win_end_ms
       |         FROM e JOIN w USING (c)
       |         WHERE w.wm_ms IS NULL
       |            OR ((ts_us // $HourUs) + 1) * 3600000 > w.wm_ms)
       |SELECT win_start_ms, win_end_ms, event_type, count(*)::BIGINT AS n
       |FROM surv GROUP BY 1, 2, 3
       |ORDER BY win_start_ms, event_type""".stripMargin
}
