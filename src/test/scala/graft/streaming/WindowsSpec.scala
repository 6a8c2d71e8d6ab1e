package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Watermarked event-time windowed aggregation: windows emit once the
  * watermark passes; too-late events are dropped (bounded state).
  */
class WindowsSpec extends AnyFunSuite with SparkSpec {

  private def ev(id: Long, hour: Long, minute: Long, typ: String, v: Double): Event =
    Event(id, (hour * 3600L + minute * 60L) * 1000000000L, id % 7, typ, v, "{}")

  test("tumbling windows with watermark drop too-late events") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val ckpt = graft.TempDirs.scoped("win-ckpt")
    val q = Windows.tumblingCounts(stream.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("win_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // hour 0: three events; hour 1: one event
      stream.addData(ev(1, 0, 5, "a", 1.0), ev(2, 0, 20, "a", 2.0), ev(3, 0, 40, "b", 3.0))
      q.processAllAvailable()
      // advance watermark beyond hour 0 + 30min lateness: hour-0 window closes
      stream.addData(ev(4, 2, 0, "a", 4.0))
      q.processAllAvailable()
      // too-late event for hour 0 — must be dropped, not re-opened
      stream.addData(ev(5, 0, 50, "a", 99.0))
      q.processAllAvailable()
      stream.addData(ev(6, 3, 30, "a", 5.0)) // push watermark further
      q.processAllAvailable()

      val out = spark.table("win_out").collect()
        .map(r => (r.getAs[Long]("win_start_ms") / 3600000L,
          r.getAs[String]("event_type"), r.getAs[Long]("n"),
          r.getAs[Double]("total_value"))).toSet
      assert(out.contains((0L, "a", 2L, 3.0)), s"hour-0 'a' window wrong: $out")
      assert(out.contains((0L, "b", 1L, 3.0)))
      assert(!out.exists { case (h, t, _, v) => h == 0 && t == "a" && v > 3.0 },
        "late event must not reopen the closed window")
    } finally q.stop()
  }

  test("streaming session windows merge within the gap and close via watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col, session_window, unix_millis}
    val stream = MemoryStream[Event]
    val ckpt = graft.TempDirs.scoped("sess-ckpt")
    val q = stream.toDF()
      .withColumn("event_ts", Windows.tsCol("ts"))
      .withWatermark("event_ts", "30 minutes")
      .groupBy(session_window(col("event_ts"), "30 minutes"), col("user_id"))
      .count()
      .select(
        unix_millis(col("session_window.start")).as("s"),
        unix_millis(col("session_window.end")).as("e"),
        col("user_id"), col("count"))
      .writeStream.format("memory").queryName("sess_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // user 1 (ids ≡ 1 mod 7): 10:00 and 10:10 merge (gap 30 min);
      // 10:50 starts a fresh session (10:40 close < 10:50)
      stream.addData(ev(1, 10, 0, "a", 1.0), ev(8, 10, 10, "a", 1.0), ev(15, 10, 50, "a", 1.0))
      q.processAllAvailable()
      // watermark pusher: hour 13 - 30 min lateness = 12:30 > all session ends
      stream.addData(ev(2, 13, 0, "b", 1.0))
      q.processAllAvailable()
      val got = spark.table("sess_out").collect()
        .map(r => (r.getAs[Long]("s") / 60000, r.getAs[Long]("e") / 60000,
          r.getAs[Long]("user_id"), r.getAs[Long]("count"))).toSet
      val h = 600L // 10:00 in minutes
      assert(got.contains((h, h + 40, 1L, 2L)), s"merged session wrong: $got")
      assert(got.contains((h + 50, h + 80, 1L, 1L)), s"fresh session wrong: $got")
    } finally q.stop()
  }

  test("streaming dedup keeps one row per key and evicts state past the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val ckpt = graft.TempDirs.scoped("dedup-ckpt")
    val q = StreamingDedup.dedupStream(stream.toDF(), "30 minutes",
        Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // duplicates inside the horizon: only the first survives
      // (ev derives user_id = id % 7, so ids 1 and 8 share (user 1, "a");
      // times start at hour 10 — epoch-0 events would sit exactly on the
      // initial watermark and be treated as expired)
      stream.addData(ev(1, 10, 0, "a", 1.0))
      q.processAllAvailable()
      stream.addData(ev(8, 10, 10, "a", 2.0), ev(3, 10, 15, "b", 3.0))
      q.processAllAvailable()
      val afterBurst = spark.table("dedup_out").collect()
        .map(_.getAs[Long]("event_id")).toSet
      assert(afterBurst == Set(1L, 3L),
        s"duplicate (user,type) within horizon must be dropped: $afterBurst")
      // advance the watermark far past the horizon: key state evicted,
      // the same key is admitted again (bounded-state contract)
      stream.addData(ev(4, 15, 0, "c", 4.0))
      q.processAllAvailable()
      stream.addData(ev(15, 14, 45, "a", 5.0)) // user 1 again, fresh epoch
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect()
        .map(_.getAs[Long]("event_id")).toSet
      assert(ids.contains(15L), s"recurrence after state eviction must re-emit: $ids")
    } finally q.stop()
  }
}
