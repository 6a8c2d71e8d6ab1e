package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec, Tables}

/** Streaming e2e (SURVEY.md §5.2): replay `events` sf0.001 through the
  * transformWithState operator in several micro-batches (exercising state
  * snapshot/restore across batches) and assert exact equality with the batch
  * replay — including the final drain.
  */
class FadsStreamSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming FADS equals batch replay, multi-batch, with drain") {
    import spark.implicits._

    val input = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val ckpt = graft.TempDirs.scoped("fads-ckpt")
    val query = FadsStream.anonymize(stream.toDS(), SparkEntry.eventsFadsConfig)
      .writeStream.format("memory").queryName("gen").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.grouped(250).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      // drain sentinel = reference Generalizer.close() flush
      stream.addData(Event(-1L, Long.MaxValue, 0L, "", 0.0, ""))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("gen").as[GenEvent].collect()
      .map(g => (g.event_id, g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi, g.suppressed))
      .sortBy(_._1)

    val want = graft.ops.FadsReplays.replay(spark, sfDir,
      graft.ops.FadsReplays("q9_fads_replay")).collect().map { r =>
      val u = r.getStruct(r.fieldIndex("user_id"))
      val v = r.getStruct(r.fieldIndex("value"))
      (r.getLong(r.fieldIndex("event_id")),
        u.getDouble(0), u.getDouble(1), v.getDouble(0), v.getDouble(1),
        r.getBoolean(r.fieldIndex("suppressed")))
    }.sortBy(_._1)

    assert(got.length == input.length, "cardinality: one output per input after drain")
    assert(got.toSeq == want.toSeq, "streaming output must equal the batch oracle exactly")
  }

  test("region-sharded streaming with fixed bounds equals batch globalNorm replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))
    // fixed domain bounds, as a batch pre-pass would compute them
    val uLo = input.map(_.user_id.toDouble).min; val uHi = input.map(_.user_id.toDouble).max
    val vLo = input.map(_.value).min; val vHi = input.map(_.value).max
    val cfg = SparkEntry.eventsFadsConfig.copy(
      fixedLo = Some(Array(uLo, vLo)), fixedHi = Some(Array(uHi, vHi)))
    def region(v: Double): Long = math.min((v / 128.0).floor.toLong, 3L)

    val stream = MemoryStream[Event]
    val ckpt = graft.TempDirs.scoped("fads-shard-ckpt")
    val query = FadsStream.anonymizeSharded(stream.toDS(), cfg,
        shardOf = e => if (e.event_id < 0) e.user_id else region(e.value))
      .writeStream.format("memory").queryName("gen_shard").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.grouped(250).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      // one drain sentinel per shard (routed by user_id when event_id < 0)
      (0L until 4L).foreach(s =>
        stream.addData(Event(-1L, Long.MaxValue, s, "", 0.0, "")))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("gen_shard").as[GenEvent].collect()
      .map(g => (g.event_id, g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi, g.suppressed))
      .sortBy(_._1)

    val events = Tables.load(spark, sfDir, "events")
      .withColumn("shard", org.apache.spark.sql.functions.expr(
        "least(CAST(floor(value / 128.0) AS BIGINT), 3L)"))
    val want = graft.ops.FadsBatch.anonymize(events,
        Seq("user_id", "value"), "user_id", Seq("ts", "event_id"),
        Tables.tsNanosToMillis("ts"), SparkEntry.eventsFadsConfig,
        shardCol = Some("shard"), globalNorm = true)
      .collect().map { r =>
        val u = r.getStruct(r.fieldIndex("user_id"))
        val v = r.getStruct(r.fieldIndex("value"))
        (r.getLong(r.fieldIndex("event_id")),
          u.getDouble(0), u.getDouble(1), v.getDouble(0), v.getDouble(1),
          r.getBoolean(r.fieldIndex("suppressed")))
      }.sortBy(_._1)

    assert(got.length == input.length, "cardinality after per-shard drains")
    assert(got.toSeq == want.toSeq,
      "sharded streaming with fixed bounds must equal the batch globalNorm replay")
  }

  test("driver entry stream_fads_region_sharded equals the batch q9 twin") {
    val got = FadsStream.regionShardedQuery(spark, sfDir)
      .selectExpr("event_id", "user_id_lo", "user_id_hi", "value_lo",
        "value_hi", "suppressed")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val want = SparkEntry.queries("q9_fads_region_sharded")(spark, sfDir)
      .selectExpr("event_id", "user_id_lo", "user_id_hi", "value_lo",
        "value_hi", "suppressed")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(got.length == want.length)
    assert(got.toSeq == want.toSeq,
      "the streaming driver entry must replay identically to the batch entry")
  }

  test("idle-timer drain flushes the buffer without a sentinel") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id)).take(100)

    val stream = MemoryStream[Event]
    val ckpt = graft.TempDirs.scoped("fads-timer-ckpt")
    val query = FadsStream.anonymize(stream.toDS(), SparkEntry.eventsFadsConfig,
        drainIdleMs = 500L)
      .writeStream.format("memory").queryName("gen_timer").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    try {
      stream.addData(input.toIndexedSeq)
      // NOTE: processAllAvailable() never returns in TimeMode.ProcessingTime
      // (every trigger counts as pending timer work) — poll the sink instead.
      // Flow: rows process, then after drainIdleMs of idleness the timer
      // expires and handleExpiredTimer flushes the buffered tail.
      val deadline = System.currentTimeMillis() + 60000
      var n = spark.table("gen_timer").count()
      while (n < input.length && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        n = spark.table("gen_timer").count()
      }
      assert(n == input.length, s"timer drain incomplete: $n of ${input.length}")
    } finally query.stop()
  }

  test("per-trigger memory contract: boundedSorted sorts within the cap and fails fast past it") {
    def ev(id: Long, ts: Long) = Event(id, ts, id, "t", 0.0, "")
    // unordered input within the cap → (ts, event_id) order out
    val in = Seq(ev(3, 30), ev(1, 10), ev(4, 10), ev(2, 20))
    val sorted = FadsProcessor.boundedSorted(in.iterator, cap = 4)
    assert(sorted.map(_.event_id).toSeq == Seq(1, 4, 2, 3))
    // one row past the cap → fail fast with the sizing hint, never OOM
    val big = (1 to 1001).iterator.map(i => ev(i.toLong, i.toLong))
    val e = intercept[IllegalStateException] {
      FadsProcessor.boundedSorted(big, cap = 1000)
    }
    assert(e.getMessage.contains("maxBatchRows"))
  }
}
