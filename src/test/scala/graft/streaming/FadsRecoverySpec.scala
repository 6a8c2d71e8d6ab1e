package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, SparkEntry, SparkSpec, Tables}

/** Exactly-once streaming state: (1) sharded streams drain per key via
  * processing-time timers; (2) a query killed mid-stream resumes from its
  * checkpoint and produces the complete, correct output (the state snapshot
  * in RocksDB survives the restart), also when the checkpoint changes
  * hands between Spark's default checkpoint file manager and
  * [[LocalCheckpointFiles]] at the restart, in either direction.
  */
class FadsRecoverySpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def loadEvents(): Array[Event] = {
    import spark.implicits._
    Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))
  }

  test("sharded streaming drains every shard via per-key timers") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = loadEvents().take(400)
    val stream = MemoryStream[Event]
    val ckpt = graft.TempDirs.scoped("fads-shard-ckpt")
    // 4 shards; a single drain sentinel would reach only ITS key group —
    // the idle timer is the correct drain for sharded streams
    implicit val genEnc = org.apache.spark.sql.Encoders.product[GenEvent]
    val ds = stream.toDS()
      .groupByKey(e => e.user_id % 4)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(
        new FadsProcessor(SparkEntry.eventsFadsConfig, drainIdleMs = 500L),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
    val q = ds.writeStream.format("memory").queryName("gen_shard")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    try {
      stream.addData(input.toIndexedSeq)
      val deadline = System.currentTimeMillis() + 60000
      var n = spark.table("gen_shard").count()
      while (n < input.length && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        n = spark.table("gen_shard").count()
      }
      assert(n == input.length,
        s"every shard must drain: got $n of ${input.length}")
    } finally q.stop()
  }

  /** Runs one phase of a restarted stream under a checkpoint manager. */
  private type Manager = (=> Unit) => Unit

  private val installed: Manager = phase => phase

  /** Spark's own manager: the conf unset for the phase, restored after. */
  private val sparkDefault: Manager = phase =>
    Session.withConfs(spark, Map(LocalCheckpointFiles.ConfKey ->
        spark.conf.get(LocalCheckpointFiles.ConfKey))) {
      spark.conf.unset(LocalCheckpointFiles.ConfKey)
      phase
    }

  /** Hadoop's checksum sidecars under `dir`, which Spark's default manager
    * writes and [[LocalCheckpointFiles]] does not. RocksDB copies its SST
    * files into the checkpoint through Hadoop's file system, not the
    * checkpoint file manager, so their sidecars are left out.
    */
  private def sidecars(dir: String): Set[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".") && n.endsWith(".crc") && !n.endsWith(".sst.crc"))
      .toSet
    finally walk.close()
  }

  /** Stream the events in 10 files, stop the query mid-stream under
    * `first`, resume it from the same checkpoint under `second`, drain,
    * and check the output equals the single-run engine replay with every
    * row released once. Returns the checkpoint's sidecars after each
    * phase.
    */
  private def restartMatchesReplay(first: Manager,
      second: Manager): (Set[String], Set[String]) = {
    import spark.implicits._
    val input = loadEvents()
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")

    // replayable source: 10 ts-ordered chunk files (single-digit chunk ids
    // keep lexicographic discovery order == replay order)
    val stageDir = graft.TempDirs.scoped("fads-recover-stage")
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile = 100, stageDir)
    val ckpt = graft.TempDirs.scoped("fads-recover-ckpt")
    // the memory sink cannot recover from a checkpoint; the parquet file
    // sink is exactly-once across restarts (commit log in _spark_metadata)
    val outDir = graft.TempDirs.scoped("fads-recover-out")

    def startQuery() = FadsStream.anonymize(
        PacedReplay.stream(spark, stageDir, events.schema, filesPerTrigger = 1)
          .as[Event],
        SparkEntry.eventsFadsConfig)
      .writeStream.format("parquet").outputMode("append")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()

    def sunk(): Long =
      scala.util.Try(spark.read.parquet(outDir).count()).getOrElse(0L)

    // phase 1: kill the query mid-stream (after ~2 of 10 files)
    first {
      val q1 = startQuery()
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (sunk() < 150 && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        assert(sunk() >= 150, "phase 1 made progress")
      } finally q1.stop()
    }
    val phase1Count = sunk()
    assert(phase1Count < input.length, "stopped mid-stream")
    val afterFirst = sidecars(ckpt)

    // phase 2: SAME checkpoint + sink — resumes at the next uncommitted file
    // with the RocksDB state snapshot (buffer/bounds/clusters) restored
    second {
      val q2 = startQuery()
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (sunk() < input.length - 50 &&
            System.currentTimeMillis() < deadline) Thread.sleep(200)
        // all files consumed; append a sentinel chunk file to trigger the drain
        Seq(Event(-1L, Long.MaxValue, 0L, "", 0.0, "{}")).toDS()
          .withColumn("__chunk", org.apache.spark.sql.functions.lit("99999"))
          .write.mode("append").partitionBy("__chunk").parquet(stageDir)
        while (sunk() < input.length && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
      } finally q2.stop()
    }

    // exactly-once file sink: the combined output must EXACTLY equal the
    // single-run batch oracle — only possible if mid-stream state was
    // restored faithfully
    val got = spark.read.parquet(outDir).as[GenEvent].collect()
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
    assert(got.length == input.length, s"cardinality after drain: ${got.length}")
    assert(got.toSeq == want.toSeq,
      "restarted stream must produce exactly the single-run oracle output")
    (afterFirst, sidecars(ckpt))
  }

  test("restart from checkpoint resumes state and completes the stream") {
    val (first, second) = restartMatchesReplay(installed, installed)
    assert(first.isEmpty && second.isEmpty, s"no checksum sidecars: $second")
  }

  test("a checkpoint written by Spark's default manager resumes under LocalCheckpointFiles") {
    val (first, second) = restartMatchesReplay(sparkDefault, installed)
    assert(first.nonEmpty, "phase 1 ran Spark's default manager")
    assert(second.subsetOf(first), s"phase 2 wrote sidecars: ${second -- first}")
  }

  test("a LocalCheckpointFiles checkpoint resumes under Spark's default manager") {
    val (first, second) = restartMatchesReplay(installed, sparkDefault)
    assert(first.isEmpty, s"phase 1 wrote sidecars: $first")
    assert(second.nonEmpty, "phase 2 ran Spark's default manager")
  }

  test("upsert sink recovers a mid-swap crash through the orphan-promotion branch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = loadEvents()
    val path = graft.TempDirs.scoped("upsert-crash") + "/snap"
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def runBatch(events: Seq[Event]): Unit = {
      val src = MemoryStream[Event]
      val ckpt = graft.TempDirs.scoped("upsert-crash-ckpt")
      val q = Sinks.upsertParquet(src.toDS().toDF(), path, ckpt,
        keyCols = Seq("event_id"), versionCols = Seq("ts", "event_id")).start()
      try {
        src.addData(events.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }

    // batch 1 establishes the live snapshot
    runBatch(input.take(100).toSeq)
    assert(spark.read.parquet(path).count() == 100)

    // simulate the crash BETWEEN the two renames of a later batch's swap
    // (Sinks.upsertParquet): live was already moved aside to .old-B, the
    // complete .tmp-B (with _SUCCESS) never got promoted. The tmp snapshot
    // holds rows the .old does NOT — restoring .old instead of promoting
    // tmp, or ignoring both, loses them.
    val onlyInTmp = (0 until 10).map(i =>
      Event(1000000L + i, i.toLong, i.toLong, "tmp_only", 1.0, "{}"))
    (spark.read.parquet(path).as[Event].collect().toSeq ++ onlyInTmp).toDS()
      .write.parquet(s"$path.tmp-7")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path.tmp-7/_SUCCESS")))
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(s"$path.old-6")))
    assert(!fs.exists(live), "crash shape: live missing, tmp-7 complete, old-6 stale")

    // restart: the next micro-batch's recoverSwap must PROMOTE tmp-7 (the
    // highest complete tmp), not restore old-6, then merge the new rows
    runBatch(input.slice(100, 200).toSeq)

    val snap = spark.read.parquet(path).as[Event].collect()
    assert(snap.length == 210, s"no data loss through recovery: ${snap.length}")
    assert(snap.count(_.event_type == "tmp_only") == 10,
      "rows present only in the promoted tmp snapshot survived")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path.tmp-7")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$path.old-6")),
      "orphans cleaned up after promotion")
  }

  test("region-sharded stream restarted from checkpoint matches the batch twin") {
    // the round-7 exactly-once proof for the DRIVER-CHECKED pipeline: the
    // same cfg (globalNorm fixed bounds) + shard fn as
    // FadsStream.regionShardedQuery / stream_fads_region_sharded, killed
    // mid-stream, restarted from its checkpoint, then drained — the file
    // sink's combined output must EXACTLY equal the clean-run batch twin
    // (q9_fads_region_sharded's computation), which is only possible if the
    // 8 shards' RocksDB state (buffer/bounds/clusters/seq) restored
    // faithfully at the restart point.
    import spark.implicits._
    val input = loadEvents()
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")

    val stageDir = graft.TempDirs.scoped("fads-region-stage")
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile = 100, stageDir)
    val ckpt = graft.TempDirs.scoped("fads-region-ckpt")
    val outDir = graft.TempDirs.scoped("fads-region-out")
    val cfg = FadsStream.regionCfg(spark, sfDir)

    def startQuery() = FadsStream.anonymizeSharded(
        PacedReplay.stream(spark, stageDir, events.schema, filesPerTrigger = 1)
          .as[Event],
        cfg, FadsStream.regionShardOf)
      .writeStream.format("parquet").outputMode("append")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()

    def sunk(): Long =
      scala.util.Try(spark.read.parquet(outDir).count()).getOrElse(0L)

    // phase 1: kill mid-stream with buffered per-shard state outstanding
    val q1 = startQuery()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (sunk() < 150 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(sunk() >= 150, "phase 1 made progress")
    } finally q1.stop()
    assert(sunk() < input.length, "stopped mid-stream")

    // phase 2: restart from the SAME checkpoint; after all data files are
    // consumed, append one sentinel PER SHARD (routed by value) to drain
    val q2 = startQuery()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (sunk() < input.length - 8 * cfg.bufferConstraint &&
          System.currentTimeMillis() < deadline) Thread.sleep(200)
      (0 until 8).map(s => Event(-1L, Long.MaxValue, 0L, "", s * 64.0, "{}"))
        .toDS()
        .withColumn("__chunk", org.apache.spark.sql.functions.lit("99999"))
        .write.mode("append").partitionBy("__chunk").parquet(stageDir)
      while (sunk() < input.length && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally q2.stop()

    val got = spark.read.parquet(outDir).as[GenEvent].collect()
      .map(g => (g.event_id, g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi, g.suppressed))
      .sortBy(_._1)
    val want = graft.ops.FadsReplays.replay(spark, sfDir,
      graft.ops.FadsReplays("q9_fads_region_sharded")).collect().map { r =>
      val u = r.getStruct(r.fieldIndex("user_id"))
      val v = r.getStruct(r.fieldIndex("value"))
      (r.getLong(r.fieldIndex("event_id")),
        u.getDouble(0), u.getDouble(1), v.getDouble(0), v.getDouble(1),
        r.getBoolean(r.fieldIndex("suppressed")))
    }.sortBy(_._1)
    assert(got.length == input.length, s"cardinality after drain: ${got.length}")
    assert(got.toSeq == want.toSeq,
      "restarted region-sharded stream must equal the batch twin exactly")
  }
}
