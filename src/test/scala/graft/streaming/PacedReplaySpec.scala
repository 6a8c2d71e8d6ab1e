package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables}

/** End-to-end reference-pipeline parity (SURVEY.md §2.1 wiring): paced source
  * (O1) → FADS generalizer (O6) → memory sink (O7), with throughput history
  * (O5) recorded by the listener.
  */
class PacedReplaySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = FadsStream.configure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()

  test("paced replay drives the full pipeline and records throughput") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")

    val stageDir = Files.createTempDirectory("paced-stage").toString
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile = 100, stageDir)

    val listener = ThroughputHistory.attach(spark)
    val stream = PacedReplay.stream(spark, stageDir, events.schema, filesPerTrigger = 5)
    val ckpt = Files.createTempDirectory("paced-ckpt").toString
    val q = FadsStream.anonymize(stream.as[Event], SparkEntry.eventsFadsConfig)
      .writeStream.format("memory").queryName("paced_gen").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(PacedReplay.trigger(0))
      .start()
    try q.processAllAvailable() finally q.stop()

    val n = spark.table("paced_gen").count()
    // un-drained tail stays in the buffer (<= bufferConstraint + 1)
    assert(n >= 1000 - (SparkEntry.eventsFadsConfig.bufferConstraint + 1))
    assert(listener.totalRows == 1000, "listener saw every source row")
    assert(listener.history.nonEmpty, "throughput history recorded")
    spark.streams.removeListener(listener)
  }

  test("staged chunks replay in chunk order under concurrent writers") {
    val chunks = 40
    val stageDir = Files.createTempDirectory("order-stage").toString
    // four writer tasks finish their chunk files in any order; AQE would
    // otherwise coalesce this tiny input into a single writer
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try PacedReplay.stage(spark.range(0, 2 * chunks).selectExpr("id AS i"),
      Seq("i"), rowsPerFile = 2, stageDir)
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")

    val root = new org.apache.hadoop.fs.Path(stageDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(root, "__chunk=*/*.parquet"))
      .sortBy(_.getPath.toString)
    assert(files.length == chunks, "one file per chunk")
    val mtimes = files.map(_.getModificationTime).toSeq
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"chunk mtimes must strictly increase in chunk order: $mtimes")

    val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Long)]()
    val q = PacedReplay.stream(spark, stageDir, new org.apache.spark.sql.types.StructType()
        .add("i", "long"), filesPerTrigger = 1)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val r = df.agg(org.apache.spark.sql.functions.min("i"),
          org.apache.spark.sql.functions.max("i")).head()
        batches.add((id, r.getLong(0), r.getLong(1)))
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("order-ckpt").toString)
      .trigger(PacedReplay.trigger(0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = batches.toArray(Array.empty[(Long, Long, Long)]).sortBy(_._1).toSeq
    assert(got == (0 until chunks).map(c => (c.toLong, 2L * c, 2L * c + 1)),
      "one chunk per trigger, admitted in chunk order")
  }

  test("runFor enforces the reference's wall-clock runtime bound") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
    val stageDir = Files.createTempDirectory("runfor-stage").toString
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile = 100, stageDir)
    val ckpt = Files.createTempDirectory("runfor-ckpt").toString
    // one file per 10 s trigger: 10 files cannot finish inside the bound
    val q = PacedReplay.stream(spark, stageDir, events.schema, filesPerTrigger = 1)
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(PacedReplay.trigger(10000))
      .start()
    val finished = PacedReplay.runFor(q, runtimeMs = 3000)
    assert(!finished, "bound elapsed before the stream could finish")
    assert(!q.isActive, "query stopped at the runtime bound")
  }
}
