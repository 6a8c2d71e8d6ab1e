package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec, Tables}

/** O7 sink parity: the foreachBatch partitioned-parquet writer produces a
  * partitioned layout with every released row.
  */
class SinksSpec extends AnyFunSuite with SparkSpec {

  test("foreachBatch partitioned parquet sink writes all rows, partitioned") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id)).take(300)

    val stream = MemoryStream[Event]
    val outDir = graft.TempDirs.scoped("sink-out")
    val ckpt = graft.TempDirs.scoped("sink-ckpt")
    val gen = FadsStream.anonymize(stream.toDS(), SparkEntry.eventsFadsConfig).toDF()
    val q = Sinks.partitionedParquet(gen, outDir, ckpt, Seq("suppressed")).start()
    try {
      stream.addData(input.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(Event(-1L, Long.MaxValue, 0L, "", 0.0, ""))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(outDir)
    assert(out.count() == input.length)
    assert(out.columns.contains("suppressed") && out.columns.contains("__batch_id"))
    // partition layout on disk: suppressed=... directories exist
    val dirs = new java.io.File(outDir).listFiles().map(_.getName).filter(_.startsWith("suppressed="))
    assert(dirs.nonEmpty)
  }
}
