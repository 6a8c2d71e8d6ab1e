package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

case class Ev(event_id: Long, user_id: Long, event_type: String, value: Double)

/** Streaming e2e for stream-static enrichment: events as a MemoryStream
  * joined per micro-batch to the static broadcast `nation` dim — the final
  * per-nation aggregate must equal the batch form over the same rows. The
  * static side holds no state and needs no watermark; complete output mode
  * re-emits the running aggregate.
  */
class StaticEnrichSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("stream-static broadcast enrich equals batch across micro-batches") {
    import spark.implicits._

    val nation = graft.Tables.load(spark, sfDir, "nation")
    val eventsDF = graft.Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "user_id", "event_type", "value")
    val rows = eventsDF.as[Ev].collect().sortBy(_.event_id)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val es = MemoryStream[Ev]
    val agg = StaticEnrich.enriched(es.toDF(), nation)
      .groupBy($"n_name".as("nation"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val ckpt = graft.TempDirs.scoped("se-ckpt")
    val query = agg.writeStream
      .format("memory").queryName("se").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 5)).foreach { chunk =>
        es.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("se").as[(String, Long)].collect().sorted
    val want = StaticEnrich.enriched(eventsDF, nation)
      .groupBy($"n_name".as("nation"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(String, Long)].collect().sorted

    assert(want.nonEmpty)
    assert(got.toSeq == want.toSeq)
  }
}
