package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

case class Click(c_user: Long, click_id: Long, c_ts: Timestamp)
case class Purchase(p_user: Long, purchase_id: Long, p_ts: Timestamp)

/** Streaming e2e for the stream-stream interval join: both sides as
  * watermarked MemoryStreams, inner join with the time-range condition,
  * delivered across several micro-batches — result must equal the batch
  * form over the same rows (StreamJoin.clickToPurchase is the shared core).
  */
class StreamJoinSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("stream-stream interval join equals batch, multi-batch, watermarked") {
    import spark.implicits._

    val (clicksDF, purchasesDF) = StreamJoin.sides(spark, sfDir)
    val clicks = clicksDF.as[Click].collect().sortBy(_.click_id)
    val purchases = purchasesDF.as[Purchase].collect().sortBy(_.purchase_id)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cs = MemoryStream[Click]
    val ps = MemoryStream[Purchase]
    val joined = StreamJoin.clickToPurchase(
      cs.toDF().withWatermark("c_ts", "1 hour"),
      ps.toDF().withWatermark("p_ts", "1 hour"))
    val ckpt = graft.TempDirs.scoped("sj-ckpt")
    val query = joined.writeStream
      .format("memory").queryName("sj").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // feed both sides in several interleaved chunks (event-time ordered,
      // so the watermark advances and state actually evicts)
      val cChunks = clicks.grouped(math.max(1, clicks.length / 4)).toSeq
      val pChunks = purchases.grouped(math.max(1, purchases.length / 4)).toSeq
      cChunks.zipAll(pChunks, Array.empty[Click], Array.empty[Purchase]).foreach {
        case (cc, pc) =>
          if (cc.nonEmpty) cs.addData(cc.toIndexedSeq)
          if (pc.nonEmpty) ps.addData(pc.toIndexedSeq)
          query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("sj")
      .selectExpr("user_id", "click_id", "purchase_id", "lag_s")
      .as[(Long, Long, Long, Long)].collect().sorted
    val want = StreamJoin.clickToPurchase(clicksDF, purchasesDF)
      .as[(Long, Long, Long, Long)].collect().sorted

    assert(want.nonEmpty, "fixture produced no joined rows — widen MaxLag")
    assert(got.toSeq == want.toSeq)
  }

  test("streamed LEFT OUTER join equals the batch outer form, both legs live") {
    val got = StreamJoin.outerJoinQuery(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
    val (clicksDF, purchasesDF) = StreamJoin.sides(spark, sfDir)
    val want = StreamJoin.clickToPurchaseOuter(clicksDF, purchasesDF).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
    assert(got == want, "streamed outer join must equal the batch outer join")
    assert(got.exists(_._3 == -1L),
      "NULL-padded unmatched clicks must be live (the outer emission path)")
    assert(got.exists(_._3 >= 0L), "matched pairs must be live")
  }
}
