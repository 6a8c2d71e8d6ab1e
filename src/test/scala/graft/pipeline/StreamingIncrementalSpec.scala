package graft.pipeline

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Streaming twin of the incremental-dedup probe: incoming docs fed as a
  * real stream across several micro-batches, the persisted MinHash index as
  * the static join side. Must (a) equal the batch core row-for-row and
  * (b) run STATELESS — no watermark, no state store — which is the property
  * the per-row signature construction buys.
  */
class StreamingIncrementalSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streamed probe equals the batch core and keeps no state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val indexPath = Dedup.ensureMinhashIndex(spark, dir)
    val idx = spark.read.parquet(indexPath)
    val incoming = graft.Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
      .select("doc_id", "text")

    val want = Dedup.streamProbeBands(incoming, idx).collect()
      .map(_.toSeq).sortBy(_.toString)

    val rows = incoming.as[(Long, String)].collect()
    val src = MemoryStream[(Long, String)]
    val q = Dedup.streamProbeBands(
        src.toDS().toDF("doc_id", "text"), idx)
      .writeStream.format("memory").queryName("inc_probe")
      .outputMode("append")
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(q.lastProgress.stateOperators.isEmpty,
        "the probe must be stateless (no watermark, no state store)")
    } finally q.stop()

    val got = spark.table("inc_probe").collect()
      .map(_.toSeq).sortBy(_.toString)
    spark.catalog.dropTempView("inc_probe")
    assert(got.length == want.length,
      s"cardinality: streaming ${got.length} vs batch ${want.length}")
    assert(got.toSeq == want.toSeq, "streaming output must equal batch")
  }
}
