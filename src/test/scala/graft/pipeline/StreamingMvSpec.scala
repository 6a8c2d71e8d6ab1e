package graft.pipeline

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Streaming twin of the incremental materialized view: documents arrive
  * as a REAL micro-batched stream, each batch folded into the persisted
  * rollup by the same [[CorpusOps.mergeMvDelta]] body a production
  * `foreachBatch` maintenance runs, with the batchId as the upsert
  * version. End state must equal the one-shot rollup over everything
  * streamed — across batch boundaries, so a key updated by three
  * different micro-batches proves the additive merge, not just the write.
  */
class StreamingMvSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("micro-batched maintenance converges to the one-shot rollup") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars")
    val rows = docs.as[(Long, String, String, Long)].collect()

    val work = graft.TempDirs.scoped("stream-mv") + "/view"
    val src = MemoryStream[(Long, String, String, Long)]
    val q = src.toDS().toDF("doc_id", "source", "lang", "n_chars")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        CorpusOps.mergeMvDelta(batch.sparkSession, work, batch, ver = id)
      }
      .option("checkpointLocation", graft.TempDirs.scoped("stream-mv-ckpt"))
      .start()
    try {
      // 3 micro-batches split mid-source so most keys are touched by
      // MULTIPLE batches — the additive path, not a single write
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()

    val got = spark.read.parquet(work)
      .select("source", "lang", "n_docs", "sum_chars")
      .orderBy("source", "lang").collect().map(_.toSeq)
    val want = docs.groupBy("source", "lang")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum("n_chars").as("sum_chars"))
      .orderBy("source", "lang").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      "streamed maintenance must converge to the one-shot rollup")
  }
}
