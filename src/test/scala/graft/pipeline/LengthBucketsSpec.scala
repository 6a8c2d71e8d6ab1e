package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Exact batch-assembly algebra on hand-built length sets, and the
  * load-bearing claim on the committed entry: bucketed batching wastes
  * strictly less padding than arrival-order batching.
  */
class LengthBucketsSpec extends AnyFunSuite with SparkSpec {

  test("bucket ranking and batch maxima follow the exact algebra") {
    import spark.implicits._
    // bucket width 64: lengths 10,20 -> bucket 0; 100,130 -> bucket 1/2?
    // 100 DIV 64 = 1, 130 DIV 64 = 2; batch size 8 keeps each bucket to
    // one batch, so pad = bucket max - len
    val out = LengthBuckets.assemble(Seq(
        (0L, 10L), (1L, 100L), (2L, 20L), (3L, 130L))
      .toDF("doc_id", "ws_tokens")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(5), r.getLong(8))))
      .toMap
    // buckets: 0 -> {10, 20}, 1 -> {100}, 2 -> {130}
    assert(out(0L) == ((0L, 10L, 120L))) // bucket max 20; naive max 130
    assert(out(2L) == ((0L, 0L, 110L)))
    assert(out(1L) == ((1L, 0L, 30L)))
    assert(out(3L) == ((2L, 0L, 0L)))
  }

  test("entry: bucketed padding waste is strictly below naive") {
    val rows = LengthBuckets.query(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 500)
    val bucketed = rows.map(_.getLong(5)).sum
    val naive = rows.map(_.getLong(8)).sum
    assert(bucketed < naive,
      s"bucketing must reduce padding: bucketed $bucketed vs naive $naive")
    assert(bucketed >= 0 && rows.exists(_.getLong(5) > 0),
      "some residual padding must remain (honest accounting)")
  }
}
