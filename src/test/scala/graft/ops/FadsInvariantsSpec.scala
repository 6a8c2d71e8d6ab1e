package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The driver-facing invariant gates ([[FadsInvariants]]) must themselves be
  * zero-violation on real data, and must actually FAIL when the engine's
  * guarantees are broken — a gate that can't turn red proves nothing, so the
  * second test feeds the checker a deliberately corrupted replay.
  */
class FadsInvariantsSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("per-type containment + cardinality match the input exactly") {
    val inCounts = graft.Tables.load(spark, dir, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = FadsInvariants.all("q9_inv_replay")(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSet == inCounts.keySet)
    rows.foreach { r =>
      assert(r.getLong(1) == inCounts(r.getString(0)), s"n_out for ${r.getString(0)}")
      assert(r.getLong(2) == 0L, s"contain_viol for ${r.getString(0)}")
    }
  }

  test("group-level invariant rows are all-zero / true on real data") {
    // hash-sharded is excluded here: at sf0.001 it legitimately suppresses
    // 100% (too few distinct PIDs per shard — see FadsInvariants scaladoc),
    // which is exactly why the driver gate is declared at sf0.01
    for (q <- Seq("q9_inv_kanon", "q9_inv_region", "q9_inv_refmode", "taxi_inv_replay")) {
      val r = graft.SparkEntry.queries(q)(spark, dir).head()
      assert(r.getLong(0) == 1000L, s"$q n_released")
      assert(r.getLong(1) == 0L, s"$q contain_viol")
      assert(r.getLong(2) == 0L, s"$q groups_lt_k")
      assert(r.getBoolean(3), s"$q supp_frac_ok")
    }
  }

  test("the gate turns red on a corrupted replay") {
    import org.apache.spark.sql.functions._
    val flat = FadsReplays.frame(spark, dir, FadsReplays("q9_fads_replay"),
      orig = true)
    // shrink every interval to a point below the original: containment breaks
    // on (nearly) every row, and every group's box collapses
    val corrupted = flat
      .withColumn("user_id_hi", col("user_id_lo"))
      .withColumn("value_hi", col("value_lo"))
    val r = FadsInvariants.invariantRow(
      corrupted, Seq("user_id", "value"), "orig_user_id",
      k = 10, usePids = true, suppFracBound = 0.5).head()
    assert(r.getLong(1) > 0L, "corrupted intervals must register containment violations")
  }
}
