package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}

/** Batch FADS surface: cardinality, containment, and the sharded scale-out
  * mode's per-shard independence; plus a golden-output drift guard at
  * sf0.001 (SURVEY §5.2: "golden outputs checked in").
  */
class FadsBatchSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("single-stream replay: cardinality and containment") {
    val in = Tables.load(spark, dir, "events").collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("user_id").toDouble, r.getAs[Double]("value"))).toMap
    val out = FadsReplays.replay(spark, dir, FadsReplays("q9_fads_replay")).collect()
    assert(out.length == in.size)
    out.foreach { r =>
      val (u, v) = in(r.getAs[Long]("event_id"))
      val us = r.getStruct(r.fieldIndex("user_id"))
      val vs = r.getStruct(r.fieldIndex("value"))
      assert(u >= us.getDouble(0) && u <= us.getDouble(1))
      assert(v >= vs.getDouble(0) && v <= vs.getDouble(1))
    }
  }

  test("sharded replay: cardinality preserved, intervals respect shard bounds") {
    val events = Tables.load(spark, dir, "events").collect()
    val out = FadsReplays.replay(spark, dir, FadsReplays("q9_fads_sharded")).collect()
    assert(out.length == events.length)
    // per-shard user_id bounds: every emitted interval must sit inside the
    // shard's own global bounds (state never leaks across shards)
    val shardBounds = events.groupBy(_.getAs[Long]("user_id") % 8).map { case (s, rs) =>
      s -> (rs.map(_.getAs[Long]("user_id")).min.toDouble,
            rs.map(_.getAs[Long]("user_id")).max.toDouble)
    }
    out.foreach { r =>
      val shard = r.getAs[Long]("shard")
      val (lo, hi) = shardBounds(shard)
      val us = r.getStruct(r.fieldIndex("user_id"))
      assert(us.getDouble(0) >= lo && us.getDouble(1) <= hi,
        s"shard $shard interval [${us.getDouble(0)}, ${us.getDouble(1)}] outside [$lo, $hi]")
    }
  }

  test("region sharding with global normalization keeps non-sharded QID quality") {
    // the round-1 gap: shard-local normalization over-weighted the compressed
    // value dimension, widening user_id intervals ~1.5x vs single-stream.
    // With fixed domain-bounds normalization the region-sharded replay must
    // stay within 1.2x of single-stream on the NON-sharded QID (it currently
    // BEATS single-stream) while keeping the sharded QID clearly tighter.
    val qdir = "/root/testdata/sf0.01"
    def widths(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val r = FadsBatch.flattenIntervals(df, Seq("user_id", "value"))
        .selectExpr("avg(value_hi - value_lo) AS vw", "avg(user_id_hi - user_id_lo) AS uw")
        .collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    val (svw, suw) = widths(FadsReplays.replay(spark, qdir, FadsReplays("q9_fads_replay")))
    val (rvw, ruw) = widths(FadsReplays.replay(spark, qdir, FadsReplays("q9_fads_region_sharded")))
    assert(rvw < svw, s"sharded QID not tighter: region $rvw vs single $svw")
    assert(ruw <= 1.2 * suw, s"non-sharded QID degraded: region $ruw vs single $suw")
  }

  test("golden output: sf0.001 replay matches the checked-in fingerprint") {
    // compact drift guard: row count + deterministic aggregate fingerprint of
    // the full output (any algorithm change flips it)
    val out = FadsReplays.replay(spark, dir, FadsReplays("q9_fads_replay"))
      .selectExpr("event_id", "user_id.lo AS ulo", "user_id.hi AS uhi",
        "value.lo AS vlo", "value.hi AS vhi", "CAST(suppressed AS INT) AS sup")
    val fp = out.selectExpr(
      "CAST(sum(hash(event_id, CAST(ulo AS DECIMAL(18,6)), CAST(uhi AS DECIMAL(18,6)), " +
        "CAST(vlo AS DECIMAL(18,6)), CAST(vhi AS DECIMAL(18,6)), sup)) AS BIGINT) AS fp",
      "count(*) AS n",
      "CAST(sum(sup) AS BIGINT) AS n_sup")
      .collect()(0)
    assert(fp.getAs[Long]("n") == 1000L)
    val golden = GoldenFingerprints.q9Sf0001
    assert((fp.getAs[Long]("fp"), fp.getAs[Long]("n_sup")) == golden,
      s"FADS output drifted: got (${fp.getAs[Long]("fp")}, ${fp.getAs[Long]("n_sup")}), " +
        s"expected $golden — if the change is intentional, update GoldenFingerprints")
  }
}

/** Checked-in golden values (regenerate via the assertion message). */
object GoldenFingerprints {
  val q9Sf0001: (Long, Long) = (-22386676873L, 40L)
}
