package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Semantic invariants for the aggregate families. */
class AggFamiliesSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("string_agg: roster is sorted and n matches its cardinality") {
    val rows = AggFamilies.stringAgg(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val roster = r.getAs[String]("roster").split('|').toSeq
      assert(roster.length == r.getAs[Long]("n"))
      assert(roster == roster.sorted)
    }
  }

  test("setops all: multiplicities are min / positive-difference of per-key counts") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.load(spark, dir, "lineitem")
    val heavy = li.where("l_quantity > 25").groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("ch"))
    val ret = li.where("l_returnflag = 'R'").groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("cr"))
    val expected = heavy.join(ret, Seq("k"), "full_outer")
      .selectExpr("k", "coalesce(ch, 0L) AS ch", "coalesce(cr, 0L) AS cr")
      .selectExpr("k", "least(ch, cr) AS n_both",
        "greatest(ch - cr, 0L) AS n_only_heavy")
      .where("n_both > 0 OR n_only_heavy > 0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val got = AggFamilies.setOpsAll(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == expected.toSeq)
  }

  test("percentiles: monotone and drawn from the data") {
    val prices = graft.Tables.load(spark, dir, "lineitem")
      .select("l_extendedprice").collect().map(_.getDouble(0)).toSet
    AggFamilies.percentiles(spark, dir).collect().foreach { r =>
      val ps = Seq("p25", "p50", "p75", "p95").map(r.getAs[Double])
      assert(ps == ps.sorted)
      ps.foreach(p => assert(prices.contains(p), s"$p not an actual data value"))
    }
  }

  test("contiguousBy: bucketed per-group rank equals the plain keyed window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // unique (orderkey, linenumber) tie-break makes both ranks deterministic
    val li = graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("v"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    val got = Ids.contiguousBy(li, Seq("rf"), Seq("v", "ok", "ln"),
      idCol = "rk")
    val want = li.withColumn("rk0", row_number().over(
      Window.partitionBy("rf").orderBy("v", "ok", "ln")).cast("long") - 1)
    val mismatches = got.join(want, Seq("rf", "v", "ok", "ln"))
      .where("rk <> rk0").count()
    assert(mismatches == 0, "bucketed rank must equal the single-window rank")
    // ranks are dense 0..n-1 within every group
    val dense = got.groupBy("rf").agg(min("rk").as("lo"), max("rk").as("hi"),
      count(lit(1)).as("n"), countDistinct("rk").as("d")).collect()
    dense.foreach { r =>
      assert(r.getAs[Long]("lo") == 0L)
      assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1)
      assert(r.getAs[Long]("d") == r.getAs[Long]("n"))
    }
  }

  test("moment stats: integer-moment variance tracks var_samp on cents") {
    import org.apache.spark.sql.functions._
    val native = graft.Tables.load(spark, dir, "lineitem")
      .selectExpr("l_returnflag AS rf",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents")
      .groupBy("rf").agg(var_samp(col("cents")).as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    AggFamilies.momentStats(spark, dir).collect().foreach { r =>
      val v = r.getAs[Double]("var_cents2")
      val want = native(r.getAs[String]("rf"))
      assert(math.abs(v - want) <= 1e-9 * math.abs(want))
    }
  }

  test("equidepth bins: exhaustive, balanced, value-ordered") {
    val rows = ExtendedQueries.equidepthBins(spark, dir).collect()
      .sortBy(_.getAs[Long]("bin"))
    val n = graft.Tables.load(spark, dir, "events").count()
    assert(rows.map(_.getAs[Long]("bin")).toSeq ==
      (0L until ExtendedQueries.DepthBins.toLong))
    assert(rows.map(_.getAs[Long]("n_rows")).sum == n) // every row binned once
    // equal frequency: rank arithmetic bounds bin-size spread by 1
    val sizes = rows.map(_.getAs[Long]("n_rows"))
    assert(sizes.max - sizes.min <= 1, s"sizes=${sizes.toSeq}")
    // bins partition the value axis in order: ranges never overlap
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("max_v_u") <= b.getAs[Long]("min_v_u"))
    }
  }
}
