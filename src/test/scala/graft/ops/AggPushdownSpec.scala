package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The load-bearing plan shape of `x_agg_pushdown`: under the scoped
  * confs the aggregate reaches the parquet footer (`PushedAggregation`
  * non-empty), a filter correctly disables it, results match the
  * unpushed path, and the confs never leak.
  */
class AggPushdownSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("COUNT/MIN/MAX push into the parquet scan; a filter disables it") {
    AggPushdown.withPushdownConfs(spark) {
      val pushed = AggPushdown.one(spark, dir, "lineitem", "l_extendedprice")
        .queryExecution.executedPlan.toString
      assert(pushed.contains(
        "PushedAggregation: [COUNT(*), MIN(l_extendedprice), MAX(l_extendedprice)]"),
        s"aggregate did not reach the footer:\n$pushed")
      val filtered = spark.read.parquet(s"$dir/lineitem.parquet")
        .where("l_quantity > 10")
        .agg(org.apache.spark.sql.functions.expr("count(*) AS n"))
        .queryExecution.executedPlan.toString
      assert(filtered.contains("PushedAggregation: []"),
        "a data filter must disable footer answering (rows, not stats)")
    }
  }

  test("pushed results equal the unpushed aggregate, and confs restore") {
    val before = spark.conf.getOption("spark.sql.sources.useV1SourceList")
    val rows = AggPushdown.query(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(spark.conf.getOption("spark.sql.sources.useV1SourceList") == before,
      "scoped confs must restore")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .agg(org.apache.spark.sql.functions.expr("count(*)"),
        org.apache.spark.sql.functions.expr("min(l_extendedprice)"),
        org.apache.spark.sql.functions.expr("max(l_extendedprice)"))
      .collect()(0)
    assert(rows(0) == (("lineitem", li.getLong(0), li.getDouble(1),
      li.getDouble(2))))
    assert(rows.length == 2 && rows(1)._1 == "orders")
  }
}
