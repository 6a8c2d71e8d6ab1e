package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The bloom pre-filter's structural guarantees: no false negatives (the
  * pruned set is a superset of the exact semi-join survivors), real pruning
  * (non-members are mostly rejected), and end-result equality with the
  * plain semi join.
  */
class BloomJoinSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("bloom prefilter admits every member and prunes most non-members") {
    graft.Tables.registerAll(spark, sfDir)
    val bloomHits = spark.sql(
      s"""SELECT o_orderkey, o_custkey FROM orders
         |WHERE graft_might_contain(
         |        (SELECT graft_bloom_agg(xxhash64(c_custkey),
         |                ${BloomJoin.EstItems}L, ${BloomJoin.NumBits}L)
         |         FROM customer WHERE c_mktsegment = '${BloomJoin.Segment}'),
         |        xxhash64(o_custkey))""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    val exact = spark.sql(
      s"""SELECT o_orderkey FROM orders
         |WHERE o_custkey IN (SELECT c_custkey FROM customer
         |                    WHERE c_mktsegment = '${BloomJoin.Segment}')""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    val nOrders = spark.sql("SELECT count(*) FROM orders").head.getLong(0)

    // no false negatives: every true member passes the bloom
    assert(exact.subsetOf(bloomHits))
    // real pruning: the bloom admits far fewer than all orders (at ~9.6
    // bits/key the fp rate is ~1%, so hits ≈ members + 1% of the rest)
    assert(bloomHits.size < exact.size + (nOrders - exact.size) / 10 + 10)
  }

  test("bloom-pruned aggregate equals the plain semi-join aggregate") {
    val got = BloomJoin.bloomSemiJoin(spark, sfDir).collect().map(_.toSeq).toSeq
    graft.Tables.registerAll(spark, sfDir)
    val want = spark.sql(
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         |       CAST(month(o_orderdate) AS BIGINT) AS mth,
         |       count(*) AS n_orders,
         |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
         |FROM orders
         |WHERE o_custkey IN (SELECT c_custkey FROM customer
         |                    WHERE c_mktsegment = '${BloomJoin.Segment}')
         |GROUP BY 1, 2 ORDER BY yr, mth""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }
}
