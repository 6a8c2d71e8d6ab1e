package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}

class SkewJoinSpec extends AnyFunSuite with SparkSpec {

  test("salted join equals the plain join and spreads the hot key") {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus")
      .withColumnRenamed("o_orderkey", "l_orderkey")

    val plain = li.join(o, "l_orderkey")
      .groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewJoin.saltedJoin(li, o, "l_orderkey", nSalts = 8)
      .groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)

    // the salt actually spreads rows: a single hot key lands in >1 bucket
    import org.apache.spark.sql.functions._
    val hot = li.withColumn("__salt",
        pmod(xxhash64(li.columns.map(col).toIndexedSeq: _*), lit(8)).cast("int"))
      .groupBy("l_orderkey").agg(countDistinct("__salt").as("buckets"))
      .agg(max("buckets")).collect()(0).getLong(0)
    assert(hot > 1, "hot keys must spread across salt buckets")
  }
}
