package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** The load-bearing claim of `x_bucketed_join`: the lineitem⋈orders join
  * over the staged bucketed tables is a SortMergeJoin whose subtree
  * carries ZERO shuffle exchanges (the write-time shuffle replaced both
  * query-time exchanges), and bucketing is invisible to results.
  */
class BucketedJoinSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("the bucketed join plans as an exchange-free SortMergeJoin") {
    Session.withConfs(spark, Map("spark.sql.adaptive.enabled" -> "false")) {
      val plan = ops.BucketedJoin.joinFrame(spark, dir)
        .queryExecution.executedPlan
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a SortMergeJoin, got:\n$plan")
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"bucketed join must carry zero shuffle exchanges, got:\n$plan")
    }
  }

  test("each staged bucket is one file and both sides agree on fan-out") {
    Seq("orders", "lineitem").foreach { t =>
      val smj = ops.BucketedJoin.joinFrame(spark, dir) // forces staging
      smj.queryExecution // no-op touch
      val root = new java.io.File(ops.BucketedJoin.root(spark, dir))
      val files = new java.io.File(root, t).listFiles()
        .filter(f => f.getName.startsWith("part-"))
      assert(files.length == ops.BucketedJoin.Buckets,
        s"$t: expected one file per bucket, got ${files.length}")
      // bucket ids 0..7 all present exactly once (the _0000N suffix)
      val ids = files.map(_.getName.split("_")(1).take(5).toInt).sorted
      assert(ids.toSeq == (0 until ops.BucketedJoin.Buckets),
        s"$t bucket ids: ${ids.mkString(",")}")
    }
  }

  test("the point lookup prunes to the keys' buckets and stays " +
    "exchange-free") {
    Session.withConfs(spark, Map("spark.sql.adaptive.enabled" -> "false")) {
      val plan = ops.BucketedJoin.lookupFrame(spark, dir)
        .queryExecution.executedPlan
      assert(plan.collect {
        case e: ShuffleExchangeExec => e
      }.isEmpty, s"pruned lookup must carry zero exchanges:\n$plan")
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.size == 2)
      scans.foreach { s =>
        val picked = s.optionalBucketSet
        assert(picked.isDefined, s"scan not bucket-pruned:\n$s")
        assert(picked.get.cardinality() <= ops.BucketedJoin.LookupKeys.size,
          s"expected <= ${ops.BucketedJoin.LookupKeys.size} buckets, " +
            s"got ${picked.get.cardinality()}")
      }
    }
  }

  test("bucketing is invisible to results (parity with the plain join)") {
    val bucketed = ops.BucketedJoin.query(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val plain = {
      val l = Tables.load(spark, dir, "lineitem")
      val o = Tables.load(spark, dir, "orders")
      import org.apache.spark.sql.functions._
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
            " * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
            .as("revenue_c4"))
        .orderBy("o_orderpriority").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    assert(bucketed.sameElements(plain))
  }
}
