package graft.ops

import java.nio.file.Paths

import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, SparkSpec, Tables, TempDirs}

/** 100 TB join strategy proof: bucketing both fact tables on the join key
  * makes the join shuffle-free (co-located, bucket-local) — on a cluster
  * this is the difference between re-shuffling 100 TB per join and reading
  * pre-partitioned data. Asserts the physical plan has NO shuffle above the
  * bucketed scans.
  */
class BucketedJoinSpec extends AnyFunSuite with SparkSpec {

  test("bucketed fact-fact join plans without a shuffle") {
    val dir = "/root/testdata/sf0.001"
    // a broadcast would trivially avoid the shuffles this spec asserts away
    Session.withConfs(spark, Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      // external tables on the scratch tier: nothing lands in the checkout
      val stage = TempDirs.scoped("bucketed-join")
      Seq(("li_bucketed", "lineitem", "l_orderkey"),
        ("o_bucketed", "orders", "o_orderkey")).foreach { case (tbl, t, k) =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        Tables.load(spark, dir, t).write
          .bucketBy(8, k).sortBy(k)
          .option("path", s"$stage/$tbl")
          .mode("overwrite").saveAsTable(tbl)
        val loc = Paths.get(spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(tbl)).location)
        assert(!loc.startsWith(Paths.get(sys.props("user.dir")).toAbsolutePath),
          s"$tbl must live outside the checkout, got $loc")
      }

      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          spark.table("li_bucketed")("l_orderkey") === spark.table("o_bucketed")("o_orderkey"))
        .groupBy("o_orderstatus").count()

      joined.collect() // execute so AQE finalizes the plan

      // AQE wraps stages in QueryStageExec whose `children` is empty, so
      // SparkPlan.collect cannot see inside them — assert on the final plan's
      // rendering instead (cut off the "Initial Plan" echo AQE appends)
      val planStr = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // exactly one shuffle is allowed: the final groupBy on o_orderstatus.
      // The JOIN itself must be bucket-local (zero join-side shuffles).
      val nShuffles = "\\bExchange\\b".r.findAllIn(planStr).size
      assert(nShuffles <= 1,
        s"expected bucket-local join (<=1 shuffle for the agg), got $nShuffles:\n$planStr")
      // a real sort-merge join over bucketed scans, not a broadcast that would
      // trivially avoid shuffles
      assert("SortMergeJoin".r.findAllIn(planStr).size == 1,
        s"expected a bucket-local SortMergeJoin:\n$planStr")
      assert(planStr.contains("Bucketed: true"), "scans must be bucketed")

      // and the result is right
      val total = joined.collect().map(_.getLong(1)).sum
      assert(total == Tables.load(spark, dir, "lineitem").count())
    }
  }
}
