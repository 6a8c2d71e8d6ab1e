package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Partition-layout proof: a hive-partitioned parquet write produces
  * per-value directories, and a filter on the partition column reaches the
  * scan as a PartitionFilter — Spark then lists/reads ONLY the matching
  * directories. At 100 TB this is the difference between scanning one
  * partition and scanning the lake; the spec pins that the plan actually
  * prunes (not merely filters after the read).
  */
class PartitionPruningSpec extends AnyFunSuite with SparkSpec {

  test("write partitioned by event_type; filter prunes to one directory") {
    val dir = graft.TempDirs.scoped("part-out") + "/events_by_type"
    graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .write.partitionBy("event_type").parquet(dir)

    // layout: one directory per event_type value
    val typeDirs = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("event_type=")).sorted
    assert(typeDirs.length > 1, s"expected >1 partition dirs, got ${typeDirs.toSeq}")

    val q = spark.read.parquet(dir).where("event_type = 'click'")
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(plan.contains("event_type"), "partition filter did not reach the scan")
    // the pushed partition filter must appear INSIDE PartitionFilters, and
    // the residual data filter list must not re-check it (pruning, not
    // post-filtering)
    val pf = plan.split("PartitionFilters:")(1).split("\n")(0)
    assert(pf.contains("click"), s"PartitionFilters lacks the literal: $pf")

    // selected partitions only: count matches the unpartitioned filter
    val want = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .where("event_type = 'click'").count()
    assert(q.count() == want)
  }
}
