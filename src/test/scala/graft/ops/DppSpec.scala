package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Pins the plan shape of `x_dpp_join`: the hive-partitioned fact scan
  * must carry a DYNAMIC pruning filter (fed by the broadcast dimension at
  * runtime), not read every partition and filter after the fact — the
  * whole point of the entry is that the 100 TB scan never touches the
  * days the dimension rejects.
  */
class DppSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("fact scan carries a dynamic pruning partition filter") {
    val joined = Formats.dppJoined(spark, dir)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamicpruningexpression in the fact scan's PartitionFilters:\n$plan")
  }

  test("dynamic pruning returns exactly the even-day rows") {
    val got = Formats.dppJoined(spark, dir).count()
    val want = graft.Tables.load(spark, dir, "events")
      .where(s"pmod(${graft.Tables.tsNanosToDaysSql("ts")}, 2) = 0").count()
    assert(got == want, s"pruned join returned $got rows, expected $want")
  }
}
