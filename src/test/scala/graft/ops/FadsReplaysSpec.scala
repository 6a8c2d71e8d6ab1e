package graft.ops

import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}
import graft.streaming.{Event, FadsStream}

/** The variant table [[FadsReplays]] is the one description the replay
  * entries, their gates and their oracles are built from: its shard twins
  * must agree on every side, and each gate must summarise the replay of the
  * entry it is named for.
  */
class FadsReplaysSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("region-shard twins agree: Spark column, streaming function, oracle SQL") {
    import spark.implicits._
    val values = Seq(-64.0, -0.5, 0.0, 63.999, 64.0, 447.99, 448.0, 1e9)
    val twin = FadsReplays.regionShard
    val rows = values.toDF("value").as("src")
      .select(col("value"), twin.spark.as("batch"), expr(twin.sql).as("oracle"))
      .collect()
    assert(rows.length == values.length)
    rows.foreach { r =>
      val v = r.getDouble(0)
      val stream = FadsStream.regionShardOf(Event(0L, 0L, 0L, "", v, ""))
      assert(r.getLong(1) == stream && r.getLong(2) == stream,
        s"value $v: batch ${r.getLong(1)}, oracle ${r.getLong(2)}, stream $stream")
    }
    assert(rows.map(_.getLong(1)).toSeq == Seq(-1L, -1L, 0L, 0L, 1L, 6L, 7L, 7L))
  }

  test("hash-shard twins agree on non-negative ids: Spark column, oracle SQL") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 7L, 8L, 63L, 64L, 1000003L, Long.MaxValue)
    val twin = FadsReplays.hashShard
    ids.toDF("user_id").as("src")
      .select(col("user_id"), twin.spark.cast("long").as("batch"),
        expr(twin.sql).cast("long").as("oracle"))
      .collect().foreach { r =>
        val id = r.getLong(0)
        assert(r.getLong(1) == id % 8 && r.getLong(2) == id % 8,
          s"id $id: batch ${r.getLong(1)}, oracle ${r.getLong(2)}")
      }
  }

  test("the table generates six entries, seven gates and seven oracles") {
    val entries = Set("q9_fads_replay", "q9_fads_sharded", "q9_fads_region_sharded",
      "q9_fads_replay_refmode", "q9_fads_replay_refmode_raw", "taxi_fads_replay")
    assert(FadsReplays.entries.keySet == entries)
    assert(entries.forall(SparkEntry.queries.contains))
    assert(FadsInvariants.all.keySet == FadsInvariants.oracles.keySet)
    assert(FadsInvariants.all.size == 7)
    assert(FadsOracle.oracles.keySet == entries + "stream_fads_region_sharded")
  }

  test("each gate's replay frame without orig_* equals its entry's output") {
    // stated here, not read from the table: a gate wired to the wrong
    // variant must fail
    val entryOf = Map(
      "q9_inv_replay" -> "q9_fads_replay",
      "q9_inv_kanon" -> "q9_fads_replay",
      "q9_inv_sharded" -> "q9_fads_sharded",
      "q9_inv_region" -> "q9_fads_region_sharded",
      "q9_inv_refmode" -> "q9_fads_replay_refmode",
      "q9_inv_refmode_raw" -> "q9_fads_replay_refmode_raw",
      "taxi_inv_replay" -> "taxi_fads_replay")
    assert(FadsReplays.gates.map(_._1).toSet == entryOf.keySet)
    FadsReplays.gates.foreach { case (gate, v, _) =>
      val frame = FadsReplays.frame(spark, dir, v, orig = true)
      val got = frame.drop(frame.columns.filter(_.startsWith("orig_")): _*)
      val want = SparkEntry.queries(entryOf(gate))(spark, dir)
      assert(got.columns.toSeq == want.columns.toSeq, s"$gate columns")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$gate replays a different variant than ${entryOf(gate)}")
    }
  }
}
