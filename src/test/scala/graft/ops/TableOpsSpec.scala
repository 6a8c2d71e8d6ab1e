package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Invariant tests for the table-maintenance operators. */
class TableOpsSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("histogram: partitioning is total, contiguous, and count-preserving") {
    val rows = ExtendedQueries.histogram(spark, dir).collect()
      .sortBy(_.getAs[Long]("bucket"))
    assert(rows.nonEmpty && rows.length <= ExtendedQueries.HistBins)
    val total = graft.Tables.load(spark, dir, "lineitem").count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("lo_cents") <= r.getAs[Long]("hi_cents"))
      assert(r.getAs[Long]("n_rows") >= 1L) // empty bins never materialize
    }
    // equi-width and non-overlapping: every bin is width apart
    val width = rows.head.getAs[Long]("hi_cents") - rows.head.getAs[Long]("lo_cents") + 1
    rows.foreach { r =>
      assert(r.getAs[Long]("hi_cents") - r.getAs[Long]("lo_cents") + 1 == width)
      assert(r.getAs[Long]("lo_cents") ==
        rows.head.getAs[Long]("lo_cents") + r.getAs[Long]("bucket") * width)
    }
  }

  test("latest by key: one row per user carrying that user's max (ts, event_id)") {
    import org.apache.spark.sql.functions._
    val got = TableOps.latestByKey(spark, dir).collect()
    val users = graft.Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(got.length == users)
    val maxTs = graft.Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .agg(max(graft.Tables.tsNanosToMicros("ts")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach(r =>
      assert(r.getAs[Long]("ts_us") == maxTs(r.getAs[Long]("user_id"))))
  }

  test("data quality: clean fixture audits clean") {
    val r = TableOps.dataQuality(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_events") ==
      graft.Tables.load(spark, dir, "events").count())
    assert(row.getAs[Long]("dup_event_ids") == 0L)
    assert(row.getAs[Long]("orphan_orders") == 0L)
    assert(row.getAs[Long]("orphan_lineitems") == 0L)
  }

  test("window distribution: quartiles 1..4, ranks in [0,1], cume positive") {
    val rows = TableOps.windowDistribution(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getAs[Long]("quartile")
      assert(q >= 1 && q <= 4)
      val pr = r.getAs[Double]("pct_rank")
      assert(pr >= 0.0 && pr <= 1.0)
      val cd = r.getAs[Double]("cume")
      assert(cd > 0.0 && cd <= 1.0)
    }
  }

  test("gapfill: dense hour spine, counts preserved") {
    val rows = TableOps.gapFill(spark, dir).collect()
    val hrs = rows.map(_.getAs[Long]("hr"))
    assert(hrs.last - hrs.head + 1 == rows.length) // no holes in the spine
    assert(hrs.sameElements(hrs.sorted))
    assert(rows.map(_.getAs[Long]("n")).sum ==
      graft.Tables.load(spark, dir, "events").count())
  }

  test("snapshot diff: status matches null shape, keys unique, delta iff retained") {
    val rows = TableOps.snapshotDiff(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val o = Option(r.get(r.fieldIndex("old_v_u")))
      val n = Option(r.get(r.fieldIndex("new_v_u")))
      r.getAs[String]("status") match {
        case "added"     => assert(o.isEmpty && n.nonEmpty)
        case "removed"   => assert(o.nonEmpty && n.isEmpty)
        case "changed"   => assert(o.nonEmpty && n.nonEmpty && o != n)
        case "unchanged" => assert(o.nonEmpty && o == n)
        case other       => fail(s"unknown status $other")
      }
      assert(Option(r.get(r.fieldIndex("delta_v_u"))).nonEmpty ==
        (o.nonEmpty && n.nonEmpty))
    }
    val keys = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    assert(keys.distinct.length == keys.length) // one verdict per key
  }

  test("merge into: every WHEN clause fires, deletes gone, no dup keys") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val nSources = docs.select("source").distinct().count()
    val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    val rows = TableOps.mergeInto(spark, dir).collect()
    val byOp = rows.groupBy(_.getAs[String]("last_op"))
      .view.mapValues(_.length).toMap
    assert(byOp.get("U").contains(3 * nSources.toInt), s"updates: $byOp")
    assert(byOp.get("I").contains(3 * nSources.toInt), s"inserts: $byOp")
    assert(!byOp.contains("D"), "a deleted row survived the merge")
    assert(byOp.getOrElse("K", 0) > 0, "no carried rows — target consumed")
    // inserted keys live above the old key space; no key appears twice
    rows.filter(_.getAs[String]("last_op") == "I")
      .foreach(r => assert(r.getAs[Long]("doc_id") > maxId))
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length, "merge produced duplicate keys")
    // row counts reconcile: target − deletes + inserts
    assert(rows.length == docs.count() - 2 * nSources + 3 * nSources)
  }
}
