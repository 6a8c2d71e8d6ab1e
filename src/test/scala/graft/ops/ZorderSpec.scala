package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Z-order layout invariants: the Morton bucketing must bound BOTH
  * dimensions inside every bucket — the property a linear sort cannot
  * deliver for its trailing column.
  */
class ZorderSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every z-bucket bounds both dimensions simultaneously") {
    val li = graft.Tables.load(spark, dir, "lineitem")
    val b = li.selectExpr("min(l_partkey) AS pmin", "max(l_partkey) AS pmax",
      "min(l_suppkey) AS smin", "max(l_suppkey) AS smax").head()
    val (pRange, sRange) =
      (b.getLong(1) - b.getLong(0) + 1, b.getLong(3) - b.getLong(2) + 1)
    val rows = Formats.zorderLayout(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == li.count(), "buckets partition rows")
    // 5 bucket bits = 3 high partkey bits + 2 high suppkey bits: spans
    // must shrink to ~range/8 and ~range/4 (+1 for grid-boundary slop)
    rows.foreach { r =>
      val pSpan = r.getLong(3) - r.getLong(2) + 1
      val sSpan = r.getLong(5) - r.getLong(4) + 1
      assert(pSpan <= pRange / 4,
        s"bucket ${r.getLong(0)}: partkey span $pSpan vs range $pRange")
      assert(sSpan <= sRange / 2,
        s"bucket ${r.getLong(0)}: suppkey span $sSpan vs range $sRange")
      // strictly better than a partkey-linear layout's trailing column,
      // which leaves the suppkey span at the FULL range in every bucket
      assert(sSpan < sRange)
    }
  }

  test("zone map: disjoint per-file zones, live pruning, lossless skip") {
    val (zones, plo, phi) = Formats.zonemapLayout(spark, dir)
    assert(zones.size > 1, "single-file layout — pruning untestable")
    // the sort-clustered layout must yield NON-overlapping day zones
    val sorted = zones.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq((fa, _, hiA), (fb, loB, _)) =>
        assert(hiA < loB, s"zones overlap: $fa [..$hiA] vs $fb [$loB..]")
      case _ => ()
    }
    // pruning is live: some file skipped, some read
    val pruned = zones.filter { case (_, lo, hi) => hi >= plo && lo <= phi }
    assert(pruned.nonEmpty && pruned.size < zones.size,
      s"probe [$plo,$phi] reads ${pruned.size}/${zones.size} files — vacuous")
    // skipping is LOSSLESS: every skipped file's zone lies wholly outside
    // the probe range, so no in-range row can live there
    (zones.toSet -- pruned.toSet).foreach { case (f, lo, hi) =>
      assert(hi < plo || lo > phi, s"skipped $f overlaps the probe range")
    }
    // and the zone map partitions the table: per-file rows sum to total
    val perFile = zones.map { case (f, _, _) =>
      spark.read.parquet(f).count()
    }.sum
    val total = graft.Tables.load(spark, dir, "lineitem").count()
    assert(perFile == total, s"zone files hold $perFile of $total rows")
  }
}
