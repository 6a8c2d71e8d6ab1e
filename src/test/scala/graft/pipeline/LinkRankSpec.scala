package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Domain-graph construction against a from-scratch Scala replica, rank
  * sanity (damping floor, head-domain dominance), and the permutation
  * property of the link function.
  */
class LinkRankSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def domOf(g: Long): String =
    if (g % 5 < 3) "big.example.com" else s"site${g % 97}.example.org"

  test("domain edges equal a from-scratch replica") {
    val nDocs = graft.Tables.load(spark, dir, "documents").count()
    val gs = (0L until nDocs).map(_ / 3).distinct
    val gCount = gs.length.toLong
    val links = gs.map(g => (domOf(g), domOf((g * LinkRank.LinkMul + LinkRank.LinkOff) % gCount)))
      .filter { case (a, b) => a != b }
    val wantW = links.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val wantWa = links.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val got = LinkRank.domainEdges(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == wantW.keySet, "edge set differs from the replica")
    got.foreach { case (k, (w, wa)) =>
      assert(w == wantW(k), s"weight of $k")
      assert(wa == wantWa(k._1), s"out-weight of ${k._1}")
    }
    // the link function is a permutation at this G (gcd(7, G) = 1), so
    // page-level out-degree is uniform: total link count == pages with a
    // cross-domain target
    assert(links.length.toLong == got.values.map(_._1).sum)
  }

  test("ranks: damping floor holds, head domain dominates, nodes complete") {
    val rows = LinkRank.domainRank(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nDocs = graft.Tables.load(spark, dir, "documents").count()
    val wantNodes = (0L until nDocs).map(g => domOf(g / 3)).distinct.size
    assert(rows.length == wantNodes, "every domain gets a rank")
    val base15 = (15L * (TextRank.Qp / wantNodes)) / 100L
    rows.foreach { case (d, r) =>
      assert(r >= base15, s"$d below the damping floor")
    }
    // 60% of pages link ONTO the head domain's pages — it must out-rank
    // every tail domain by a wide margin
    val head = rows.find(_._1 == "big.example.com").get._2
    val tailMax = rows.filter(_._1 != "big.example.com").map(_._2).max
    assert(head > 10 * tailMax,
      s"head rank $head must dominate tail max $tailMax")
    // output is rank-descending with the declared tie-break
    assert(rows.head._1 == "big.example.com")
  }
}
