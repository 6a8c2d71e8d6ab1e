package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Composition contracts of the crawl-frontier entry: verdict-class
  * implications, the live already-crawled path (self links), exact cap
  * exhaustion on the head domains, and rank wiring.
  */
class CrawlFrontierSpec extends AnyFunSuite with SparkSpec {

  // (doc_id, link_idx, href, canon, domain, already_crawled, is_first,
  //  admitted, domain_r)
  private lazy val rows =
    CrawlFrontier.query(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
        r.getLong(8)))

  test("verdict classes imply each other in the right direction") {
    rows.foreach { r =>
      if (r._8) assert(r._7, s"admitted but not keeper: $r")
      if (r._7) assert(!r._6, s"keeper but already crawled: $r")
    }
    // keepers are canon-unique
    val keepers = rows.filter(_._7).map(_._4)
    assert(keepers.distinct.length == keepers.length)
  }

  test("self links are exactly the already-crawled class") {
    val self = rows.filter(_._2 == CrawlFrontier.SelfLinkIdx)
    assert(self.nonEmpty && self.forall(_._6),
      "every rel=canonical self link must hit the crawled set")
    val tmpl = rows.filter(_._2 != CrawlFrontier.SelfLinkIdx)
    assert(tmpl.forall(!_._6),
      "no template outlink points at a crawled /doc/ URL")
  }

  test("per-domain caps hold and head domains exhaust exactly") {
    val admittedByDom = rows.filter(_._8).groupBy(_._5).view
      .mapValues(_.length).toMap
    admittedByDom.foreach { case (d, n) =>
      assert(n <= CrawlFrontier.FrontierCap, s"$d over cap: $n")
    }
    assert(admittedByDom("big.example.com") == CrawlFrontier.FrontierCap)
    assert(admittedByDom("ads.example") == CrawlFrontier.FrontierCap)
    // the cap rejects rows too (both classes live)
    assert(rows.exists(r => r._7 && !r._8))
  }

  test("rank wiring: crawled domains ranked, the ad domain unranked") {
    val byDom = rows.groupBy(_._5).view.mapValues(_.head._9).toMap
    assert(byDom("ads.example") == 0L, "link-only domain has no rank")
    assert(byDom("big.example.com") > 0L)
    // the head domain out-ranks every tail domain
    byDom.filterKeys(d => d != "ads.example" && d != "big.example.com")
      .foreach { case (d, r) =>
        assert(r > 0L && r < byDom("big.example.com"), s"$d rank $r")
      }
  }
}
