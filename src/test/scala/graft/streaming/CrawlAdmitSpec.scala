package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Online crawl-loop contracts (r14 verdict item 5): the streamed
  * admitted set equals an independent batch-window replica of the same
  * semantics, never admits a robots-disallowed or already-crawled
  * candidate, never re-admits a canonical URL, and honors the per-domain
  * politeness budget.
  */
class CrawlAdmitSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // (doc_id, link_idx, domain, canon)
  private lazy val admitted: Seq[(Long, Long, String, String)] =
    CrawlAdmit.admitQuery(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))

  test("admitted canons are unique, not already crawled, and per-domain " +
    "counts honor the politeness budget") {
    import graft.pipeline.{CrawlFrontier, UrlDedup}
    assert(admitted.nonEmpty)
    val canons = admitted.map(_._4)
    assert(canons.distinct.size == canons.size,
      "a canonical URL was admitted twice")
    val crawled = UrlDedup.canonCols(UrlDedup.derivedUrls(spark, dir))
      .select("canon").collect().map(_.getString(0)).toSet
    assert(admitted.forall(a => !crawled.contains(a._4)),
      "an already-crawled canon was admitted")
    admitted.groupBy(_._3).foreach { case (d, rs) =>
      assert(rs.size <= CrawlFrontier.FrontierCap,
        s"domain $d exceeded the cap with ${rs.size}")
    }
  }

  test("no robots-disallowed candidate is ever admitted") {
    import graft.pipeline.RobotsFilter
    val disallowed = RobotsFilter.query(spark, dir)
      .where("NOT allowed").select("doc_id", "link_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(disallowed.nonEmpty, "surface must have live disallowed rows")
    assert(admitted.forall(a => !disallowed.contains((a._1, a._2))),
      "a robots-disallowed candidate was admitted")
  }

  test("the streamed admitted set equals an independent batch-window " +
    "replica of allowed → uncrawled → first-per-canon → capped") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.{CrawlFrontier, RobotsFilter, UrlDedup}
    val cand = CrawlFrontier.candidatesRowLocal(
      graft.Tables.load(spark, dir, "documents").select("doc_id", "text"))
    val allowedLids = RobotsFilter.query(spark, dir)
      .where("allowed").selectExpr("doc_id * 8 + link_idx AS lid")
    val crawled = UrlDedup.canonCols(UrlDedup.derivedUrls(spark, dir))
      .select("canon").distinct()
    val expected = cand
      .join(allowedLids, "lid")
      .join(crawled.withColumn("already", lit(true)), Seq("canon"), "left")
      .where("already IS NULL")
      .withColumn("crk", expr(
        "row_number() OVER (PARTITION BY canon ORDER BY lid)"))
      .where("crk = 1")
      .withColumn("drk", expr(
        "row_number() OVER (PARTITION BY domain ORDER BY lid)"))
      .where(s"drk <= ${CrawlFrontier.FrontierCap}")
      .selectExpr("lid DIV 8 AS doc_id", "lid % 8 AS link_idx", "domain",
        "canon")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(admitted.toSet == expected,
      "streamed admission diverged from the batch-window replica")
  }
}
