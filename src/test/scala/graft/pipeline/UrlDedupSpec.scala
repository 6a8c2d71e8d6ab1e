package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Canonical-URL normalization rules on hand-built urls, keep-policy
  * determinism, and the skew contract of the per-domain cap on the
  * committed entry's derived surface.
  */
class UrlDedupSpec extends AnyFunSuite with SparkSpec {

  private def canon(urls: (Long, String)*): Map[Long, (String, Boolean, Boolean)] = {
    import spark.implicits._
    UrlDedup.canonicalize(urls.toDF("doc_id", "url"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(4), r.getBoolean(5))))
      .toMap
  }

  test("every normalization rule folds its variant onto one canonical") {
    val out = canon(
      0L -> "http://big.example.com/doc/7?b=2&a=1",
      1L -> "HTTP://Big.Example.Com:80/doc/7?a=1&b=2",
      2L -> "Http://BIG.EXAMPLE.COM/doc/7/?a=1&b=2",
      3L -> "https://big.example.com:443/doc/7?a=1&b=2",
      4L -> "https://big.example.com:8443/doc/7?a=1&b=2")
    val want = "http://big.example.com/doc/7?a=1&b=2"
    assert(out(0L)._1 == want && out(1L)._1 == want && out(2L)._1 == want)
    // scheme is SEMANTIC: https is a different canonical (default 443
    // dropped), and a non-default port survives
    assert(out(3L)._1 == "https://big.example.com/doc/7?a=1&b=2")
    assert(out(4L)._1 == "https://big.example.com:8443/doc/7?a=1&b=2")
    // keeper = min doc_id of the canonical group
    assert(out(0L)._2 && !out(1L)._2 && !out(2L)._2)
    assert(out(3L)._2 && out(4L)._2)
  }

  test("no-query and root-slash edges stay well-formed") {
    val out = canon(
      0L -> "http://a.example.org/doc/1",
      1L -> "http://a.example.org/doc/1/",
      2L -> "http://a.example.org",
      3L -> "http://a.example.org/")
    assert(out(0L)._1 == "http://a.example.org/doc/1")
    assert(out(1L)._1 == out(0L)._1 && !out(1L)._2)
    assert(out(2L)._1 == "http://a.example.org")
    assert(out(3L)._1 == out(2L)._1 && !out(3L)._2)
  }

  test("entry: surface variants collapse 3->1, head domain capped, tail intact") {
    val dir = "/root/testdata/sf0.001"
    val df = UrlDedup.query(spark, dir).cache()
    val n = graft.Tables.load(spark, dir, "documents").count()
    assert(df.count() == n)
    // exactly one keeper per canonical group of 3 surface variants; the
    // tail group of an incomplete final triple still keeps its min
    val grouped = df.groupBy("canon")
      .agg(org.apache.spark.sql.functions.expr(
        "sum(CAST(is_keeper AS INT)) AS ks"),
        org.apache.spark.sql.functions.expr("min(doc_id) AS mn"))
    assert(grouped.where("ks <> 1").count() == 0,
      "every canonical group must keep exactly one doc")
    assert(df.where("is_keeper").join(
      grouped.selectExpr("mn AS doc_id"), "doc_id", "left_anti").count() == 0,
      "the keeper must be the min doc_id of its group")
    // the head domain holds ~60% of pages but is capped to DomainCap
    val headKept = df.where(
      "domain = 'big.example.com' AND kept_cap").count()
    val headKeepers = df.where(
      "domain = 'big.example.com' AND is_keeper").count()
    assert(headKeepers > UrlDedup.DomainCap,
      "skew premise: the head domain must exceed the cap before capping")
    assert(headKept == UrlDedup.DomainCap)
    // tail domains stay under the cap and lose nothing to it
    assert(df.where(
      "domain <> 'big.example.com' AND is_keeper AND NOT kept_cap")
      .count() == 0)
    // capped rows are the SMALLEST doc_ids of the head domain's keepers
    val cappedMax = df.where("domain = 'big.example.com' AND kept_cap")
      .agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0)
    val uncappedMin = df.where(
      "domain = 'big.example.com' AND is_keeper AND NOT kept_cap")
      .agg(org.apache.spark.sql.functions.min("doc_id")).head().getLong(0)
    assert(cappedMax < uncappedMin, "cap must keep the first-by-doc_id rows")
    df.unpersist()
  }

  test("streaming quota: admitted set equals the batch dedup+cap, online") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.DomainQuota.quotaQuery(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val batch = UrlDedup.query(spark, dir)
      .where("is_keeper AND kept_cap")
      .selectExpr("doc_id", "domain", "canon")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(streamed.sorted.toSeq == batch.sorted.toSeq,
      "online admission must equal the batch dedup + cap")
    // per-domain budget holds in the streamed output
    streamed.groupBy(_._2).foreach { case (d, rows) =>
      assert(rows.length <= UrlDedup.DomainCap, s"domain $d over budget")
      // admitted canons are unique (the dedup half of the controller)
      assert(rows.map(_._3).distinct.length == rows.length)
    }
    // the head domain exhausts its budget exactly
    assert(streamed.count(_._2 == "big.example.com") == UrlDedup.DomainCap)
  }
}
