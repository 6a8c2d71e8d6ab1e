package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The crawl-frontier step — the composition the three crawl primitives
  * exist FOR: given today's fetched pages, produce the next prioritized
  * fetch batch. Real crawlers (Heritrix/Nutch/Common Crawl's frontier)
  * run exactly this loop: extract outlinks → resolve against the page's
  * host → canonicalize → drop what's already crawled → dedup → per-domain
  * politeness cap → priority by host reputation.
  *
  * Every stage reuses the SHARED single-definition machinery so the
  * composition can never drift from the standalone entries:
  * [[HtmlExtract]]'s page template + href grammar (`text_html_links`),
  * [[UrlDedup]]'s canonicalizer + crawled-URL surface
  * (`pipeline_url_dedup` — the pages' own URLs, deliberately the same
  * domain scheme as the link graph), and [[LinkRank]]'s domain PageRank
  * (`pipeline_domain_rank`) as the priority signal; unranked hosts (the
  * ad domain appears only as a link TARGET, never as a crawled page)
  * carry rank 0 — both rank classes live.
  *
  * Scale shape: outlink extraction and resolution are row-local; the
  * already-crawled check is one equi join on the canonical key (at 100 TB
  * the crawled set IS corpus-sized — deliberately NOT broadcast); keeper
  * dedup is a canon-keyed window; the per-domain cap reuses the SALTED
  * two-phase form ([[UrlDedup]]'s skew contract) so the head domain's
  * candidates never funnel through one task; the rank join broadcasts the
  * DOMAIN-bounded rank table. Every admitted/rejected row is emitted
  * with its verdicts so the hash gates all classes.
  */
object CrawlFrontier {

  /** Per-domain frontier admission budget (politeness cap). */
  val FrontierCap = 25

  /** Salt fan-out of the two-phase cap. */
  val FrontierSalts = 16

  /** Links per page upper bound used to pack (doc_id, link_idx) into one
    * key: lid = doc_id * 8 + link_idx (the template emits 5, plus the
    * synthesized self link at index [[SelfLinkIdx]]).
    */
  private val LidBase = 8L

  /** link_idx of the synthesized rel=canonical self link. */
  val SelfLinkIdx = 5L

  /** The canonical candidate outlinks (lid, href, domain, canon) — the
    * frontier's stage-1 output, shared with [[RobotsFilter]] (which
    * gates the same candidates on politeness rules).
    */
  private[pipeline] def candidates(spark: SparkSession,
      dir: String): DataFrame =
    // widen the single-file scan before the row-local regex chain (page
    // render + href extraction + canonicalization — the suite's heaviest
    // per-row regex work): one serial task otherwise. Batch wrapper only;
    // the streaming caller feeds candidatesRowLocal its own paced frame.
    // No-op on an already-wide scan (BatchSizing).
    candidatesRowLocal(graft.BatchSizing.widen(
      Tables.load(spark, dir, "documents"),
      Dedup.docsStats(spark, dir).rows))

  /** The candidate chain as a PURE ROW-LOCAL frame over (doc_id, text)
    * rows — page render, href extraction, the rel=canonical self link
    * (the variant-0 surface url of the page's own logical group),
    * host-relative resolution against the page's OWN domain (derived
    * row-locally from its surface url — r15: this replaced a
    * corpus-sized join in the batch chain), and canonicalization.
    * Because every step is an expression, the SAME definition runs over
    * a streaming frame unchanged ([[graft.streaming.CrawlAdmit]]).
    */
  private[graft] def candidatesRowLocal(docs: DataFrame): DataFrame = {
    val withLinks = UrlDedup.canonColsKeep(
        docs.selectExpr("doc_id", s"${UrlDedup.urlExprSpark} AS url", "text"),
        Seq("text"))
      .selectExpr("doc_id", "domain AS page_domain",
        s"${HtmlExtract.pageExpr} AS page")
      .selectExpr("doc_id", "page_domain",
        s"regexp_extract_all(page, '${HtmlExtract.HrefRegex}', 1) AS hs")
      // lid = doc_id·LidBase + link_idx aliases ACROSS documents if the
      // page template ever emits ≥ LidBase hrefs (and WITHIN a document
      // at idx [[SelfLinkIdx]], where the synthesized self link sits) —
      // and the DuckDB oracle would alias identically, so the gate would
      // stay green while dedup and attribution silently corrupt (r14
      // advice). Fail loud instead.
      .selectExpr("doc_id", "page_domain",
        s"CASE WHEN size(hs) = $SelfLinkIdx THEN hs " +
          s"ELSE array(raise_error(concat('CrawlFrontier: template emits ', " +
          s"CAST(size(hs) AS STRING), ' hrefs, SelfLinkIdx=$SelfLinkIdx — " +
          s"raise LidBase/SelfLinkIdx to match the page template'))) " +
          "END AS hs")
      .selectExpr("doc_id", "page_domain",
        s"concat(hs, array(${UrlDedup.urlExprSparkFor("(doc_id DIV 3) * 3")}))" +
          " AS hs")
      .selectExpr("doc_id", "page_domain",
        "posexplode(hs) AS (link_idx, href)")
      .selectExpr(s"doc_id * $LidBase + link_idx AS doc_id", "href",
        "CASE WHEN href RLIKE '^[A-Za-z]+://' THEN href" +
          " ELSE concat('http://', page_domain, href) END AS url")
    // canonical candidates (href rides through)
    UrlDedup.canonColsKeep(withLinks, Seq("href"))
      .selectExpr("doc_id AS lid", "href", "domain", "canon")
  }

  def query(spark: SparkSession, dir: String): DataFrame = {
    // the crawled surface: every fetched page's canonical URL + host
    val crawled = UrlDedup.canonCols(UrlDedup.derivedUrls(spark, dir))
    val cand = candidates(spark, dir)
    // already crawled? (corpus-sized set — an equi join, NOT a broadcast)
    val flagged = cand
      .join(crawled.select("canon").distinct()
        .withColumn("already_crawled", lit(true)), Seq("canon"), "left")
      .selectExpr("lid", "href", "domain", "canon",
        "coalesce(already_crawled, false) AS already_crawled")
    val firsts = flagged
      .withColumn("frk", expr(
        "row_number() OVER (PARTITION BY canon ORDER BY lid)"))
      .withColumn("is_first", expr("NOT already_crawled AND frk = 1"))
      .drop("frk")
    // salted two-phase per-domain cap over the new keepers
    val phase1 = firsts.where("is_first")
      .withColumn("srk", expr(
        s"row_number() OVER (PARTITION BY domain, lid % $FrontierSalts" +
          " ORDER BY lid)"))
      .where(s"srk <= $FrontierCap")
    val capped = phase1
      .withColumn("drk", expr(
        "row_number() OVER (PARTITION BY domain ORDER BY lid)"))
      .where(s"drk <= $FrontierCap")
      .select(col("lid"), lit(true).as("admitted"))
    val rank = LinkRank.domainRank(spark, dir)
      .select(col("domain"), col("r").as("domain_r"))
    firsts
      .join(capped, Seq("lid"), "left")
      .join(broadcast(rank), Seq("domain"), "left")
      .selectExpr(s"lid DIV $LidBase AS doc_id", s"lid % $LidBase AS link_idx",
        "href", "canon", "domain", "already_crawled", "is_first",
        "coalesce(admitted, false) AS admitted",
        "coalesce(domain_r, CAST(0 AS BIGINT)) AS domain_r")
      .orderBy("doc_id", "link_idx")
  }

  /** Whole-chain DuckDB replay: rank CTEs + URL surface + page grammar +
    * resolution + canonicalization + keeper/cap windows, so cross-stage
    * drift fails the hash even when every standalone entry passes (the
    * `pipeline_e2e_prepare` convention). The cap replays the simple
    * single-window form the salted two-phase provably equals.
    */
  val sql: String =
    s"""WITH ${LinkRank.domainRankCtes},
       |u AS (SELECT doc_id, ${UrlDedup.urlExprSql} AS url FROM documents),
       |cu AS (
       |${UrlDedup.canonSql("u", "doc_id")}),
       |pgs AS (SELECT doc_id, ${HtmlExtract.pageSql} AS page FROM documents),
       |hx AS (SELECT doc_id, regexp_extract_all(page, 'href="([^"]*)"', 1) AS hs
       |       FROM pgs),
       |lx AS (SELECT doc_id, unnest(range(1, len(hs) + 1)) AS i, hs FROM hx),
       |slf AS (SELECT real_id AS doc_id, link_idx, href FROM (
       |          SELECT real_id, $SelfLinkIdx::BIGINT AS link_idx,
       |                 ${UrlDedup.urlExprSql} AS href
       |          FROM (SELECT doc_id AS real_id, (doc_id // 3) * 3 AS doc_id
       |                FROM documents))),
       |lk AS (SELECT doc_id, (i - 1)::BIGINT AS link_idx, hs[i] AS href FROM lx
       |       UNION ALL SELECT doc_id, link_idx, href FROM slf),
       |res AS (SELECT lk.doc_id * $LidBase + lk.link_idx AS lid, lk.href,
       |               CASE WHEN regexp_matches(lk.href, '^[A-Za-z]+://')
       |                    THEN lk.href
       |                    ELSE concat('http://', cu.domain, lk.href)
       |               END AS url
       |        FROM lk JOIN cu ON lk.doc_id = cu.doc_id),
       |cc AS (
       |${UrlDedup.canonSql("res", "lid", ", href")}),
       |crawledset AS (SELECT DISTINCT canon FROM cu),
       |fl AS (SELECT cc.lid, cc.href, cc.domain, cc.canon,
       |              (crawledset.canon IS NOT NULL) AS already_crawled
       |       FROM cc LEFT JOIN crawledset USING (canon)),
       |fr AS (SELECT lid, href, domain, canon, already_crawled,
       |              (NOT already_crawled AND row_number() OVER (
       |                 PARTITION BY canon ORDER BY lid) = 1) AS is_first
       |       FROM fl),
       |cap AS (SELECT lid FROM (
       |          SELECT lid, row_number() OVER (
       |            PARTITION BY domain ORDER BY lid) AS drk
       |          FROM fr WHERE is_first)
       |        WHERE drk <= $FrontierCap),
       |rk AS (SELECT dom AS domain, r::BIGINT AS r FROM r${TextRank.Iters})
       |SELECT (fr.lid // $LidBase)::BIGINT AS doc_id,
       |       (fr.lid % $LidBase)::BIGINT AS link_idx,
       |       fr.href, fr.canon, fr.domain, fr.already_crawled, fr.is_first,
       |       (cap.lid IS NOT NULL) AS admitted,
       |       coalesce(rk.r, 0)::BIGINT AS domain_r
       |FROM fr LEFT JOIN cap USING (lid) LEFT JOIN rk USING (domain)
       |ORDER BY doc_id, link_idx""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_crawl_frontier" -> query)

  val oracles: Map[String, String] = Map(
    "pipeline_crawl_frontier" -> sql)
}
