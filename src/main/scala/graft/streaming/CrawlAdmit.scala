package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast, lit}
import org.apache.spark.sql.streaming._

import graft.pipeline.{CrawlFrontier, RobotsFilter, UrlDedup}

/** The ONLINE crawl loop (r14 verdict item 5) — the deployment form of
  * the batch frontier: fetched pages arrive as a real stream and each
  * micro-batch runs the full admission chain IN the stream:
  *
  *   pages → outlink extraction + self link → canonicalize
  *         → robots verdict → already-crawled check → per-domain quota
  *
  * Stage economics, the point of the composition:
  *  - extraction, resolution, canonicalization are the SAME row-local
  *    expressions as the batch chain
  *    ([[CrawlFrontier.candidatesRowLocal]] — one definition, zero
  *    drift), stateless inside the micro-batch;
  *  - the robots verdict is a BROADCAST join against the domain-bounded
  *    [[RobotsFilter.ruleTable]] artifact (parsed offline, like real
  *    crawlers' robots caches) + the row-local
  *    [[RobotsFilter.allowedExpr]] argmax — no groupBy in the stream;
  *  - the already-crawled check is a stream-static equi join against the
  *    crawled canon set (corpus-sized at 100 TB — deliberately NOT
  *    broadcast, the batch frontier's contract);
  *  - admission is the keyed [[DomainQuotaProcessor]] (canonical
  *    first-sighting dedup + budget, O(1)/row RocksDB state per domain),
  *    capped at the frontier's [[CrawlFrontier.FrontierCap]].
  *
  * Determinism contract (the [[DomainQuota]] convention): docs are
  * staged in doc_id-ordered chunks, lids are doc_id-monotone, and the
  * processor sorts each trigger's rows per domain — so the admitted set
  * equals the batch semantics the DuckDB oracle replays: first
  * non-crawled, robots-allowed occurrence per canonical URL, first
  * [[CrawlFrontier.FrontierCap]] of those per domain in lid order.
  */
object CrawlAdmit {

  def admitQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    // static artifacts, derived OFFLINE (the deployment shape); the
    // crawled set is materialized so the stream-static join reads rows,
    // not a re-planned distinct per micro-batch
    val crawled = UrlDedup.canonCols(UrlDedup.derivedUrls(spark, dir))
      .select("canon").distinct().withColumn("already", lit(true))
      .localCheckpoint()
    // materialized like `crawled` (r17, guide §2/§5): a streaming query
    // re-executes its static-side SUBTREE on every micro-batch — the rule
    // table's derivation (row-local candidate regex chain over the whole
    // corpus + robots parse) re-ran per trigger just to rebuild the same
    // domain-bounded broadcast. One checkpoint makes each trigger's
    // broadcast build a cached-row read (Diag: addBatch 1.6-1.7 s →
    // the row-local stream chain alone).
    val rules = RobotsFilter.ruleTable(spark,
      CrawlFrontier.candidatesRowLocal(docs).select("domain").distinct())
      .localCheckpoint()
    val nDocs = docs.count()
    // state partitions sized to the candidate feed (~6 links/doc), not the
    // session constant: every trigger commits one RocksDB store per
    // partition, and at 32 partitions the 4-trigger replay spent its wall
    // on empty-store commits (guide §2 / StateSizing)
    PacedReplay.drain(docs, Seq("doc_id"), nDocs, "graft_stream_crawl_admit",
        "append", Some(StateSizing.statePartitions(spark, nDocs * 6))) { src =>
      CrawlFrontier.candidatesRowLocal(src)
        .selectExpr("lid", "domain", "canon",
          "regexp_extract(canon, '^[a-z]+://[^/?]+(/[^?]*)?', 1) AS path")
        .join(broadcast(rules), Seq("domain"), "left")
        .selectExpr("lid", "domain", "canon",
          s"${RobotsFilter.allowedExpr} AS allowed")
        .where("allowed")
        .join(crawled, Seq("canon"), "left")
        .where("already IS NULL")
        .selectExpr("lid AS doc_id", "domain", "canon")
        .as[UrlRow](Encoders.product[UrlRow])
        .groupByKey(_.domain)(Encoders.STRING)
        .transformWithState(
          new DomainQuotaProcessor(CrawlFrontier.FrontierCap),
          TimeMode.None(), OutputMode.Append())(Encoders.product[UrlRow])
    }.selectExpr("doc_id DIV 8 AS doc_id", "doc_id % 8 AS link_idx",
        "domain", "canon")
      .orderBy("doc_id", "link_idx")
  }

  /** Composed DuckDB replay: the robots-verdict chain
    * ([[RobotsFilter.verdictCtes]] — candidates + parsed rules + winning
    * rule, shared verbatim with `pipeline_robots_filter`), then the
    * stream's admission semantics: allowed → not-yet-crawled → first per
    * canon (lid order) → first [[CrawlFrontier.FrontierCap]] per domain.
    */
  val admitSql: String =
    s"""WITH ${RobotsFilter.verdictCtes},
       |okc AS (SELECT c.lid, c.domain, c.canon
       |        FROM cand c LEFT JOIN w1 USING (lid)
       |        WHERE coalesce(w1.is_allow, true)),
       |crawledset AS (SELECT DISTINCT canon FROM cu),
       |newc AS (SELECT o.lid, o.domain, o.canon FROM okc o
       |         LEFT JOIN crawledset cs USING (canon)
       |         WHERE cs.canon IS NULL),
       |firsts AS (SELECT lid, domain, canon FROM (
       |             SELECT lid, domain, canon, row_number() OVER (
       |               PARTITION BY canon ORDER BY lid) AS rk
       |             FROM newc) WHERE rk = 1),
       |adm AS (SELECT lid, domain, canon FROM (
       |          SELECT lid, domain, canon, row_number() OVER (
       |            PARTITION BY domain ORDER BY lid) AS rk
       |          FROM firsts) WHERE rk <= ${CrawlFrontier.FrontierCap})
       |SELECT (lid // 8)::BIGINT AS doc_id, (lid % 8)::BIGINT AS link_idx,
       |       domain, canon
       |FROM adm ORDER BY doc_id, link_idx""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_crawl_admit" -> admitQuery)

  val oracles: Map[String, String] = Map(
    "stream_crawl_admit" -> admitSql)
}
