package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming._

/** A crawl-frontier URL admission row (canonicalized, pre-state). */
case class UrlRow(doc_id: Long, domain: String, canon: String)

/** Streaming per-domain admission control — the ingest-side form of
  * [[graft.pipeline.UrlDedup]]'s dedup + cap: a crawl frontier admits a
  * URL iff its CANONICAL form is new AND the domain's budget is not
  * exhausted, and it must decide ONLINE, per arrival, not in a batch
  * job after the fetch. State per domain: the admitted count (one long)
  * plus the seen-canonical set (a MapState — exactly the per-domain
  * frontier table real crawlers keep); both live in RocksDB keyed by
  * domain, so a head domain's state shards with its key and the quota
  * check is O(1) per row.
  *
  * Determinism contract: [[PacedReplay]] stages by doc_id (in-order
  * chunked batches) and the processor sorts each trigger's rows by
  * doc_id per key, so admission order is globally doc_id-ascending —
  * the streamed admitted set therefore EQUALS the batch entry's
  * `is_keeper AND kept_cap` rows, which is the oracle.
  */
class DomainQuotaProcessor(cap: Int)
    extends StatefulProcessor[String, UrlRow, UrlRow] {

  @transient private var nAdmitted: ValueState[Long] = _
  @transient private var seen: MapState[String, Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    nAdmitted = getHandle.getValueState[Long](
      "n", Encoders.scalaLong, TTLConfig.NONE)
    seen = getHandle.getMapState[String, Boolean](
      "seen", Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[UrlRow],
      timerValues: TimerValues): Iterator[UrlRow] = {
    // impose arrival order inside the trigger (batch rows come unordered);
    // bounded by the replay's rowsPerFile × filesPerTrigger sizing
    val buf = rows.toArray.sortBy(_.doc_id)
    var n = if (nAdmitted.exists()) nAdmitted.get() else 0L
    val out = List.newBuilder[UrlRow]
    buf.foreach { r =>
      if (!seen.containsKey(r.canon)) {
        // first sighting of this canonical URL: mark seen either way — a
        // canon first seen over budget stays rejected forever, exactly like
        // the batch cap (its later duplicates are non-keepers there too)
        seen.updateValue(r.canon, true)
        if (n < cap) { n += 1; out += r }
      }
    }
    nAdmitted.update(n)
    out.result().iterator
  }
}

object DomainQuota {

  /** Run the derived crawl surface through the stateful admission
    * controller as a real paced stream; the admitted set must equal the
    * batch `is_keeper AND kept_cap` rows.
    */
  def quotaQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.UrlDedup
    val urls = UrlDedup.derivedUrls(spark, dir)
    val nUrls = urls.count()
    // state partitions from the staged URL count, not the session constant
    // (per-trigger per-partition RocksDB commits — guide §2 / StateSizing)
    PacedReplay.drain(urls, Seq("doc_id"), nUrls, "graft_stream_domain_quota",
        "append", Some(StateSizing.statePartitions(spark, nUrls))) { src =>
      UrlDedup.canonCols(src)
        .selectExpr("doc_id", "domain", "canon")
        .as[UrlRow](Encoders.product[UrlRow])
        .groupByKey(_.domain)(Encoders.STRING)
        .transformWithState(new DomainQuotaProcessor(UrlDedup.DomainCap),
          TimeMode.None(), OutputMode.Append())(Encoders.product[UrlRow])
    }.orderBy("doc_id")
  }

  /** Oracle: the batch entry's admitted rows (canonical keepers within
    * the per-domain cap), projected to the streamed columns.
    */
  val quotaSql: String = {
    val base = graft.pipeline.UrlDedup.sql
    // reuse the batch construction verbatim, filter to admitted rows
    s"""WITH batch AS (${base.replace("ORDER BY k.doc_id", "")})
       |SELECT doc_id, domain, canon FROM batch
       |WHERE is_keeper AND kept_cap
       |ORDER BY doc_id""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_domain_quota" -> quotaQuery)

  val oracles: Map[String, String] = Map(
    "stream_domain_quota" -> quotaSql)
}
