package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.pipeline.{CrawlFrontier, RobotsFilter}

/** Politeness-scheduler contracts (r15 verdict item 4): the admitted
  * schedule enforces every domain's Crawl-delay as a true event-time gap,
  * equals the greedy recurrence replica, and a deferred URL is released
  * in a LATER trigger than it arrived in (the timer path actually runs —
  * oracle equality alone cannot see trigger boundaries).
  */
class CrawlPolitenessSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // (doc_id, link_idx, domain, canon, ts_ms, admit_ms, deferred, batchId)
  private type Adm = (Long, Long, String, String, Long, Long, Boolean, Long)

  /** One streamed run with a per-trigger sink, so every admitted row
    * carries the micro-batch it was EMITTED in.
    */
  private lazy val admitted: Seq[Adm] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Adm]
    val q = CrawlPoliteness.admittedStream(spark, dir).writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[FetchAdmit],
          id: Long) =>
        df.collect().foreach(r => buf.synchronized {
          buf += ((r.doc_id, r.link_idx, r.domain, r.canon, r.ts_ms,
            r.admit_ms, r.deferred, id))
        })
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    buf.toSeq
  }

  /** The per-domain Crawl-delay the batch artifact publishes. */
  private lazy val delays: Map[String, Long] = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    RobotsFilter.ruleTable(spark,
        CrawlFrontier.candidatesRowLocal(docs).select("domain").distinct())
      .select("domain", "delay_ms").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("per-domain schedule: the event-time gap is never violated, the " +
    "greedy recurrence is reproduced exactly, and the cap binds") {
    assert(admitted.nonEmpty)
    admitted.groupBy(_._3).foreach { case (dom, rows) =>
      val d = delays.getOrElse(dom, 0L)
      assert(rows.size <= CrawlFrontier.FrontierCap,
        s"$dom exceeded the frontier cap")
      val ordered = rows.sortBy(r => (r._1, r._2)) // lid order
      // gap enforcement + greedy recurrence admit_i = max(ts_i, prev + d)
      var prev = Long.MinValue / 2
      ordered.foreach { r =>
        val expect = math.max(r._5, prev + d)
        assert(r._6 == expect,
          s"$dom: admit ${r._6} != greedy $expect (ts ${r._5}, d $d)")
        assert(r._7 == (r._6 > r._5), "deferred flag must match the push")
        prev = r._6
      }
    }
    // all three published delay classes are live among admitted domains
    val seen = admitted.map(_._3).distinct.map(d => delays.getOrElse(d, 0L))
    assert(seen.contains(0L) && seen.contains(1000L) && seen.contains(2000L),
      s"delay classes {0, 1000, 2000} must all be live, saw $seen")
    assert(admitted.exists(_._7) && admitted.exists(!_._7),
      "both deferred and on-time admissions must be live")
  }

  test("a deferred URL is admitted in a LATER trigger than it arrived in " +
    "(the event-time timer path, not same-batch emission)") {
    // arrival trigger of a candidate = its chunk index in the staged feed:
    // rank of its lid in ts (= lid) order over candidates + the sentinel,
    // divided by the entry's rowsPerFile sizing (count / 8, files replay
    // one per trigger)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    val lids = CrawlFrontier.candidatesRowLocal(docs)
      .select("lid").collect().map(_.getLong(0)).sorted
    val rowsPerFile = math.max(1L, (lids.length + 1L) / 8L)
    val chunkOf: Map[Long, Long] =
      lids.zipWithIndex.map { case (l, i) => l -> (i / rowsPerFile) }.toMap
    val crossTrigger = admitted.filter { r =>
      val lid = r._1 * 8 + r._2
      r._7 && r._8 > chunkOf(lid)
    }
    assert(crossTrigger.nonEmpty,
      "at least one deferred URL must be released by a timer in a later " +
        "trigger than its arrival chunk")
    // and on-time URLs flow through their own arrival trigger
    assert(admitted.exists(r => !r._7 && r._8 == chunkOf(r._1 * 8 + r._2)),
      "on-time URLs must be emitted in their arrival trigger")
  }

  test("Crawl-delay parse: template-blind grammar, group binding, and " +
    "group-override selection") {
    import spark.implicits._
    val robots = Seq(
      ("a.example",
        "User-agent: *\nDisallow: /x\nCrawl-delay: 7\n" +
          s"User-agent: ${RobotsFilter.BotAgent}\nAllow: /\nCrawl-delay: 3"),
      ("b.example", "User-agent: *\nCrawl-delay: 5\nDisallow: /y"),
      ("c.example", "User-agent: *\nDisallow: /z")) // no delay declared
      .toDF("domain", "txt")
    val parsed = RobotsFilter.parseDelays(robots).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(parsed == Map(
      ("a.example", "*") -> 7000L,
      ("a.example", RobotsFilter.BotAgent) -> 3000L,
      ("b.example", "*") -> 5000L))
    // ruleTable selects the bot group's delay when the domain has one
    val table = RobotsFilter.ruleTable(spark,
        Seq("big.example.com", "ads.example", "www.site2.example")
          .toDF("domain"))
      .select("domain", "delay_ms").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(table("big.example.com") == 1000L,
      "bot group's 1 s must override the * group")
    assert(table("www.site2.example") == 2000L, "every 2nd tail domain: 2 s")
    assert(!table.contains("ads.example"), "no robots = absent = no delay")
  }
}
