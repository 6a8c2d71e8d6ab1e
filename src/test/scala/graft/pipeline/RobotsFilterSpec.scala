package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** RFC 9309 resolution semantics on hand-built robots files — group
  * binding, longest-match-wins, allow-on-ties, bot-group override — and
  * class liveness on the committed entry's surface.
  */
class RobotsFilterSpec extends AnyFunSuite with SparkSpec {

  private def eval(robots: Map[String, String],
      cand: Seq[(Long, String, String)]): Map[Long, (String, String, Boolean)] = {
    import spark.implicits._
    val rules = RobotsFilter.parseRules(
      robots.toSeq.toDF("domain", "txt"))
    RobotsFilter.evaluate(cand.toDF("lid", "domain", "path"), rules)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(3), r.getString(4), r.getBoolean(5))))
      .toMap
  }

  private val nl = "\n"

  test("longest match wins and allow beats disallow on specificity") {
    val robots = Map("d" ->
      s"User-agent: *${nl}Disallow: /${nl}Allow: /doc$nl")
    val out = eval(robots, Seq(
      (0L, "d", "/doc/7"), (1L, "d", "/d7"), (2L, "d", "")))
    assert(out(0L) == (("*", "/doc", true)),
      "Allow /doc (len 4) must beat Disallow / (len 1)")
    assert(out(1L) == (("*", "/", false)))
    assert(out(2L) == (("", "", true)), "empty path matches no rule")
  }

  test("directives bind to their governing User-agent group, and the " +
    "bot group overrides *") {
    val robots = Map("d" ->
      (s"User-agent: *${nl}Disallow: /a$nl" +
        s"User-agent: ${RobotsFilter.BotAgent}${nl}Disallow: /b$nl"))
    val out = eval(robots, Seq(
      (0L, "d", "/a/x"), (1L, "d", "/b/x")))
    // the bot group exists, so * rules do NOT apply
    assert(out(0L)._3, "/a blocked only in the ignored * group")
    assert(out(1L) == ((RobotsFilter.BotAgent, "/b", false)))
  }

  test("a domain with no rules allows everything") {
    val out = eval(Map("d" -> ""), Seq((0L, "d", "/anything")))
    assert(out(0L) == (("", "", true)))
  }

  test("entry surface: all verdict classes live, ad domain unruled") {
    val rows = RobotsFilter.query(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(3), r.getString(4), r.getString(5),
        r.getString(6), r.getBoolean(7)))
    assert(rows.exists(_._5) && rows.exists(!_._5),
      "both allow and block classes must be live")
    val ads = rows.filter(_._1 == "ads.example")
    assert(ads.nonEmpty && ads.forall(r => r._5 && r._4.isEmpty),
      "no robots = allow all")
    // the head domain uses the bot group and its /doc self links survive
    // the Disallow:/ via longest-match Allow
    val head = rows.filter(_._1 == "big.example.com")
    assert(head.exists(r => r._2.startsWith("/doc") && r._5
      && r._4 == "/doc" && r._3 == RobotsFilter.BotAgent))
    assert(head.exists(r => r._2.startsWith("/d") && !r._2.startsWith("/doc")
      && !r._5), "head /d nav targets blocked by the bot group")
    // some tail domain still runs under the * group
    assert(rows.exists(r => r._3 == "*"))
  }
}
