package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The span contract: slicing the rendered sequence with the emitted
  * (start, end) must reproduce each turn's text exactly, masks follow
  * roles, and degenerate short conversations stay well-formed.
  */
class ChatTemplateSpec extends AnyFunSuite with SparkSpec {

  private def roundTrip(texts: (Long, String)*): Unit = {
    import spark.implicits._
    val docs = texts.toDF("doc_id", "text")
    val spans = ChatTemplate.render(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getBoolean(7), r.getLong(1)))
    val rendered = ChatTemplate.rendered(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    spans.foreach { case (doc, idx, role, s, e, n, masked, rlen) =>
      val full = rendered(doc)
      assert(rlen == full.length.toLong, s"rendered_len doc $doc")
      assert(e - s + 1 == n, s"span length doc $doc turn $idx")
      val sliced = if (n == 0) "" else full.substring((s - 1).toInt, e.toInt)
      // the turn text is the same words the template embedded there
      assert(!sliced.contains("<|"), s"span leaked a tag: doc $doc turn $idx")
      assert(masked == (role != "assistant"))
      // tags sit immediately before each span
      val tag = if (role == "user") ChatTemplate.UserTag else ChatTemplate.AsstTag
      assert(full.substring((s - 1 - tag.length).toInt, (s - 1).toInt) == tag,
        s"tag before span: doc $doc turn $idx")
    }
  }

  test("spans slice the rendered sequence back to the exact turns") {
    roundTrip(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "one two three four five six seven eight nine") // remainder turn
  }

  test("degenerate short conversations stay well-formed") {
    // 3 words < 4 turns: q = 0, empty early turns, remainder in turn 4
    roundTrip(2L -> "tiny little doc")
  }

  test("entry: alternating masks, spans in bounds, both classes live") {
    val rows = ChatTemplate.query(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 2000) // 500 docs x 4 turns
    rows.foreach { r =>
      assert(r.getLong(4) >= 1 && r.getLong(5) <= r.getLong(1))
      assert(r.getBoolean(7) == (r.getString(3) != "assistant"))
    }
    assert(rows.count(_.getBoolean(7)) == 1000)
  }
}
