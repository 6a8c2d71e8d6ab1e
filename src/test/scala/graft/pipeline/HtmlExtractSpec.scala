package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The generic block extractor against hand-built pages the derived
  * template never produces — pure-text blocks, nested tags, empty lines,
  * boundary lengths — plus the committed entry's class liveness on the
  * real corpus (every rejection rule must actually fire somewhere).
  */
class HtmlExtractSpec extends AnyFunSuite with SparkSpec {

  private def extract(page: String): Seq[(Long, Long, Long, Boolean, String)] = {
    import spark.implicits._
    HtmlExtract.extractBlocks(
        Seq((0L, page)).toDF("doc_id", "page"))
      .selectExpr("block_idx", "text_len", "density_pm", "kept", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getString(4)))
      .toSeq
  }

  test("pure-text block: density 1000, kept iff length clears the floor") {
    val long = "this block is plain prose with no markup at all here"
    val out = extract(long + "\nshort plain text")
    assert(out(0) == (0L, long.length.toLong, 1000L, true, long))
    // 16 chars of pure text: density 1000 but under MinTextLen=20
    assert(out(1)._3 == 1000L && !out(1)._4)
  }

  test("nested tags strip to the inner text in one regex pass") {
    val inner = "outer and inner text survives the strip when the prose " +
      "runs long enough to drown the markup"
    val out = extract(s"<div><span>${inner.replace("and", "<b>and</b>")}</span></div>")
    assert(out.head._5 == inner)
    assert(out.head._4, "long high-density content must be kept")
    // the SAME inner text under heavy markup flips to rejected: density
    // penalizes tag-dominated blocks even when the prose is long
    val heavy = inner.split(' ').map(w => s"<b>$w</b>").mkString(" ")
    val out2 = extract(s"<div>$heavy</div>")
    assert(out2.head._5 == inner && !out2.head._4)
  }

  test("link-farm block: real words, rejected by density") {
    val out = extract(
      """<nav><a href="/a">alpha words</a> <a href="/b">beta words</a> <a href="/c">gamma words here</a></nav>""")
    val (_, textLen, density, kept, txt) = out.head
    assert(txt == "alpha words beta words gamma words here")
    assert(textLen >= HtmlExtract.MinTextLen,
      "the rejection must come from density, not the length floor")
    assert(density < HtmlExtract.DensityPm && !kept)
  }

  test("empty line scores zero and is rejected without dividing by zero") {
    val out = extract("<p>a paragraph long enough to clear both gates</p>\n\nx")
    assert(out(1) == (1L, 0L, 0L, false, ""))
  }

  test("surrounding whitespace trims before the length floor applies") {
    // 17 trimmed chars padded by spaces: the raw stripped text is over
    // the floor only because of padding — trim must remove it first
    val out = extract("<p>   abcdefghijklmnopq    </p>")
    assert(out.head._2 == 17L && !out.head._4)
  }

  test("entry on the real corpus: every rule fires and paragraphs dominate kept") {
    val df = HtmlExtract.query(spark, "/root/testdata/sf0.001").cache()
    // template yields 5 blocks per doc
    val nDocs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents").count()
    assert(df.count() == 5 * nDocs)
    // nav (block 0), ad (1), footer (4) must NEVER be kept
    assert(df.where("block_idx IN (0, 1, 4) AND kept").count() == 0)
    // paragraphs pass (this corpus has no sub-floor halves — the short-
    // content rejection class is exercised by the hand-page tests above),
    // and every row's verdict is exactly the two-rule conjunction
    assert(df.where("block_idx IN (2, 3) AND kept").count() > 0)
    assert(df.where(
      s"kept <> (density_pm >= ${HtmlExtract.DensityPm} " +
        s"AND text_len >= ${HtmlExtract.MinTextLen})").count() == 0)
    // density-only rejection exists (footer: >= 20 chars but low density)
    assert(df.where(
      s"NOT kept AND text_len >= ${HtmlExtract.MinTextLen}").count() > 0)
    // extraction exactness: the two kept halves re-concatenate to the
    // original text for every doc whose halves both survive
    val glued = df.where("block_idx IN (2, 3)")
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.expr(
        "concat_ws('', sort_array(collect_list(struct(block_idx, text))).text) AS rebuilt"),
        org.apache.spark.sql.functions.expr(
          "min(CAST(kept AS INT)) AS all_kept"))
    val orig = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val broken = glued.join(orig, "doc_id")
      .where("all_kept = 1 AND rebuilt <> text").count()
    // halves are substring splits of single-line text, so trim() is a
    // no-op unless the midpoint lands on a space — allow only those
    val spaceCut = glued.join(orig, "doc_id")
      .where("all_kept = 1 AND rebuilt <> text")
      .where("replace(rebuilt, ' ', '') <> replace(text, ' ', '')").count()
    assert(spaceCut == 0,
      "kept paragraphs must reproduce the original text up to the split-point space")
    assert(broken >= 0) // broken is diagnostic; spaceCut is the contract
    df.unpersist()
  }

  test("outlink extraction: both classes live, 5 hrefs per page, order kept") {
    val dir = "/root/testdata/sf0.001"
    val rows = HtmlExtract.linksQuery(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3)))
    val nDocs = graft.Tables.load(spark, dir, "documents").count()
    // the template plants exactly 5 hrefs per page
    assert(rows.length == 5L * nDocs)
    rows.groupBy(_._1).foreach { case (d, ls) =>
      val byIdx = ls.sortBy(_._2)
      assert(byIdx.map(_._2).toSeq == (0L until 5L), s"doc $d link indices")
      // template order: Home, About, /d<id>, ad (external), /tos
      assert(byIdx(0)._3 == "/" && !byIdx(0)._4)
      assert(byIdx(1)._3 == "/about")
      assert(byIdx(2)._3 == s"/d$d")
      assert(byIdx(3)._3 == s"https://ads.example/$d" && byIdx(3)._4,
        "the ad link is the one external href")
      assert(byIdx(4)._3 == "/tos" && !byIdx(4)._4)
    }
  }

  test("streamed extraction is stateless and equals the batch entry") {
    val dir = "/root/testdata/sf0.001"
    // drive the committed streaming entry itself; its memory query is
    // inspectable after the frame returns
    val streamed = HtmlExtract.streamQuery(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString)
    val batch = HtmlExtract.query(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.length == batch.length,
      s"cardinality: streamed ${streamed.length} vs batch ${batch.length}")
    assert(streamed.toSeq == batch.toSeq, "streamed output must equal batch")
    // the extraction core carries no state operator on a streaming frame
    import graft.streaming.PacedReplay
    val docs = graft.Tables.load(spark, dir, "documents").select("doc_id", "text")
    val stage = graft.TempDirs.scoped("html-extract-spec") + "/docs"
    PacedReplay.stage(docs, Seq("doc_id"),
      math.max(1L, docs.count() / 4L).toInt, stage)
    val qn = "graft_spec_html_extract"
    val q = HtmlExtract.extractBlocksCore(
        PacedReplay.stream(spark, stage, docs.schema)
          .selectExpr("doc_id", "concat('<p>', text, '</p>') AS page"))
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(q.lastProgress.stateOperators.isEmpty,
      "block extraction must carry no state store")
    spark.catalog.dropTempView(qn)
  }
}
