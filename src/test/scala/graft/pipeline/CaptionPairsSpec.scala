package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Invariants of the CLIP-style pairing entry: the image vector really
  * is the decoded first-frame luma, both gate classes live, hard
  * negatives exclude the aligned caption and respect the rank contract.
  */
class CaptionPairsSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("pairs: one per caption with an image, both gate classes live") {
    val df = Multimodal.captionPairs(spark, dir).cache()
    val caps = graft.Tables.load(spark, dir, "embeddings").count()
    val pairs = df.where("kind = 'pair'")
    assert(pairs.count() == caps,
      "every caption with a non-empty image doc must pair exactly once")
    assert(pairs.where("doc_id <> vec_id").count() == 0)
    assert(pairs.where("accepted").count() > 0, "accept class idle")
    assert(pairs.where("NOT accepted").count() > 0, "reject class idle")
    // the gate is exactly the quantized threshold
    assert(pairs.where(
      s"accepted <> (simq >= ${Multimodal.CaptionAcceptQ})").count() == 0)
    df.unpersist()
  }

  test("hard negatives: per-anchor rank ladder, aligned caption excluded") {
    val negs = Multimodal.captionPairs(spark, dir)
      .where("kind = 'hardneg'").collect()
    val byAnchor = negs.groupBy(_.getLong(1))
    assert(byAnchor.keySet == (0L until Multimodal.CaptionAnchors).toSet)
    byAnchor.foreach { case (a, rows) =>
      assert(rows.map(_.getLong(4)).sorted.toSeq ==
        (1L to Multimodal.CaptionHnK), s"anchor $a rank ladder broken")
      assert(rows.forall(_.getLong(2) != a),
        s"anchor $a mined its own aligned caption as a negative")
      assert(rows.forall(!_.getBoolean(5)), "negatives are never accepted")
      // ranks ordered by descending score with vec_id tiebreak
      val byRank = rows.sortBy(_.getLong(4)).map(r => (r.getLong(3), r.getLong(2)))
      byRank.zip(byRank.tail).foreach { case ((s1, v1), (s2, v2)) =>
        assert(s1 > s2 || (s1 == s2 && v1 < v2))
      }
    }
  }

  test("image vector is the decoded first-frame luma (codec path, not a shortcut)") {
    // the luma plane leads the frame in both colorspaces, so the
    // first 64 padded text bytes ARE the decoded frame-0 Y raster;
    // check via the published pair score of a hand-checkable doc
    import spark.implicits._
    val doc = graft.Tables.load(spark, dir, "documents")
      .where("doc_id = 1").select("text").as[String].head()
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .where("vec_id = 1").selectExpr("transform(embedding, x -> CAST(x AS DOUBLE))")
      .collect().head.getSeq[Double](0)
    val iv = doc.padTo(64, 'x').take(64).map(_.toDouble)
    val cos = iv.zip(emb).map { case (a, b) => a * b }.sum /
      (math.sqrt(iv.map(v => v * v).sum) * math.sqrt(emb.map(v => v * v).sum))
    val wantQ = math.floor(cos * Similarity.QScale + 0.5).toLong
    val gotQ = Multimodal.captionPairs(spark, dir)
      .where("kind = 'pair' AND doc_id = 1").collect().head.getLong(3)
    assert(gotQ == wantQ, s"decoded-luma score $gotQ != replica $wantQ")
  }
}
