package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Contracts of `mm_interleaved_pack` (MMC4-shape interleaving): fixed
  * sequence lengths survive the splice, exactly one placeholder of the
  * right id lands per accepted image, and — via an independent Scala
  * replica of the acceptance gate, the sentence argmax, and the token
  * offset arithmetic — every image lands immediately BEFORE the first
  * token of its best-aligned sentence.
  */
class InterleavedPackSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // (shard, seq_id, doc_id, pos_in_seq, tok_start, span_len, span_idsum,
  //  doc_tokens, img_sent, img_tok)
  private type Row10 =
    (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)

  private lazy val out: Seq[Row10] =
    Multimodal.interleavedPack(spark, dir).collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9)))

  test("every non-final sequence is exactly SeqLen tokens after the splice") {
    val bySeq = out.groupBy(r => (r._1, r._2))
    val lastSeq = out.groupBy(_._1).map { case (sh, rs) =>
      sh -> rs.map(_._2).max
    }
    bySeq.foreach { case ((sh, seq), rows) =>
      val total = rows.map(_._6).sum
      if (seq < lastSeq(sh))
        assert(total == TokenPack.SeqLen,
          s"shard $sh seq $seq holds $total tokens, want ${TokenPack.SeqLen}")
      else assert(total <= TokenPack.SeqLen)
    }
  }

  test("per document the spans reconstruct the spliced stream contiguously") {
    out.groupBy(_._3).foreach { case (doc, rows) =>
      val dlen = rows.head._8
      assert(rows.forall(_._8 == dlen))
      val sorted = rows.sortBy(_._5)
      assert(sorted.head._5 == 0L)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 + a._6 == b._5,
          s"doc $doc spans not contiguous at ${a._5}+${a._6}")
        case _ => ()
      }
      assert(sorted.last._5 + sorted.last._6 == dlen)
    }
  }

  test("vs the plain packer: spliced docs gain exactly one placeholder id, " +
    "others are untouched") {
    val (_, eosId) = TokenPack.wordIdTable(spark, dir)
    val imgId = eosId + 1
    val plain = TokenPack.query(spark, dir).collect().toSeq
      .map(r => (r.getLong(2), r.getLong(5), r.getLong(6), r.getLong(7)))
    val plainSum = plain.groupBy(_._1).map { case (d, rs) =>
      d -> (rs.map(_._3).sum, rs.head._4)
    }
    out.groupBy(_._3).foreach { case (doc, rows) =>
      val spliced = rows.head._10 >= 0
      assert(rows.forall(r => (r._10 >= 0) == spliced))
      val (pSum, pLen) = plainSum(doc)
      val iSum = rows.map(_._7).sum
      val iLen = rows.head._8
      if (spliced) {
        assert(iLen == pLen + 1, s"doc $doc spliced stream must be 1 longer")
        assert(iSum == pSum + imgId,
          s"doc $doc id-sum must grow by exactly the placeholder id")
      } else {
        assert(iLen == pLen && iSum == pSum,
          s"doc $doc without an accepted image must pack identically")
      }
    }
    // at least one of each class on the committed corpus, else the entry
    // proves nothing
    assert(out.exists(_._10 >= 0) && out.exists(_._10 < 0))
  }

  test("independent replica: the image lands immediately before the first " +
    "token of its best-aligned sentence") {
    val W = LineDedup.LineWords
    val qs = Similarity.QScale.toDouble

    def raster(s: String): Array[Double] =
      Array.tabulate(64)(i => if (i < s.length) s.charAt(i).toDouble
                              else 'x'.toDouble)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length && i < b.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def q(a: Array[Double], b: Array[Double]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * qs + 0.5).toLong

    val (wordIdsDf, _) = TokenPack.wordIdTable(spark, dir)
    val wordLen: Map[String, Int] = wordIdsDf.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).length).toMap
    val embeddings: Map[Long, Array[Double]] =
      graft.Tables.load(spark, dir, "embeddings")
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val texts: Map[Long, String] =
      graft.Tables.load(spark, dir, "documents")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

    val expected: Map[Long, (Long, Long)] = texts.flatMap {
      case (doc, text) if text.nonEmpty =>
        val iv = raster(text)
        val accepted = embeddings.get(doc).exists(cv =>
          q(iv, cv) >= Multimodal.CaptionAcceptQ)
        if (!accepted) None
        else {
          val words = text.split(" ", -1)
          val sentences = words.grouped(W).map(_.mkString(" ")).toVector
          val cands = sentences.zipWithIndex.filter(_._1.nonEmpty)
          if (cands.isEmpty) None
          else {
            val best = cands
              .map { case (s, i) => (q(iv, raster(s)), i) }
              .maxBy { case (sc, i) => (sc, -i) }._2
            val tok = words.zipWithIndex
              .filter { case (w0, wpos) => w0.nonEmpty && wpos / W < best }
              .map { case (w0, _) =>
                wordLen(s"$w0~${doc % Tokenizer.VocabMult}")
              }.sum.toLong
            Some(doc -> (best.toLong, tok))
          }
        }
      case _ => None
    }

    out.groupBy(_._3).foreach { case (doc, rows) =>
      val (sent, tok) = (rows.head._9, rows.head._10)
      expected.get(doc) match {
        case Some((eSent, eTok)) =>
          assert(sent == eSent && tok == eTok,
            s"doc $doc placed at (sent=$sent, tok=$tok), " +
              s"replica says ($eSent, $eTok)")
        case None =>
          assert(sent == -1L && tok == -1L,
            s"doc $doc should carry no image, got (sent=$sent, tok=$tok)")
      }
    }
    assert(expected.nonEmpty, "replica must accept at least one image")
  }
}
