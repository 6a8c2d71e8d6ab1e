package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** BPE trainer invariants: greedy merge semantics of the bracketed-string
  * representation, monotone pair counts, lossless segmentation, and
  * determinism. Cross-engine value equality is the driver oracle's job.
  */
class TokenizerSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bracketed replace implements greedy left-to-right BPE pairing") {
    import spark.implicits._
    val df = Seq("<a><a><a>", "<a><a><a><a>", "<ab><a>", "<b><a><b>")
      .toDF("syms")
      .selectExpr("syms", "replace(syms, '<a><a>', '<aa>') AS merged")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(df("<a><a><a>") == "<aa><a>")     // greedy, non-overlapping
    assert(df("<a><a><a><a>") == "<aa><aa>") // adjacent pairs both merge
    assert(df("<ab><a>") == "<ab><a>")       // no cross-symbol false match
    assert(df("<b><a><b>") == "<b><a><b>")   // pair order matters
  }

  test("merge ranks have non-increasing pair counts and distinct pairs") {
    val merges = Tokenizer.bpeTrain(spark, dir).collect()
    assert(merges.length == Tokenizer.Merges)
    val counts = merges.map(_.getLong(4))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "greedy argmax implies non-increasing pair counts")
    val pairs = merges.map(r => (r.getString(1), r.getString(2)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("segmentation is lossless and strictly compresses merged words") {
    val rows = Tokenizer.bpeSegment(spark, dir).collect()
    rows.foreach { r =>
      val word = r.getString(0)
      val syms = r.getString(2)
      // stripping brackets reconstructs the word exactly
      assert(syms.stripPrefix("<").stripSuffix(">")
        .split("><").mkString == word, s"lossy segmentation of '$word'")
      val n = r.getLong(3)
      assert(n >= 1 && n <= word.length)
    }
    // at least one word actually got compressed below char count
    assert(rows.exists(r => r.getLong(3) < r.getString(0).length))
  }

  test("training is deterministic across runs") {
    val a = Tokenizer.bpeTrain(spark, dir).collect().map(_.toSeq).toSeq
    val b = Tokenizer.bpeTrain(spark, dir).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("256-merge trainer: full rank ladder, monotone counts, live pairs") {
    val merges = Tokenizer.bpeTrainBig(spark, dir).collect()
    assert(merges.length == Tokenizer.MergesBig)
    assert(merges.map(_.getLong(0)).toSeq ==
      (1L to Tokenizer.MergesBig.toLong))
    val counts = merges.map(_.getLong(4))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "greedy argmax implies non-increasing pair counts")
    assert(counts.last >= 1, "every learned rule must have a live count")
    val pairs = merges.map(r => (r.getString(1), r.getString(2)))
    assert(pairs.distinct.length == pairs.length)
    // merged symbols chain: every rule's sides are single chars or the
    // product of an EARLIER rule — the defining BPE closure property
    val known = scala.collection.mutable.Set.empty[String]
    merges.foreach { r =>
      val (l, rr) = (r.getString(1), r.getString(2))
      assert(l.length == 1 || known(l), s"left '$l' unknown at rank ${r.getLong(0)}")
      assert(rr.length == 1 || known(rr), s"right '$rr' unknown at rank ${r.getLong(0)}")
      known += r.getString(3)
    }
  }

  test("encode under the 256-merge model: vocabulary-complete join, " +
    "per-word token bounds") {
    val dir = "/root/testdata/sf0.001"
    val enc = Tokenizer.bpeEncodeBig(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // dictionary join loses nothing: per-doc word sums equal the corpus
    val words = graft.Tables.load(spark, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS w").where("w <> ''").count()
    assert(enc.map(_._2).sum == words, "every corpus word must encode")
    // each word's token count is in [1, len(word)]; summed per doc that
    // bounds n_bpe_tokens by [n_words, total chars]
    enc.foreach { case (doc, nw, nb) =>
      assert(nb >= nw, s"doc $doc: tokens under word count")
    }
    // 256 merges must actually compress: strictly fewer tokens than the
    // character baseline (sum of word lengths incl. the ~k suffixes)
    val chars = graft.Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "explode(split(text, ' ')) AS w")
      .where("w <> ''")
      .selectExpr("length(w) + 2 AS wl") // +2: the ~k suffix
      .agg(org.apache.spark.sql.functions.sum("wl")).collect()(0).getLong(0)
    assert(enc.map(_._3).sum < chars / 2,
      "the trained model must compress well below the char baseline")
  }

  test("local merge loop == the distributed rounds on the same surface") {
    // the driver-side loop (bpeTrainBig's engine) must be bit-equal to
    // the per-round Spark aggregation for the rounds both can run: rerun
    // the distributed argmax 8 rounds ON THE DERIVED SURFACE and compare
    import org.apache.spark.sql.functions._
    var w = Tokenizer.wordCountsBig(spark, dir)
      .selectExpr("word", "cnt",
        "concat_ws('', transform(split(word, ''), c -> concat('<', c, '>'))) AS syms")
    val dist = Seq.newBuilder[(Long, String, String, String, Long)]
    for (rank <- 1 to 8) {
      val top = w
        .selectExpr("cnt",
          "split(substring(syms, 2, length(syms) - 2), '><') AS s")
        .where("size(s) >= 2")
        .selectExpr("cnt",
          "explode(transform(sequence(1, size(s) - 1), " +
            "i -> struct(element_at(s, i) AS l, element_at(s, i + 1) AS r))) AS p")
        .groupBy("p.l", "p.r").agg(sum("cnt").as("pc"))
        .orderBy(desc("pc"), asc("l"), asc("r"))
        .limit(1).collect()
      val (l, r, pc) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      dist += ((rank.toLong, l, r, l + r, pc))
      w = w.withColumn("syms", expr(s"replace(syms, '<$l><$r>', '<$l$r>')"))
    }
    val local = Tokenizer.bpeTrainBig(spark, dir).collect()
      .take(8).map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(local == dist.result(),
      "driver-side merge loop diverged from the distributed rounds")
  }
}
