package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Brute-force replay + liveness gates for the exact repeated-substring
  * operator (oracle equality is the driver gate's job; this pins the
  * SEMANTICS against an independent in-memory reimplementation).
  */
class SubstringDedupSpec extends AnyFunSuite with SparkSpec {

  private val L = SubstringDedup.GramLen

  /** Independent brute-force replay: count every L-gram occurrence across
    * the corpus with a plain Scala map, mark covered starts, merge islands.
    */
  private def brute(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t) <- docs; i <- 0 to t.length - L)
      counts.updateWith(t.substring(i, i + L))(c => Some(c.getOrElse(0) + 1))
    docs.map { case (id, t) =>
      val covered = (0 to t.length - L).filter(i => counts(t.substring(i, i + L)) >= 2)
      val islands = covered.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }
      id -> ((covered.size.toLong, islands.size.toLong,
        islands.map { case (s, e) => e - s + L }.sum.toLong))
    }.toMap
  }

  test("constructed corpus: operator matches an independent brute-force replay") {
    val tmp = graft.TempDirs.scoped("ssdedup-spec")
    import spark.implicits._
    val boiler = "COMMON BOILERPLATE FOOTER TEXT SHARED EVERYWHERE"
    val docs: Seq[(Long, String)] = Seq(
      0L -> s"unique alpha content one $boiler trailing bits x",
      1L -> s"different beta payload $boiler and more stuff here",
      // within-doc repeat: the same 24-char block twice in one doc
      2L -> ("REPEATED-BLOCK-24-CHARS! middle filler REPEATED-BLOCK-24-CHARS! tail"),
      // clean doc: nothing shared, nothing repeated
      3L -> "entirely singular text with no duplicated windows at all 12345",
      // shorter than L: must appear with zeros, not crash or vanish
      4L -> "tiny doc")
    docs.map { case (id, t) => (id, t, "en", s"src$id", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val expected = brute(docs)
    val got = SubstringDedup.substringDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == docs.map(_._1).toSet, "every doc must get a verdict row")
    assert(got == expected, s"operator disagrees with brute force:\n$got\nvs\n$expected")
    // the constructed corpus must exercise all three cases for real
    assert(got(2L)._2 >= 1, "within-doc repeat must form a span")
    assert(got(3L) == ((0L, 0L, 0L)), "clean doc must be all zeros")
    assert(got(4L) == ((0L, 0L, 0L)), "sub-L doc must be all zeros")
    assert(got(0L)._3 >= boiler.length, "cross-doc boilerplate must be covered")
  }

  test("graft_gram_fps equals the per-substring polynomial fold, edge cases included") {
    graft.functions.VectorExpressions.register(spark)
    val p = graft.functions.GramFps.P57
    def fold(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c) % p)
    val texts = Seq(
      "key agg row scan slow fast table value part hash",
      "short", // shorter than L: empty array
      "exactly-twenty-chars", // == L: one gram
      "a" * 25)
    texts.foreach { t =>
      val got = spark.range(1).selectExpr(s"graft_gram_fps('$t', $L) AS a")
        .head().getSeq[Long](0)
      val want = if (t.length < L) Seq.empty
        else (0 to t.length - L).map(i => fold(t.substring(i, i + L)))
      assert(got == want, s"fps mismatch on '$t'")
    }
  }

  test("token-level pass: a planted cross-doc duplicate run maps to its " +
    "span in TOKEN coordinates, and an independent brute force agrees") {
    import spark.implicits._
    val Lt = 5 // spec-local gram length exercised through the core
    // id streams with a planted 7-id run shared by docs 0 and 1, a
    // within-doc repeat in doc 2, a clean doc 3, and a sub-L doc 4
    val shared = Vector(901L, 902L, 903L, 904L, 905L, 906L, 907L)
    val streams: Seq[(Long, Seq[Long])] = Seq(
      0L -> (Vector(1L, 2L, 3L) ++ shared ++ Vector(4L, 5L)),
      1L -> (Vector(6L, 7L) ++ shared ++ Vector(8L)),
      2L -> (Vector(11L, 12L, 13L, 14L, 15L, 99L,
        11L, 12L, 13L, 14L, 15L)),
      3L -> Vector(21L, 22L, 23L, 24L, 25L, 26L, 27L),
      4L -> Vector(31L, 32L, 33L))
    val docsDf = streams.map(_._1).toDF("doc_id")
    val streamsDf = streams.toDF("doc_id", "ids")
    val got = SubstringDedup
      .substringDedupTokensCore(docsDf, streamsDf, Lt).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // independent brute force over the raw id sequences
    val counts = scala.collection.mutable.Map.empty[Seq[Long], Int]
    for ((_, ids) <- streams; i <- 0 to ids.length - Lt)
      counts.updateWith(ids.slice(i, i + Lt))(c => Some(c.getOrElse(0) + 1))
    val expected = streams.map { case (id, ids) =>
      val covered = (0 to ids.length - Lt)
        .filter(i => counts(ids.slice(i, i + Lt)) >= 2)
      val islands = covered.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }
      id -> ((covered.size.toLong, islands.size.toLong,
        islands.map { case (s, e) => e - s + Lt }.sum.toLong))
    }.toMap
    assert(got == expected,
      s"token operator disagrees with brute force:\n$got\nvs\n$expected")
    // the planted duplicate is found, in token coordinates: the shared
    // 7-id run yields 7 - Lt + 1 = 3 covered starts merging to ONE span
    // of exactly 7 tokens in BOTH carriers
    assert(got(0L) == ((3L, 1L, 7L)), "planted cross-doc span in doc 0")
    assert(got(1L) == ((3L, 1L, 7L)), "planted cross-doc span in doc 1")
    assert(got(2L)._2 == 2L, "within-doc repeat must mark both copies")
    assert(got(3L) == ((0L, 0L, 0L)), "clean doc must be all zeros")
    assert(got(4L) == ((0L, 0L, 0L)), "sub-L stream must be all zeros")
  }

  test("token-level pass on testdata: both verdict classes live, island " +
    "arithmetic holds in token coordinates") {
    val Lt = SubstringDedup.TokGramLen
    val rows = SubstringDedup
      .substringDedupTokens(spark, "/root/testdata/sf0.001").collect()
    assert(rows.count(_.getLong(2) == 0L) > 0, "some docs must be span-free")
    assert(rows.count(_.getLong(2) > 0L) > 0, "some docs must carry spans")
    rows.foreach { r =>
      val (cov, spans, toks) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(cov >= spans)
      assert(spans == 0L || toks == cov + spans * (Lt - 1),
        s"token island arithmetic broken: cov=$cov spans=$spans toks=$toks")
    }
  }

  test("testdata: both verdict classes are live and spans are sane") {
    val rows = SubstringDedup.substringDedup(spark, "/root/testdata/sf0.001").collect()
    assert(rows.count(_.getLong(2) == 0L) > 0, "some docs must be span-free")
    assert(rows.count(_.getLong(2) > 0L) > 0, "some docs must carry spans")
    rows.foreach { r =>
      val (cov, spans, chars) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(cov >= spans, "each span merges >= 1 covered start")
      // each island of n starts spans exactly n + L - 1 chars
      assert(spans == 0L || chars == cov + spans * (L - 1),
        s"island arithmetic broken: cov=$cov spans=$spans chars=$chars")
    }
  }
}
