package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact repeated-substring detection — the character-level dedup pass of
  * "Deduplicating Training Data Makes Language Models Better" (Lee et al.
  * 2022, arXiv:2107.06499, their ExactSubstr): any substring of length ≥ L
  * that occurs at least twice ANYWHERE in the corpus (across docs or within
  * one) marks its occurrences as duplicated text, and maximal runs of
  * duplicated positions are reported as spans. This catches boilerplate,
  * quotes and templated text that document-level MinHash/SimHash dedup
  * ([[Dedup]]) structurally cannot see, because the containing documents
  * are globally dissimilar.
  *
  * Spark-first shape (the reference paper builds a single-node suffix
  * array; a 100 TB corpus cannot):
  *  - ONE native-expression pass per document emits the 57-bit polynomial
  *    fingerprint of every L-gram ([[graft.functions.GramFps]], codegen'd
  *    — zero per-gram string allocations); `posexplode` turns them into
  *    (doc_id, pos, fp) rows with 8-byte integer keys. The first cut
  *    shuffled the raw 20-char grams: measured 746 s at a ×100 corpus
  *    (~150M grams) against ~90 s for this shape — string keys in a
  *    high-cardinality aggregate are the dominant cost, not arithmetic.
  *    Semantics are fingerprint-equality over a 2^57 key space (expected
  *    collisions ≪ 1 even at 10^8 distinct grams); DuckDB replays the
  *    identical fold in BIGINT arithmetic, so the two engines agree
  *    bit-for-bit — even on the astronomically-rare collided value;
  *  - occurrence counting is a map-side-combining HASH aggregate plus a
  *    SHUFFLE_HASH join back (hinted: post-aggregate size estimates
  *    otherwise make Catalyst broadcast the corpus-proportional dup-key
  *    set — measured 131 s at ×10 as a driver-built broadcast) — never a
  *    `count(*) OVER (PARTITION BY gram)` window, whose per-group buffer
  *    machinery over millions of 1-row groups measured 16× slower than
  *    the aggregate at ×10;
  *  - span assembly is gaps-and-islands per document: covered starts with
  *    `pos − row_number()` constant form one island; `[min, max+L−1]` is
  *    the duplicated span. Per-doc partitioned window, combinable aggs.
  *
  * Output is one row per document: covered start count, span count, and
  * duplicated-char total (what the Lee et al. "remove" step would cut) —
  * all BIGINT, zero-filled for clean docs, so the DuckDB hash gate checks
  * every document's verdict including the negatives.
  */
object SubstringDedup {

  /** Minimum duplicated-substring length, in characters. 20 chars ≈ 4
    * synthetic-vocabulary words; measured on the sf0.01 corpus this marks
    * ~15% of start positions duplicated — both verdict classes live (the
    * CmsW lesson: a threshold no row fails, or none passes, gates
    * nothing). Lee et al. use 50 BPE tokens on natural text.
    */
  val GramLen = 20

  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // widen the single-file scan before the per-position fingerprint
    // explode: `grams` is consumed twice (dup agg + join back) and
    // otherwise runs its ~700 fps/doc derivation as one serial task per
    // consumer; the round-robin exchange is shared via ReuseExchange and
    // every downstream agg/window is keyed (order-free). No-op on an
    // already-wide scan (BatchSizing).
    val grams = graft.BatchSizing
      .widen(docs, Dedup.docsStats(spark, dir).rows)
      .selectExpr("doc_id",
        s"posexplode(graft_gram_fps(text, $GramLen)) AS (p0, g)")
      .selectExpr("doc_id", "p0 + 1 AS pos", "g")
    val dup = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where("cnt >= 2").select("g")
    val covered = grams.join(dup.hint("shuffle_hash"), "g")
      .withColumn("isl", expr(
        "pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)"))
    val spans = covered.groupBy("doc_id", "isl").agg(
      count(lit(1)).as("starts"),
      (max("pos") - min("pos") + lit(GramLen)).cast("long").as("chars"))
    val perDoc = spans.groupBy("doc_id").agg(
      sum("starts").as("c"), count(lit(1)).as("s"), sum("chars").as("d"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(c, CAST(0 AS BIGINT)) AS n_covered",
        "coalesce(s, CAST(0 AS BIGINT)) AS n_spans",
        "coalesce(d, CAST(0 AS BIGINT)) AS dup_chars")
      .orderBy("doc_id")
  }

  val substringDedupSql: String = {
    val L = GramLen
    val P = graft.functions.GramFps.P57
    s"""WITH g0 AS (
       |  SELECT doc_id, unnest(range(1, length(text) - ${L - 2})) AS pos, text
       |  FROM documents WHERE length(text) >= $L),
       |gr AS (SELECT doc_id, pos,
       |       list_reduce(list_prepend(0::BIGINT,
       |         list_transform(range(pos, pos + $L),
       |           j -> ord(substr(text, j::INT, 1))::BIGINT)),
       |         (a, c) -> (a * 31 + c) % $P) AS g
       |       FROM g0),
       |c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt FROM gr),
       |cov AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |        FROM c WHERE cnt >= 2),
       |sp AS (SELECT doc_id, isl, count(*) AS starts,
       |       max(pos) - min(pos) + $L AS chars
       |       FROM cov GROUP BY doc_id, isl),
       |pd AS (SELECT doc_id, sum(starts) AS c, count(*) AS s, sum(chars) AS d
       |       FROM sp GROUP BY doc_id)
       |SELECT d0.doc_id,
       |       coalesce(c, 0)::BIGINT AS n_covered,
       |       coalesce(s, 0)::BIGINT AS n_spans,
       |       coalesce(d, 0)::BIGINT AS dup_chars
       |FROM documents d0 LEFT JOIN pd USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Minimum duplicated run length in TOKENS for the token-level pass.
    * Lee et al. 2022 run ExactSubstr on BPE-token streams (50 tokens on
    * natural text); 8 ids of this 256-merge vocabulary ≈ 3 words —
    * measured on the sf0.01 corpus: 18 docs duplicated / 482 clean at 8
    * vs 6/494 at 12 (the doc-group word salting keeps cross-group
    * repeats out of id space, so token repeats are rarer than char
    * repeats) — both verdict classes comfortably live (the CmsW lesson).
    */
  val TokGramLen = 8

  /** Token-level ExactSubstr (r15 verdict item 5) — the PUBLISHED form of
    * Lee et al. 2022: the dedup unit is the BPE TOKEN stream, not raw
    * chars, so a repeated passage is found even when its surface bytes
    * differ only in tokenization-invariant ways, and the gram key is L
    * BIGINTs instead of L chars. This pass runs over
    * [[TokenPack.docStreams]]' id streams (the `pipeline_pack_tokens`
    * artifact — EOS included), so spans come out in TOKEN coordinates,
    * directly usable to cut packed training sequences.
    *
    * Same scale shape as the char pass: the gram key shipped to the
    * shuffle is the 57-bit fold of the L ids (8 bytes/gram, the
    * [[graft.functions.GramFps]] economics — here the fold is a row-local
    * HOF over the already-materialized id array, O(L) per position at
    * test L), occurrence counting is the map-side-combining aggregate +
    * SHUFFLE_HASH join back, span assembly is gaps-and-islands per doc.
    */
  def substringDedupTokensCore(docs: DataFrame, streams: DataFrame,
      L: Int): DataFrame = {
    val P = graft.functions.GramFps.P57
    val grams = streams
      .where(s"size(ids) >= $L")
      .selectExpr("doc_id",
        s"posexplode(transform(sequence(1, size(ids) - ${L - 1}), " +
          s"p -> aggregate(slice(ids, p, $L), CAST(0 AS BIGINT), " +
          s"(a, v) -> (a * 31 + v) % $P))) AS (p0, g)")
      .selectExpr("doc_id", "CAST(p0 + 1 AS BIGINT) AS pos", "g")
    val dup = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where("cnt >= 2").select("g")
    val covered = grams.join(dup.hint("shuffle_hash"), "g")
      .withColumn("isl", expr(
        "pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)"))
    val spans = covered.groupBy("doc_id", "isl").agg(
      count(lit(1)).as("starts"),
      (max("pos") - min("pos") + lit(L)).cast("long").as("toks"))
    val perDoc = spans.groupBy("doc_id").agg(
      sum("starts").as("c"), count(lit(1)).as("s"), sum("toks").as("d"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(c, CAST(0 AS BIGINT)) AS n_covered",
        "coalesce(s, CAST(0 AS BIGINT)) AS n_spans",
        "coalesce(d, CAST(0 AS BIGINT)) AS dup_tokens")
      .orderBy("doc_id")
  }

  def substringDedupTokens(spark: SparkSession, dir: String): DataFrame =
    substringDedupTokensCore(
      Tables.load(spark, dir, "documents"),
      // NOT widened (r17, measured): the entry's cost is the BPE encode
      // inside docStreams, upstream of any exchange this call could add —
      // widening the streams moved nothing (1.91 vs 2.00 s at sf0.1)
      TokenPack.docStreams(spark, dir).select("doc_id", "ids"),
      TokGramLen)

  /** Whole-chain replay: [[TokenPack.docsCtes]] (the trained tokenizer +
    * id streams, shared verbatim with `pipeline_pack_tokens`), then the
    * identical fold/count/island chain in token coordinates.
    */
  val substringDedupTokensSql: String = {
    val L = TokGramLen
    val P = graft.functions.GramFps.P57
    s"""WITH ${TokenPack.docsCtes},
       |tg0 AS (
       |  SELECT doc_id, unnest(range(1, dlen - ${L - 2})) AS pos, ids
       |  FROM docs2 WHERE dlen >= $L),
       |tgr AS (SELECT doc_id, pos,
       |        list_reduce(list_prepend(0::BIGINT,
       |          ids[pos::INT : (pos + ${L - 1})::INT]),
       |          (a, c) -> (a * 31 + c) % $P) AS g
       |        FROM tg0),
       |tc AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt
       |       FROM tgr),
       |tcov AS (SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
       |           AS isl
       |         FROM tc WHERE cnt >= 2),
       |tsp AS (SELECT doc_id, isl, count(*) AS starts,
       |        max(pos) - min(pos) + $L AS toks
       |        FROM tcov GROUP BY doc_id, isl),
       |tpd AS (SELECT doc_id, sum(starts) AS c, count(*) AS s,
       |               sum(toks) AS d
       |        FROM tsp GROUP BY doc_id)
       |SELECT d0.doc_id,
       |       coalesce(c, 0)::BIGINT AS n_covered,
       |       coalesce(s, 0)::BIGINT AS n_spans,
       |       coalesce(d, 0)::BIGINT AS dup_tokens
       |FROM documents d0 LEFT JOIN tpd USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_substring_dedup" -> ((s: SparkSession, d: String) => substringDedup(s, d)),
    "text_substring_dedup_tokens" ->
      ((s: SparkSession, d: String) => substringDedupTokens(s, d)))

  val oracles: Map[String, String] = Map(
    "text_substring_dedup" -> substringDedupSql,
    "text_substring_dedup_tokens" -> substringDedupTokensSql)
}
