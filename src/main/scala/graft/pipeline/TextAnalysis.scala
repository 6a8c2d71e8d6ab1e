package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text analysis for large-scale training-data pipelines over `documents`:
  * token counting, language ID, quality scoring, document fingerprinting.
  *
  * All ops are single-pass, shuffle-free per-row expressions (Catalyst
  * codegen / higher-order array functions — no UDFs), so they scale linearly
  * with input splits at 100 TB: a scan-project with pushdown-able column
  * pruning and zero exchanges.
  *
  * Each op is written against a dual-dialect contract: the Spark expression
  * and the DuckDB oracle compute bit-identical results (integer arithmetic,
  * identical regexes, identical fold order).
  */
object TextAnalysis {

  /** Deterministic polynomial rolling hash of a string (mod 1e9+7), the
    * fingerprint primitive — exact integer arithmetic, portable across
    * engines. h = fold(codepoints, 0, (a,c) => (a*31 + c) mod p).
    */
  val FpMod = 1000000007L
  /** Native codegen'd expression (graft.functions.PolyHash) — bit-identical
    * to the HOF form `aggregate(transform(split(s,''), ascii), ...)` for
    * ASCII/BMP text; registered by Tables.load.
    */
  def polyHashExpr(colName: String): String = s"graft_polyhash($colName)"

  /** The composition-of-built-ins form (kept as the equivalence reference). */
  def polyHashHofExpr(colName: String): String =
    s"aggregate(transform(split($colName, ''), c -> CAST(ascii(c) AS BIGINT)), " +
      s"CAST(0 AS BIGINT), (a, b) -> (a * 31 + b) % $FpMod)"
  def polyHashSql(colName: String): String =
    s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(string_split($colName, ''), c -> ord(c)::BIGINT)), " +
      s"(a, b) -> (a * 31 + b) % $FpMod)"

  /** BPE-ish token regex: letter runs, digit runs, single punctuation. */
  val BpeRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Tiny per-language marker dictionaries for the n-gram/stopword heuristic
    * language ID (word-boundary matches).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "es", "una"),
    "fr" -> Seq("le", "les", "des", "est", "une", "dans"))

  private def markerRegex(words: Seq[String]): String =
    words.map(w => s"\\b$w\\b").mkString("|")

  /** Q — token counting: whitespace tokens + BPE-ish regex tokens + chars. */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents").selectExpr(
      "doc_id",
      "CAST(length(text) AS BIGINT) AS n_chars_m",
      "CAST(size(split(text, ' ')) AS BIGINT) AS ws_tokens",
      s"CAST(size(regexp_extract_all(text, '${BpeRegex.replace("\\", "\\\\")}', 0)) AS BIGINT) AS bpe_tokens"
    ).orderBy("doc_id")

  val tokensSql: String =
    s"""SELECT doc_id, length(text)::BIGINT AS n_chars_m,
       |       len(string_split(text, ' '))::BIGINT AS ws_tokens,
       |       len(regexp_extract_all(text, '$BpeRegex'))::BIGINT AS bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Q — language ID: marker-word votes per language, deterministic argmax
    * (ties resolved in dictionary order en > de > es > fr).
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val counts = LangMarkers.map { case (lang, words) =>
      s"CAST(size(regexp_extract_all(lower(text), '${markerRegex(words).replace("\\", "\\\\")}', 0)) AS BIGINT) AS c_$lang"
    }
    val pred =
      """CASE WHEN c_en >= greatest(c_de, c_es, c_fr) THEN 'en'
        |     WHEN c_de >= greatest(c_es, c_fr) THEN 'de'
        |     WHEN c_es >= c_fr THEN 'es'
        |     ELSE 'fr' END AS lang_pred""".stripMargin
    // widen the single-file scan before the four per-doc regex counts
    // (row-local, otherwise one serial task; BatchSizing — no-op on a
    // wide scan). Pure projection + final sort: partition-order-free.
    graft.BatchSizing.widen(Tables.load(spark, dir, "documents"),
        graft.pipeline.Dedup.docsStats(spark, dir).rows)
      .selectExpr(Seq("doc_id", "lang") ++ counts: _*)
      .selectExpr("doc_id", "lang", "c_en", "c_de", "c_es", "c_fr", pred)
      .orderBy("doc_id")
  }

  val langIdSql: String = {
    val counts = LangMarkers.map { case (lang, words) =>
      s"len(regexp_extract_all(lower(text), '${markerRegex(words)}'))::BIGINT AS c_$lang"
    }.mkString(",\n       ")
    s"""SELECT doc_id, lang, c_en, c_de, c_es, c_fr,
       |       CASE WHEN c_en >= greatest(c_de, c_es, c_fr) THEN 'en'
       |            WHEN c_de >= greatest(c_es, c_fr) THEN 'de'
       |            WHEN c_es >= c_fr THEN 'es'
       |            ELSE 'fr' END AS lang_pred
       |FROM (SELECT doc_id, lang, $counts FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Q — quality scoring: length / punctuation / stopword ratios and a
    * combined score (identical FP expression tree on both engines).
    */
  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityCore(Tables.load(spark, dir, "documents")).orderBy("doc_id")

  /** The sort-free quality frame over (doc_id, text) rows — reused by
    * composing ops ([[Dedup.bestOfCluster]] picks the canonical duplicate
    * by this exact score, so the two entries can never drift).
    */
  private[pipeline] def qualityCore(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "CAST(length(text) AS BIGINT) AS n_chars_m",
      "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
      "CAST(size(regexp_extract_all(text, '[.,;:!?]', 0)) AS BIGINT) AS n_punct",
      s"CAST(size(regexp_extract_all(lower(text), '${markerRegex(LangMarkers.head._2).replace("\\", "\\\\")}', 0)) AS BIGINT) AS n_stop")
    .selectExpr(
      "doc_id", "n_chars_m", "n_tokens", "n_punct", "n_stop",
      "CAST(n_punct AS DOUBLE) / n_chars_m AS punct_ratio",
      "CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio",
      // quality: long docs with few punct bursts and some stopwords
      "(CAST(n_stop AS DOUBLE) / n_tokens) * 0.5 + " +
        "(1.0 - CAST(n_punct AS DOUBLE) / n_chars_m) * 0.3 + " +
        "least(CAST(n_chars_m AS DOUBLE) / 500.0, 1.0) * 0.2 AS quality")

  /** [[qualityCore]]'s (doc_id, quality) projection in DuckDB's dialect,
    * as a composable CTE body (same FP tree as [[qualitySql]]).
    */
  private[pipeline] val qualityCteSql: String =
    s"""SELECT doc_id,
       |       (n_stop::DOUBLE / n_tokens) * 0.5 +
       |       (1.0 - n_punct::DOUBLE / n_chars_m) * 0.3 +
       |       least(n_chars_m::DOUBLE / 500.0, 1.0) * 0.2 AS quality
       |FROM (SELECT doc_id,
       |             length(text)::BIGINT AS n_chars_m,
       |             len(string_split(text, ' '))::BIGINT AS n_tokens,
       |             len(regexp_extract_all(text, '[.,;:!?]'))::BIGINT AS n_punct,
       |             len(regexp_extract_all(lower(text), '${markerRegex(LangMarkers.head._2)}'))::BIGINT AS n_stop
       |      FROM documents)""".stripMargin

  val qualitySql: String =
    s"""SELECT doc_id, n_chars_m, n_tokens, n_punct, n_stop,
       |       n_punct::DOUBLE / n_chars_m AS punct_ratio,
       |       n_stop::DOUBLE / n_tokens AS stop_ratio,
       |       (n_stop::DOUBLE / n_tokens) * 0.5 +
       |       (1.0 - n_punct::DOUBLE / n_chars_m) * 0.3 +
       |       least(n_chars_m::DOUBLE / 500.0, 1.0) * 0.2 AS quality
       |FROM (SELECT doc_id,
       |             length(text)::BIGINT AS n_chars_m,
       |             len(string_split(text, ' '))::BIGINT AS n_tokens,
       |             len(regexp_extract_all(text, '[.,;:!?]'))::BIGINT AS n_punct,
       |             len(regexp_extract_all(lower(text), '${markerRegex(LangMarkers.head._2)}'))::BIGINT AS n_stop
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Q — document fingerprinting: exact rolling hash over the whole text and
    * over the first 64 chars (prefix fingerprint).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents").selectExpr(
      "doc_id",
      s"${polyHashExpr("text")} AS fp_full",
      s"${polyHashExpr("substring(text, 1, 64)")} AS fp_prefix"
    ).orderBy("doc_id")

  val fingerprintSql: String =
    s"""SELECT doc_id,
       |       ${polyHashSql("text")} AS fp_full,
       |       ${polyHashSql("substring(text, 1, 64)")} AS fp_prefix
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Q — within-document repetition (the Gopher/C4 quality family): the
    * fraction of duplicate word 2-grams and 3-grams inside each document.
    * High-repetition docs (boilerplate, keyword stuffing, degenerate
    * generations) are prime removal candidates in training-data curation.
    * Pure per-row array expressions — zero shuffle, scales as a scan.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS t")
      .selectExpr("doc_id",
        "CAST(size(t) AS BIGINT) AS n_tokens",
        """CASE WHEN size(t) >= 2
          |  THEN transform(sequence(1, size(t) - 1),
          |       i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
          |  ELSE CAST(array() AS ARRAY<STRING>) END AS g2""".stripMargin,
        """CASE WHEN size(t) >= 3
          |  THEN transform(sequence(1, size(t) - 2),
          |       i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2)))
          |  ELSE CAST(array() AS ARRAY<STRING>) END AS g3""".stripMargin)
      .selectExpr("doc_id", "n_tokens",
        "CAST(size(g2) AS BIGINT) AS n_g2",
        "CAST(size(g3) AS BIGINT) AS n_g3",
        "CASE WHEN size(g2) > 0 THEN 1.0 - CAST(size(array_distinct(g2)) AS DOUBLE) / size(g2) ELSE 0.0 END AS rep_g2",
        "CASE WHEN size(g3) > 0 THEN 1.0 - CAST(size(array_distinct(g3)) AS DOUBLE) / size(g3) ELSE 0.0 END AS rep_g3")
      .orderBy("doc_id")

  val repetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
      |             CASE WHEN len(t) >= 2
      |               THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
      |               ELSE [] END AS g2,
      |             CASE WHEN len(t) >= 3
      |               THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |               ELSE [] END AS g3
      |      FROM t)
      |SELECT doc_id, n_tokens,
      |       len(g2)::BIGINT AS n_g2, len(g3)::BIGINT AS n_g3,
      |       CASE WHEN len(g2) > 0 THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) ELSE 0.0 END AS rep_g2,
      |       CASE WHEN len(g3) > 0 THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3) ELSE 0.0 END AS rep_g3
      |FROM g ORDER BY doc_id""".stripMargin

  /** TF-IDF-style term salience: top-3 terms per document by
    * tf × (N / df). LOG-FREE scoring on purpose: `ln()` is libm-dependent
    * and not bit-stable across engines, while one IEEE division and one
    * multiplication are exactly rounded everywhere — the RANKING this
    * produces is the same monotone order as tf × log-idf for fixed tf, and
    * the values hash-match cross-engine.
    *
    * Scale shape: (doc,term) counts = one partial-agg shuffle; df derived
    * from tf by a second agg on term; score join keyed on term (AQE picks
    * broadcast vs shuffle by vocab size); per-doc top-3 via
    * WindowGroupLimit — partial top-k before the doc_id exchange.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tf = docs
      .selectExpr("doc_id", "explode(split(text, ' ')) AS term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .selectExpr("doc_id", "term", "tf", "df",
        "CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)"))
      .where("rk <= 3")
      .selectExpr("doc_id", "term", "tf", "df", "score", "CAST(rk AS BIGINT) AS rk")
      .orderBy("doc_id", "rk")
  }

  val tfidfSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
      |scored AS (SELECT doc_id, term, tf, df,
      |                  tf::DOUBLE * (n_docs::DOUBLE / df::DOUBLE) AS score
      |           FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (SELECT doc_id, term, tf, df, score,
      |                  row_number() OVER (PARTITION BY doc_id
      |                                     ORDER BY score DESC, term) AS rk
      |           FROM scored)
      |SELECT doc_id, term, tf, df, score, rk::BIGINT AS rk
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Corpus-trained character-trigram language-model score — the CCNet-
    * style "perplexity filter" shape every large-scale pretraining
    * pipeline runs (train a small LM on the corpus, score every document,
    * gate on the score), with two cross-engine determinism choices:
    *
    *  - LOG-FREE (the [[tfidf]] precedent): the score is the mean
    *    smoothed conditional trigram probability, not mean log-prob —
    *    `ln()` is libm-dependent and not bit-stable across engines, while
    *    the monotone ORDERING of documents (what the downstream gate
    *    consumes) is preserved for typical corpora.
    *  - INTEGER-QUANTIZED before aggregation: each trigram's probability
    *    `(c3+1)/(c2+V)` is scaled to parts-per-1e9 with pure integer
    *    division, so the per-doc sum is an exact BIGINT in ANY
    *    aggregation order — a double sum under a shuffle would be
    *    fold-order-nondeterministic and break the hash oracle.
    *
    * Scale shape (the point of the entry): train = two partial-agg
    * shuffles over exploded trigrams (c3 on trigram, c2 on its 2-char
    * prefix); score = joins keyed on trigram/prefix against the count
    * tables (char-trigram vocab is bounded — AQE broadcasts it), then one
    * per-doc aggregation. No driver-side model state: the "model" IS a
    * DataFrame, exactly how a 100 TB corpus would hold it.
    */
  val LmSmoothV = 128        // add-one smoothing denominator (alphabet size)
  private val LmQScale = 1000000000L

  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    // widen the single-file scan before the per-CHARACTER explode: the
    // trigram derivation below is consumed by THREE subtrees (c3, pre,
    // score join), each of which otherwise re-runs the ~3.5M-row explode
    // as one serial task (Diag: three ~0.8 s one-task jobs). The
    // round-robin exchange is identical under all three, so ReuseExchange
    // shares it; counts/integer math are partition-order-free. No-op on
    // an already-wide scan (BatchSizing).
    val docs = graft.BatchSizing.widen(
      Tables.load(spark, dir, "documents").where("n_chars >= 3"),
      graft.pipeline.Dedup.docsStats(spark, dir).rows)
    // trigrams ride as ONE BIGINT each (ASCII codepoints packed base-256 —
    // injective, so counts are identical to string trigrams) and the
    // prefix bigram is `tri div 256`: integer shuffle/join keys instead of
    // 3-char strings cut the exploded-row weight of the two training aggs
    // and the score join (measured 45 s → 15 s at ×10 the sf0.1 corpus)
    val tris = docs
      .selectExpr("doc_id",
        "transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS cp")
      .selectExpr("doc_id",
        "explode(transform(sequence(1, size(cp) - 2), " +
          "i -> element_at(cp, i) * 65536 + element_at(cp, i + 1) * 256 " +
          "+ element_at(cp, i + 2))) AS tri")
    val c3 = tris.groupBy("tri").agg(count(lit(1)).as("c3"))
    val pre = tris.selectExpr("tri div 256 AS bi")
      .groupBy("bi").agg(count(lit(1)).as("c2"))
    tris.withColumn("bi", expr("tri div 256"))
      .join(c3, "tri").join(pre, "bi")
      .selectExpr("doc_id",
        s"(c3 + 1) * $LmQScale div (c2 + $LmSmoothV) AS q")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum("q").as("lm_q"))
      .selectExpr("doc_id", "n_tri", "lm_q",
        s"round(CAST(lm_q AS DOUBLE) / (CAST(n_tri AS DOUBLE) * $LmQScale.0), 6) AS lm_score")
      .orderBy("doc_id")
  }

  val lmScoreSql: String =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
       |           WHERE length(text) >= 3),
       |cps AS (SELECT doc_id, n,
       |               list_transform(string_split(text, ''),
       |                              c -> ord(c)::BIGINT) AS cp
       |        FROM d),
       |tris AS (SELECT doc_id,
       |                unnest(list_transform(range(1, n - 1),
       |                       i -> cp[i] * 65536 + cp[i + 1] * 256
       |                            + cp[i + 2])) AS tri
       |         FROM cps),
       |c3 AS (SELECT tri, count(*)::BIGINT AS c3 FROM tris GROUP BY 1),
       |pre AS (SELECT tri // 256 AS bi, count(*)::BIGINT AS c2
       |        FROM tris GROUP BY 1),
       |q AS (SELECT t.doc_id,
       |             ((c.c3 + 1) * $LmQScale) // (p.c2 + $LmSmoothV) AS q
       |      FROM tris t
       |      JOIN c3 c USING (tri)
       |      JOIN pre p ON t.tri // 256 = p.bi),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_tri, sum(q)::BIGINT AS lm_q
       |        FROM q GROUP BY 1)
       |SELECT doc_id, n_tri, lm_q,
       |       round(lm_q::DOUBLE / (n_tri::DOUBLE * $LmQScale.0), 6) AS lm_score
       |FROM agg ORDER BY doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lm_score" -> lmScore,
    "text_tokens" -> tokens,
    "text_langid" -> langId,
    "text_quality" -> quality,
    "text_fingerprint" -> fingerprint,
    "text_repetition" -> repetition,
    "text_tfidf" -> tfidf)

  val oracles: Map[String, String] = Map(
    "text_lm_score" -> lmScoreSql,
    "text_tokens" -> tokensSql,
    "text_langid" -> langIdSql,
    "text_quality" -> qualitySql,
    "text_fingerprint" -> fingerprintSql,
    "text_repetition" -> repetitionSql,
    "text_tfidf" -> tfidfSql)
}
