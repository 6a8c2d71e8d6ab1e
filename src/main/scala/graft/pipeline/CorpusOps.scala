package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-management operators a large-scale training-data pipeline needs
  * beyond dedup/similarity/quality (which live in [[Dedup]], [[Similarity]],
  * [[TextAnalysis]]): deterministic dataset splits, PII redaction, n-gram
  * corpus statistics, and per-label embedding centroids. The reference has
  * none of these (SURVEY.md §2.2 — it is a single hardcoded anonymization
  * pipeline); they are first-class surface here because a 100 TB corpus is
  * useless without reproducible splits and scrubbing.
  *
  * Every entry is oracle-checked: cross-engine determinism comes from md5
  * (bit-identical everywhere), integer arithmetic, and the
  * quantize-sum-divide trick ([[Similarity.QScale]]) for float reductions.
  */
object CorpusOps {

  // Constants FIRST, before any val that touches [[Similarity]]: that
  // object's own initializer reads these back (its indexed-decontamination
  // SQL), so they must be assigned before a cross-object val can trigger
  // the Similarity <-> CorpusOps init cycle — a later declaration would be
  // read as 0 mid-initialization (caught by the r14 indexed-decon oracle:
  // `vec_id % 0 = 0`).

  /** Word-n-gram width of [[decontaminate]]. */
  val DecontamN = 5

  /** Eval-slice selector: every [[EvalEvery]]-th doc_id. */
  val EvalEvery = 10

  /** Cosine threshold for [[decontaminateSemantic]]: on the synthetic
    * embedding geometry the train-vs-eval max-cosine spread is
    * [0.10, 0.49] with ~p90 at 0.36, so 0.35 keeps BOTH verdict classes
    * live at every SF (sf0.001: 38/450 contaminated; sf0.1: 219/1800
    * under the capped eval set).
    */
  val SemanticTau = 0.35

  /** The eval set is BENCHMARK-sized — a constant, not a corpus fraction
    * (GSM8K has ~8k items no matter how many tokens you train on) — so
    * the broadcast side of the scoring join is bounded by construction:
    * at most [[SemanticEvalCap]] eval items (every-10th doc ids below
    * 10·cap). Docs matching the eval PATTERN beyond the cap stay
    * excluded from the train side — they are eval-reserved either way.
    */
  val SemanticEvalCap = 64

  // ---------------------------------------------------------------- split

  /** Deterministic train/val/test assignment by content-free hashing of the
    * stable document id: first 2 hex chars of md5(doc_id) give 256 buckets;
    * lexicographic cutoffs 'cc' (204/256 ≈ 80%) and 'e6' (230/256 ≈ 90%)
    * carve train/val/test. Properties that matter at 100 TB:
    *  - pure per-row expression work — no shuffle, no sampling state, no
    *    driver-side randomness; re-runs and backfills assign identically;
    *  - adding documents never reassigns existing ones (hash, not rank);
    *  - md5 hex is bit-identical across engines and languages, so training
    *    jobs in other stacks reproduce the same split.
    */
  def split(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 2).as("h"))
      .withColumn("split",
        when(col("h") < "cc", "train")
          .when(col("h") < "e6", "val")
          .otherwise("test"))
      .orderBy("doc_id")

  val splitSql: String =
    """SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h,
      |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
      |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
      |            ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- pii redact

  /** Regex patterns shared by both engines — restricted to the
    * RE2 ∩ java.util.regex common subset (character classes, +, bounded
    * repetition; no backrefs, no lookaround) so Spark and DuckDB match
    * byte-identically.
    */
  val EmailPat = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
  val PhonePat = "\\+1-555-[0-9]{4}"

  /** PII detection + redaction. The synthetic corpus carries no PII, so the
    * query first APPENDS a deterministic per-doc email + phone (making every
    * row a real positive), then counts and redacts both. Output carries the
    * match counts and an md5 fingerprint of the redacted text — the hash
    * compare therefore proves the redacted bytes are identical cross-engine,
    * not just the counts. Pure per-row regex work: zero shuffles, scales as
    * a scan; at 100 TB this is the shape of every scrubbing pass.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("txt", concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .select(
        col("doc_id"),
        // Column-API regexp_count: the pattern is NOT re-parsed as a SQL
        // string literal, so backslash escapes survive as written
        regexp_count(col("txt"), lit(EmailPat)).cast("long").as("n_emails"),
        regexp_count(col("txt"), lit(PhonePat)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("txt"), EmailPat, "<EMAIL>"),
          PhonePat, "<PHONE>")).as("red_md5"))
      .orderBy("doc_id")

  val piiRedactSql: String =
    s"""SELECT doc_id,
       |       len(regexp_extract_all(txt, '$EmailPat'))::BIGINT AS n_emails,
       |       len(regexp_extract_all(txt, '\\+1-555-[0-9]{4}'))::BIGINT AS n_phones,
       |       md5(regexp_replace(regexp_replace(txt, '$EmailPat', '<EMAIL>', 'g'),
       |                          '\\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS red_md5
       |FROM (SELECT doc_id,
       |             text || ' contact user' || doc_id || '@mail.example.com or +1-555-'
       |                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- ngram stats

  /** Corpus-level bigram frequency, top 20 with a total-order tie-break.
    * The zip_with(slice, slice) pairing is a narrow per-row generate — the
    * only shuffle is the final count groupBy (map-side combinable), and the
    * top-k is a TakeOrderedAndProject (no global sort materialization).
    * This is the shape of corpus n-gram statistics at any scale; the k
    * constant bounds driver/result size.
    */
  def bigramStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .selectExpr("split(text, ' ') AS t")
      .selectExpr(
        "explode(zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
          " (a, b) -> concat(a, ' ', b))) AS bigram")
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(20)

  val bigramStatsSql: String =
    """SELECT bigram, count(*)::BIGINT AS n
      |FROM (SELECT t[i] || ' ' || t[i + 1] AS bigram
      |      FROM (SELECT string_split(text, ' ') AS t FROM documents),
      |           LATERAL (SELECT unnest(range(1, len(t))) AS i))
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  // ---------------------------------------------------- stratified sample

  /** Stratified deterministic sampling: exactly ⌈20%⌉ of each language
    * stratum, chosen by ranking on md5(doc_id) within the stratum — a
    * reproducible pseudo-random draw ([[split]]'s hash trick plus a rank,
    * trading a per-stratum shuffle for EXACT per-group counts where the
    * pure hash-threshold gives only expected fractions). Balanced corpus
    * subsets (eval slices, per-language caps) are this exact shape. One
    * shuffle on the stratum key; the rank is WindowGroupLimit-friendly
    * since the predicate bounds it per group.
    */
  val SampleFrac = 0.2

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.load(spark, dir, "documents")
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(Window.partitionBy("lang")))
      .where(col("rk") <= ceil(lit(SampleFrac) * col("n_lang")))
      .select(col("doc_id"), col("lang"), col("rk"), col("n_lang"))
      .orderBy("doc_id")
  }

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, lang, rk, n_lang FROM (
       |  SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang
       |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)::BIGINT AS rk,
       |         count(*) OVER (PARTITION BY lang)::BIGINT AS n_lang
       |  FROM documents)
       |WHERE rk <= ceil($SampleFrac * n_lang)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ centroids

  /** Per-label embedding centroids — the class-prototype computation behind
    * label-balanced sampling and centroid-distance outlier mining. Float
    * reductions are not order-stable in IEEE arithmetic, so each component
    * is quantized to an integer (`floor(x * 2^20 + 0.5)`, the
    * [[Similarity]] codebook trick), summed EXACTLY as BIGINTs (order-free,
    * map-side combinable) and divided once — Spark and DuckDB emit
    * bit-identical centroids. One posexplode + one two-phase agg: at scale
    * this is a single shuffle of (label, dim) partial sums, never of
    * vectors.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(
        sum(expr(s"CAST(floor(CAST(v AS DOUBLE) * ${Similarity.QScale} + 0.5) AS BIGINT)"))
          .as("sum_q"),
        count(lit(1)).as("n"))
      .selectExpr("label", "CAST(dim AS BIGINT) AS dim", "sum_q", "n",
        s"CAST(sum_q AS DOUBLE) / (n * ${Similarity.QScale}.0) AS centroid")
      .orderBy("label", "dim")

  val labelCentroidsSql: String =
    s"""SELECT label, (i - 1)::BIGINT AS dim,
       |       SUM(CAST(floor(CAST(v AS DOUBLE) * ${Similarity.QScale} + 0.5) AS BIGINT))::BIGINT AS sum_q,
       |       count(*)::BIGINT AS n,
       |       CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * ${Similarity.QScale} + 0.5) AS BIGINT)) AS DOUBLE)
       |         / (count(*) * ${Similarity.QScale}.0) AS centroid
       |FROM (SELECT label, i, embedding[i] AS v
       |      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i))
       |GROUP BY label, i ORDER BY label, dim""".stripMargin

  // ------------------------------------------------------- decontaminate

  /** Benchmark decontamination — flag training documents sharing word
    * n-grams with a held-out eval set (the contamination check every
    * pretraining corpus runs against its benchmarks). Eval set here: every
    * 10th doc_id (deterministic synthetic stand-in). Both sides explode to
    * DISTINCT word 5-grams; the join keys on the gram string. At scale the
    * eval side is tiny and broadcasts — the corpus side never shuffles, so
    * decontamination costs one scan of the corpus, which is the only
    * acceptable price at 100 TB.
    */
  private[pipeline] def gramExpr(n: Int): String =
    s"array_distinct(transform(sequence(1, greatest(size(t) - ${n - 1}, 0))," +
      s" i -> array_join(slice(t, i, $n), ' ')))"

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS t")
      .selectExpr("doc_id", s"explode(${gramExpr(DecontamN)}) AS gram")
    val eval = grams.where(s"doc_id % $EvalEvery = 0")
      .select(col("doc_id").as("eval_id"), col("gram"))
    grams.where(s"doc_id % $EvalEvery != 0")
      .join(broadcast(eval), "gram")
      .groupBy("doc_id")
      .agg(countDistinct("gram").as("n_shared_grams"),
        countDistinct("eval_id").as("n_eval_docs"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String = {
    val grams =
      s"""SELECT doc_id, unnest(list_distinct(list_transform(
         |         range(1, greatest(len(t) - ${DecontamN - 1}, 0) + 1),
         |         i -> array_to_string(t[i:i+${DecontamN - 1}], ' ')))) AS gram
         |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)""".stripMargin
    s"""WITH g AS ($grams),
       |e AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % $EvalEvery = 0),
       |c AS (SELECT doc_id, gram FROM g WHERE doc_id % $EvalEvery != 0)
       |SELECT c.doc_id, count(DISTINCT c.gram)::BIGINT AS n_shared_grams,
       |       count(DISTINCT e.eval_id)::BIGINT AS n_eval_docs
       |FROM c JOIN e USING (gram)
       |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin
  }

  /** Bloom sketch sizing for [[decontaminateBloom]]: ~8 bits/gram at the
    * 4M-gram estimate ⇒ ~2% false positives, sketch ≈ 4 MB — broadcast-size
    * no matter how large the corpus side grows.
    */
  val DecontamBloomItems = 4000000L
  val DecontamBloomBits = 1L << 25

  /** Bloom-gated decontamination — [[decontaminate]]'s 100 TB form. The
    * exact version broadcasts the eval set's RAW 5-grams; once the eval
    * suite outgrows a broadcast, the production move is to ship only a
    * Bloom sketch of the gram hashes and pre-filter the corpus grams with
    * `might_contain` BEFORE the exact confirm join (the same explicit
    * `graft_bloom_agg`/`graft_might_contain` pair as
    * [[graft.ops.BloomJoin]]). Correctness is structural: Bloom filters
    * have no false negatives, so bloom-prefilter ∘ exact-join ≡
    * exact-join — the oracle runs the PLAIN exact join and must
    * hash-match bit-for-bit. At scale the pre-filter drops ~all clean
    * grams at the scan, so the confirm join's shuffle carries only
    * (suspect ∪ false-positive) grams.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      s"""WITH t AS (SELECT doc_id, split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id, explode(${gramExpr(DecontamN)}) AS gram FROM t),
         |e AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % $EvalEvery = 0),
         |c AS (SELECT doc_id, gram FROM g WHERE doc_id % $EvalEvery != 0),
         |pruned AS (
         |  SELECT doc_id, gram FROM c
         |  WHERE graft_might_contain(
         |          (SELECT graft_bloom_agg(xxhash64(gram),
         |                    ${DecontamBloomItems}L, ${DecontamBloomBits}L) FROM e),
         |          xxhash64(gram)))
         |SELECT p.doc_id, count(DISTINCT p.gram) AS n_shared_grams,
         |       count(DISTINCT e.eval_id) AS n_eval_docs
         |FROM pruned p JOIN e ON p.gram = e.gram
         |GROUP BY p.doc_id ORDER BY doc_id""".stripMargin)
  }

  /** SEMANTIC decontamination — the n-gram check's blind spot: a
    * paraphrased benchmark item shares no 5-gram with its source but
    * sits next to it in embedding space, so production pipelines ALSO
    * drop training docs whose nearest eval-set neighbor clears a cosine
    * threshold (the embedding-similarity decontamination run against
    * GSM8K-style benchmarks). Eval slice = the same every-10th-doc split
    * as [[decontaminate]], via the doc-aligned embeddings.
    *
    * Scale shape mirrors the n-gram twin: the eval side is benchmark-
    * sized and BROADCASTS; the corpus side is ONE scan; the per-doc
    * nearest-eval reduction is a combinable `max(struct(sim, -eval_id))`
    * (map-side partials, no skew, no window) — |corpus|×|eval| scoring
    * is inherent to exact semantic decontamination, and the broadcast
    * nested-loop keeps it shuffle-free. The approximate 100 TB fast
    * path reuses the persisted IVF index ([[IvfIndex.ensure]]
    * + probe with the eval rows as queries); this entry is the exact
    * form the index path is gated against.
    */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    decontaminateSemanticCore(
      Tables.load(spark, dir, "embeddings").select("vec_id", "embedding"))
  }

  /** The decontamination core over (vec_id, embedding) rows — exposed so
    * the spec can drive constructed geometries (exact copies, orthogonal
    * vectors, nearest-neighbor ties).
    */
  def decontaminateSemanticCore(vectors: DataFrame): DataFrame = {
    val emb = vectors
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    val eval = emb.where(
        s"vec_id % $EvalEvery = 0 AND vec_id < ${EvalEvery * SemanticEvalCap}")
      .selectExpr("vec_id AS eval_id", "emb AS e_emb", "nrm AS e_nrm")
    emb.where(s"vec_id % $EvalEvery != 0")
      .join(broadcast(eval))
      .selectExpr("vec_id AS doc_id",
        "named_struct('sim', round(graft_dot(emb, e_emb) / (nrm * e_nrm), 6)," +
          " 'neg', -eval_id) AS c")
      .groupBy("doc_id")
      // max over (sim, -eval_id): ties go to the SMALLER eval_id
      .agg(expr("max(c) AS m"))
      .selectExpr("doc_id", "-m.neg AS nearest_eval", "m.sim AS max_sim",
        s"m.sim >= $SemanticTau AS contaminated")
      .orderBy("doc_id")
  }

  val decontaminateSemanticSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb,
       |         sqrt(list_sum(list_transform(embedding::DOUBLE[], v -> v * v))) AS nrm
       |  FROM embeddings),
       |ev AS (SELECT vec_id AS eval_id, emb AS e_emb, nrm AS e_nrm FROM e
       |       WHERE vec_id % $EvalEvery = 0
       |         AND vec_id < ${EvalEvery * SemanticEvalCap}),
       |tr AS (SELECT * FROM e WHERE vec_id % $EvalEvery <> 0),
       |s AS (
       |  SELECT tr.vec_id AS doc_id, ev.eval_id,
       |         round(list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
       |                 i -> tr.emb[i] * ev.e_emb[i])) / (tr.nrm * ev.e_nrm), 6) AS sim
       |  FROM tr, ev),
       |m AS (
       |  SELECT doc_id, eval_id, sim,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY sim DESC, eval_id ASC) AS rk
       |  FROM s)
       |SELECT doc_id, eval_id AS nearest_eval, sim AS max_sim,
       |       sim >= $SemanticTau AS contaminated
       |FROM m WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- packing

  /** Sequence packing — the concat-and-chunk layout pretraining data takes:
    * documents are concatenated in deterministic order within a shard and
    * chunked into fixed token-budget bins; each doc lands at (bin, offset).
    * Packing is SHARD-LOCAL by design (each shard emits an independent
    * token stream — exactly how distributed pretraining packs data), so the
    * running token sum is a window per shard, not a global single-partition
    * cumsum: 8 shards here, thousands at 100 TB, all parallel.
    */
  val PackBudget = 512L
  val PackShards = 8

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", s"doc_id % $PackShards AS shard",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens")
      .withColumn("cum", sum("n_tokens").over(w))
      .selectExpr("doc_id", "shard", "n_tokens",
        // integral div matches DuckDB's `//` exactly (no double round-trip)
        s"(cum - n_tokens) div $PackBudget AS bin_first",
        s"(cum - 1) div $PackBudget AS bin_last",
        s"(cum - n_tokens) % $PackBudget AS offset")
      .orderBy("doc_id")
  }

  val packSequencesSql: String =
    s"""SELECT doc_id, shard, n_tokens,
       |       (cum - n_tokens) // $PackBudget AS bin_first,
       |       (cum - 1) // $PackBudget AS bin_last,
       |       (cum - n_tokens) % $PackBudget AS offset
       |FROM (SELECT doc_id, doc_id % $PackShards AS shard, n_tokens,
       |             (sum(n_tokens) OVER (PARTITION BY doc_id % $PackShards
       |                 ORDER BY doc_id ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
       |      FROM (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
       |            FROM documents))
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- chunking

  /** Chunk window size / stride in characters (overlap = size − stride). */
  val ChunkSize = 200
  val ChunkStride = 150

  /** Overlapping sliding-window chunking — the retrieval/pretraining prep
    * step that cuts each document into fixed-size windows with overlap so
    * boundary context appears in two adjacent chunks. Window starts are
    * 0, stride, 2·stride, …, stopping at the FIRST window that reaches
    * the document end (`ceil((n_chars − size) / stride)`, floored at 0):
    * every non-empty doc emits ≥1 chunk, consecutive chunks share
    * size − stride chars, the final char is always covered, and no tail
    * chunk is ever a pure duplicate of its predecessor's suffix (a
    * "while start < n" rule would emit one whenever n_chars mod stride
    * lands inside the overlap — wasted index/training tokens at scale).
    * Per-document length bound: the substring position is an INT, so a
    * single document is bounded at 2^31−1 chars (~2 GiB) — the corpus is
    * unbounded, only one row isn't; engines' own string/row limits bind
    * far earlier, and a longer blob belongs in a binary column anyway.
    * Pure per-row generate-and-explode: a map-only pass with NO shuffle
    * (the output orderBy is the driver hash contract, not the operator) —
    * at 100 TB the output is ~size/stride × input, streamed straight to
    * the sink. Char windows, not tokens, keep it deterministic
    * cross-engine; a token-budget variant is [[packSequences]].
    */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .where("n_chars > 0")
      .selectExpr("doc_id", "text",
        s"explode(sequence(CAST(0 AS BIGINT), (greatest(n_chars - $ChunkSize, 0)" +
          s" + $ChunkStride - 1) div $ChunkStride)) AS chunk_idx")
      .selectExpr("doc_id", "chunk_idx",
        s"chunk_idx * $ChunkStride AS chunk_start",
        s"substring(text, CAST(chunk_idx * $ChunkStride + 1 AS INT), $ChunkSize) AS chunk_text")
      .withColumn("chunk_len", expr("CAST(length(chunk_text) AS BIGINT)"))
      .orderBy("doc_id", "chunk_idx")

  val chunkDocumentsSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, text,
       |         unnest(generate_series(0,
       |           (greatest(n_chars - $ChunkSize, 0) + $ChunkStride - 1) // $ChunkStride)) AS chunk_idx
       |  FROM documents WHERE n_chars > 0)
       |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       |       (chunk_idx * $ChunkStride)::BIGINT AS chunk_start,
       |       substring(text, (chunk_idx * $ChunkStride + 1)::INT, $ChunkSize) AS chunk_text,
       |       length(substring(text, (chunk_idx * $ChunkStride + 1)::INT, $ChunkSize))::BIGINT AS chunk_len
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ------------------------------------- incremental materialized view

  private def rollup(docs: DataFrame): DataFrame =
    docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))

  /** Incremental materialized-view maintenance — the warehouse op that
    * keeps a pre-aggregated rollup current as batches land, WITHOUT
    * re-scanning history: a per-(source, lang) aggregate table is built
    * once from the historical split, persisted partitioned by `source`;
    * the incoming wave is aggregated ALONE (delta rows), merged with only
    * the TOUCHED source partitions' current rows (additive re-aggregation
    * of old + delta — exact BIGINT sums), and committed through the same
    * bucket-wise [[graft.streaming.Sinks.partitionedUpsertBatch]] the
    * index families use. Maintenance cost is O(wave + touched partitions)
    * — independent of history size. The oracle recomputes the rollup over
    * the FULL corpus from scratch, so a lost delta, a double-merge, or a
    * partition the merge failed to touch all break the hash. The built
    * view lives at its content-keyed [[IndexCommit.root]] and is published
    * by [[IndexCommit.publish]].
    */
  def ensureAggMv(spark: SparkSession, dir: String): String =
    IndexCommit.publish(spark,
      IndexCommit.root("agg_mv", dir, "", Dedup.docsStats(spark, dir)),
      Seq(IndexCommit.Root)) { tmp =>
      rollup(Tables.load(spark, dir, "documents")
        .where(s"doc_id % ${Dedup.IncrSplitMod} <> 0"))
        .withColumn("ver", lit(0L))
        .repartition(col("source"))
        .sortWithinPartitions("source", "lang")
        .write.mode("overwrite").partitionBy("source").parquet(tmp)
    }

  /** Merge one delta batch of raw document rows into the persisted view at
    * `work`, additively and touched-partition-only — the SAME body a
    * streaming `foreachBatch` maintenance runs per micro-batch
    * ([[incrementalMv]] calls it once; `StreamingMvSpec` drives it across
    * a real micro-batched stream). The merged frame replaces the touched
    * partitions whole, so they are read once; `ver` stamps its rows with
    * the batch version.
    */
  def mergeMvDelta(spark: SparkSession, work: String, docs: DataFrame,
      ver: Long): Unit = {
    val delta = rollup(docs)
    val touched = IndexCommit.touchedDirs(delta, "source")
    if (touched.isEmpty) return
    val root = new org.apache.hadoop.fs.Path(work)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing = touched
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(root, d)))
      .map(d => s"$work/$d")
    val current =
      if (existing.isEmpty)
        delta.limit(0).withColumn("ver", lit(0L))
      else spark.read.option("basePath", work).parquet(existing: _*)
    val merged = current.select("source", "lang", "n_docs", "sum_chars")
      .unionByName(delta)
      .groupBy("source", "lang")
      .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"))
      .withColumn("ver", lit(ver))
    // current ∪ delta regrouped holds every key of the touched partitions
    graft.streaming.Sinks.replacePartitions(merged, work,
      partitionCols = Seq("source"), sortCols = Seq("lang"))
  }

  def incrementalMv(spark: SparkSession, dir: String): DataFrame = {
    val src = ensureAggMv(spark, dir)
    val work = graft.TempDirs.scoped("agg-mv") + "/view"
    graft.TempDirs.copyTree(spark, src, work) // hermeticity tax only
    mergeMvDelta(spark, work, Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} = 0"), ver = 1L)
    spark.read.parquet(work)
      .select("source", "lang", "n_docs", "sum_chars")
      .orderBy("source", "lang")
  }

  val incrementalMvSql: String =
    """SELECT source, lang, count(*)::BIGINT AS n_docs,
      |       sum(n_chars)::BIGINT AS sum_chars
      |FROM documents GROUP BY 1, 2 ORDER BY source, lang""".stripMargin

  // -------------------------------------------------------- compaction

  /** Seed waves of the compaction harness — each partition dir accumulates
    * exactly this many files before the compactor runs.
    */
  val CompactWaves = 4

  /** Small-file compaction of a hive-partitioned table — the operational
    * chore every streaming/append sink eventually needs (Delta OPTIMIZE /
    * Iceberg rewrite_data_files, re-expressed Spark-native): a partitioned
    * `documents` copy is seeded by [[CompactWaves]] append waves (the
    * streaming-upsert fragmentation shape — one file per partition per
    * wave), then the compactor (1) reads the FILE LISTING of the partition
    * dirs — metadata-scale, the same physical plan step Delta's OPTIMIZE
    * planner runs — to find partitions whose file count exceeds target,
    * (2) rewrites ONLY those partitions via dynamic partition overwrite
    * with the data re-clustered one task per partition value, so each dir
    * collapses to a single file. Non-fragmented partitions' bytes are
    * never touched (at 100 TB the rewrite is also where a target file
    * size / `maxRecordsPerFile` bin-pack would apply; one file per
    * partition is the toy-scale instance of that policy).
    *
    * The emitted surface hash-gates BOTH halves of the contract: exact
    * per-partition file counts before (= [[CompactWaves]]) and after (= 1)
    * prove the fragmentation existed and was removed — deterministic
    * because `repartition(source)` routes each partition value to exactly
    * one task — and rows/chars aggregates read back from the COMPACTED
    * files prove no row was lost or duplicated (oracle recomputes them
    * from the source table).
    */
  def compactPartitions(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars")
    val work = graft.TempDirs.scoped("compact") + "/docs"
    // fragment seed: 4 append waves, wave = rank within partition mod 4
    // (doc_id is source-strided in the testdata, so doc_id % 4 would
    // correlate with the partition key and starve waves)
    val waved = docs.withColumn("wave", expr(
      s"pmod(row_number() OVER (PARTITION BY source ORDER BY doc_id), $CompactWaves)"))
      .cache()
    try {
      (0 until CompactWaves).foreach { w =>
        waved.where(s"wave = $w").drop("wave")
          .repartition(col("source"))
          .write.mode("append").partitionBy("source").parquet(work)
      }
    } finally waved.unpersist()
    val (before, after) = compactFragmented(spark, work)
    import spark.implicits._
    val counts = before.keys.toSeq.sorted
      .map(s => (s, before(s), after(s)))
      .toDF("source", "files_before", "files_after")
    spark.read.parquet(work).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .join(broadcast(counts), "source")
      .select("source", "n_docs", "sum_chars", "files_before", "files_after")
      .orderBy("source")
  }

  /** The compactor itself, reusable over any `source=`-partitioned parquet
    * dir: list per-partition file counts (metadata-scale), rewrite ONLY
    * the partitions with more than one file via dynamic partition
    * overwrite, return (before, after) counts. Partitions already at one
    * file are never read or written — the spec pins their bytes unchanged.
    */
  private[graft] def compactFragmented(spark: SparkSession,
      work: String): (Map[String, Long], Map[String, Long]) = {
    def filesPer(): Map[String, Long] = {
      val p = new org.apache.hadoop.fs.Path(work)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))
        .map(d => d.getPath.getName.stripPrefix("source=") ->
          fs.listStatus(d.getPath)
            .count(_.getPath.getName.endsWith(".parquet")).toLong)
        .toMap
    }
    val before = filesPer()
    val fragmented = before.filter(_._2 > 1).keys.toSeq.sorted
    require(fragmented.nonEmpty, "compaction harness seeded no fragmentation")
    spark.read.parquet(work)
      .where(col("source").isin(fragmented: _*))
      .repartition(col("source"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("source").parquet(work)
    (before, filesPer())
  }

  val compactPartitionsSql: String =
    s"""SELECT source, count(*)::BIGINT AS n_docs,
       |       sum(n_chars)::BIGINT AS sum_chars,
       |       $CompactWaves::BIGINT AS files_before, 1::BIGINT AS files_after
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------- fuzzy match

  /** Fuzzy vocabulary matching via DELETION-NEIGHBORHOOD blocking (the
    * FastSS family) — the entity-resolution/spell-correction primitive at
    * corpus scale: a probe term matches a vocabulary term when their edit
    * distance is ≤ 1, found WITHOUT an all-pairs scan. Blocking rule: two
    * strings within edit distance 1 always share a member of
    * variants(x) = {x} ∪ {x minus one char}, so an equi-join on the
    * exploded variant sets produces a candidate superset (≤ len+1 rows
    * per term — bounded fan-out), and one exact `levenshtein` call per
    * CANDIDATE (not per pair) confirms. Both engines run the same
    * unit-cost DP levenshtein on integers, so verdicts hash-match.
    *
    * The probe side is derived deterministically from the corpus itself:
    * every vocabulary word ≥ 3 chars corrupted by deleting the character
    * the word's own polynomial hash picks — a reproducible stand-in for
    * the dirty mentions an entity-resolution run receives. Every probe is
    * guaranteed ≥ 1 match (its source word), and probes may legitimately
    * hit several vocabulary words; the full (probe, match) verdict
    * surface is emitted.
    */
  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val vocabWords = Tables.load(spark, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS w")
      .where("w <> ''")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val delExpr =
      "transform(sequence(1, length(w)), " +
        "i -> concat(substring(w, 1, i - 1), substring(w, i + 1)))"
    val vocabVariants = vocabWords
      .selectExpr("w", s"explode(array_union(array(w), $delExpr)) AS v")
    val probes = vocabWords
      .where("length(w) >= 3")
      .selectExpr("w AS src",
        s"CAST(pmod(${TextAnalysis.polyHashExpr("w")}, length(w)) + 1 AS INT) AS pos")
      .selectExpr(
        "concat(substring(src, 1, pos - 1), substring(src, pos + 1)) AS p")
      .distinct()
    val probeVariants = probes
      .selectExpr("p",
        "explode(array_union(array(p), " +
          "transform(sequence(1, length(p)), " +
          "i -> concat(substring(p, 1, i - 1), substring(p, i + 1))))) AS v")
    probeVariants.join(vocabVariants, "v")
      .select("p", "w").distinct()
      .where("levenshtein(p, w) <= 1")
      .join(vocabWords, "w")
      .selectExpr("p AS probe", "w AS matched",
        "CAST(levenshtein(p, w) AS BIGINT) AS dist", "cnt")
      .orderBy("probe", "matched")
  }

  val fuzzyMatchSql: String = {
    val ph = TextAnalysis.polyHashSql("w")
    s"""WITH vocab AS (
       |  SELECT w, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |vv AS (SELECT w, unnest(list_distinct(list_prepend(w,
       |         list_transform(range(1, length(w) + 1),
       |           i -> substring(w, 1, i - 1) || substring(w, i + 1))))) AS v
       |       FROM vocab),
       |probes AS (
       |  SELECT DISTINCT substring(w, 1, pos - 1) || substring(w, pos + 1) AS p
       |  FROM (SELECT w, ($ph % length(w) + 1)::INT AS pos
       |        FROM vocab WHERE length(w) >= 3)),
       |pv AS (SELECT p, unnest(list_distinct(list_prepend(p,
       |         list_transform(range(1, length(p) + 1),
       |           i -> substring(p, 1, i - 1) || substring(p, i + 1))))) AS v
       |       FROM probes),
       |cand AS (SELECT DISTINCT pv.p, vv.w FROM pv JOIN vv ON pv.v = vv.v)
       |SELECT c.p AS probe, c.w AS matched,
       |       levenshtein(c.p, c.w)::BIGINT AS dist, vocab.cnt
       |FROM cand c JOIN vocab ON c.w = vocab.w
       |WHERE levenshtein(c.p, c.w) <= 1
       |ORDER BY probe, matched""".stripMargin
  }

  // -------------------------------------------------- temperature sample

  /** Temperature-based mixture rebalancing — the multilingual-pretraining
    * data-mixing op (mBERT/XLM exponentiated-share sampling, α = 1/2):
    * dominant groups are downsampled toward a flattened distribution,
    * group `l` keeping fraction √(c_min/c_l) so its post-sample size is
    * the geometric mean √(c_min·c_l) — `en` at 3× the smallest language
    * shrinks by √3 while the smallest group is kept EXACTLY whole (its
    * rate is 1 by construction, a spec-pinned invariant, not a tolerance).
    *
    * Cross-engine determinism without `sqrt()` (libm-dependent): the
    * accept test is squared into pure integers — keep iff
    * u²·c_l < c_min·2³², with u the [[weightedSample]] Knuth-hash uniform
    * folded to a 2¹⁶ grid. Overflow headroom: u² < 2³², so the product is
    * BIGINT-safe through c_l ≈ 2×10⁹ docs per group; groups beyond that
    * shard first anyway. The RATES are corpus-derived (one tiny group-agg
    * + one scalar min — both broadcast), the accept test is per-row: one
    * scan, no data-sized shuffle, any partitioning, any engine.
    */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val minc = counts.agg(min("n_lang").as("c_min"))
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(minc))
      .selectExpr("doc_id", "lang", "n_lang", "c_min",
        "((doc_id % 2147483647) * 2654435761) % 2147483647 % 65536 AS u_bucket")
      .where("u_bucket * u_bucket * n_lang < c_min * 4294967296")
      .selectExpr("doc_id", "lang", "n_lang", "u_bucket")
      .orderBy("doc_id")
  }

  val temperatureSampleSql: String =
    """WITH c AS (SELECT lang, count(*)::BIGINT AS n_lang
      |           FROM documents GROUP BY 1),
      |m AS (SELECT min(n_lang)::BIGINT AS c_min FROM c),
      |u AS (SELECT doc_id, lang,
      |             ((doc_id % 2147483647) * 2654435761) % 2147483647 % 65536 AS u_bucket
      |      FROM documents)
      |SELECT u.doc_id, u.lang, c.n_lang, u.u_bucket
      |FROM u JOIN c USING (lang) CROSS JOIN m
      |WHERE u.u_bucket * u.u_bucket * c.n_lang < m.c_min * 4294967296
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ weighted sample

  /** Deterministic importance sampling — inclusion probability
    * proportional to a per-doc quality weight (here: length, capped at
    * 400 chars ⇒ weight 1.0), the data-mixing primitive for upweighting
    * high-quality sources in a training blend. The accept test is pure
    * integer arithmetic: a Knuth multiplicative hash of doc_id folded to
    * 1024 buckets, kept iff below the weight expressed in 1024ths — no
    * RNG state, no doubles, reproducible on any engine and any
    * partitioning ((doc_id % 2^31−1) bounds the product under 2^63 at any
    * corpus size). One scan, zero shuffles (the output sort is the driver
    * hash contract); the uniform-rate twin is [[split]]'s md5 bucketing.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "lang", "n_chars",
        "least(CAST(1024 AS BIGINT), (n_chars * 1024) div 400) AS w_buckets",
        "((doc_id % 2147483647) * 2654435761) % 2147483647 % 1024 AS u_bucket")
      .where("u_bucket < w_buckets")
      .orderBy("doc_id")

  val weightedSampleSql: String =
    """WITH w AS (
      |  SELECT doc_id, lang, n_chars,
      |         least(1024, (n_chars * 1024) // 400) AS w_buckets,
      |         ((doc_id % 2147483647) * 2654435761) % 2147483647 % 1024 AS u_bucket
      |  FROM documents)
      |SELECT doc_id, lang, n_chars, w_buckets, u_bucket
      |FROM w WHERE u_bucket < w_buckets
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- filter funnel

  /** Per-stage retention accounting for a 4-stage document quality filter
    * — the observability every production data-pipeline run ships next to
    * its output (how many docs each gate dropped, cumulatively): language
    * keep, minimum length, distinct-word ratio (repetition gate), minimum
    * word count. One scan computes all stage booleans, one map-side-
    * combinable aggregate folds them into cumulative survivor counts, and
    * `stack` unpivots the single row into the 4-stage report — the
    * retention ratio is the only double, derived from two exact BIGINTs.
    * Unlike [[CleanCorpus]] (which EMITS the surviving docs), this emits
    * the funnel itself, so a threshold regression shows up as a changed
    * count, not a silently different corpus.
    */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val flags = Tables.load(spark, dir, "documents").selectExpr(
      "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS s1",
      "CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS s2",
      "CASE WHEN CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)" +
        " / size(split(text, ' ')) > 0.5 THEN 1 ELSE 0 END AS s3",
      "CASE WHEN size(split(text, ' ')) >= 30 THEN 1 ELSE 0 END AS s4")
    flags
      .agg(count(lit(1)).as("n0"), sum("s1").as("n1"),
        sum(expr("s1 * s2")).as("n2"),
        sum(expr("s1 * s2 * s3")).as("n3"),
        sum(expr("s1 * s2 * s3 * s4")).as("n4"))
      .selectExpr(
        """stack(4,
          |  1, 'lang_en',        n0, n1,
          |  2, 'min_chars',      n1, n2,
          |  3, 'distinct_ratio', n2, n3,
          |  4, 'min_words',      n3, n4) AS (stage, filter, n_in, n_out)""".stripMargin)
      .selectExpr("CAST(stage AS BIGINT) AS stage", "filter", "n_in", "n_out",
        // n_in = 0 → NULL on BOTH engines: Spark (non-ANSI) nulls the
        // division but DuckDB's IEEE double division yields NaN, so an
        // explicit guard keeps the hash stable if a stage ever empties
        "CASE WHEN n_in = 0 THEN NULL" +
          " ELSE CAST(n_out AS DOUBLE) / CAST(n_in AS DOUBLE) END AS retained")
      .orderBy("stage")
  }

  val filterFunnelSql: String =
    """WITH f AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS s1,
      |         CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS s2,
      |         CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |              / len(string_split(text, ' ')) > 0.5 THEN 1 ELSE 0 END AS s3,
      |         CASE WHEN len(string_split(text, ' ')) >= 30 THEN 1 ELSE 0 END AS s4
      |  FROM documents),
      |a AS (SELECT count(*)::BIGINT AS n0, sum(s1)::BIGINT AS n1,
      |             sum(s1 * s2)::BIGINT AS n2, sum(s1 * s2 * s3)::BIGINT AS n3,
      |             sum(s1 * s2 * s3 * s4)::BIGINT AS n4
      |      FROM f),
      |u AS (
      |  SELECT 1::BIGINT AS stage, 'lang_en' AS filter, n0 AS n_in, n1 AS n_out FROM a
      |  UNION ALL SELECT 2, 'min_chars', n1, n2 FROM a
      |  UNION ALL SELECT 3, 'distinct_ratio', n2, n3 FROM a
      |  UNION ALL SELECT 4, 'min_words', n3, n4 FROM a)
      |SELECT stage, filter, n_in, n_out,
      |       CASE WHEN n_in = 0 THEN NULL
      |            ELSE CAST(n_out AS DOUBLE) / CAST(n_in AS DOUBLE) END AS retained
      |FROM u ORDER BY stage""".stripMargin

  // ------------------------------------------------- end-to-end prepare

  /** The composed training-data preparation DAG as ONE entry — the
    * "could a user run their whole pipeline here" demonstration, chaining
    * the standalone stages with their EXACT standalone semantics:
    *
    *   1. quality gate    — [[filterFunnel]]'s four conditions (lang,
    *      length, distinct-word ratio, word count), conjunctively;
    *   2. exact dedup     — [[Dedup.exact]]'s keeper policy (min doc_id
    *      per md5(text)) among the quality survivors;
    *   3. FUZZY near-dup  — [[Dedup.jaccardLshGated]]'s full construction
    *      (MinHash banding for candidates, exact Jaccard to confirm)
    *      over the exact-dedup survivors — the most expensive stage of
    *      the real pipeline (r13 verdict item 4) — resolved by the
    *      deterministic single-pass keep-first policy: a doc drops iff
    *      it has a CONFIRMED near-dup of smaller doc_id (transitive
    *      cluster resolution stays [[Dedup.duplicateClusters]]'
    *      standalone concern);
    *   4. eval split-off  — training candidates exclude the eval docs
    *      (`doc_id % EvalEvery == 0`, [[decontaminate]]'s split);
    *   5. decontamination — drop candidates sharing ANY distinct
    *      [[DecontamN]]-gram with the raw eval split (broadcast eval
    *      grams, [[decontaminate]]'s join direction: the corpus side
    *      never shuffles);
    *   6. packing         — [[packSequences]]' shard-local concat-and-
    *      chunk over the surviving docs (per-shard token cumsum, ceil
    *      bins at [[PackBudget]]).
    *
    * Output is a LONG-format accounting: per-stage survivor counts, pack
    * totals (bins / tokens / pad), and a corpus content fingerprint
    * (Σ polyhash(text) of the final survivors — exact BIGINT, so a
    * single changed/extra/missing surviving document breaks the hash).
    * Every number is an exact integer; the DuckDB oracle replays the
    * whole chain end-to-end, so a drift in ANY stage's semantics — not
    * just its standalone entry — fails the gate. Plan shape: each stage
    * consumes the previous stage's frame (no re-reads of the raw table
    * except the eval-gram side), aggregates are map-side-combinable, and
    * the data-sized shuffles are the md5 dedup window, the near-dup
    * stage's signature/band/shingle exchanges (bucket-local self-join,
    * candidate-driven confirm — the [[Dedup.jaccardLshGated]] shape),
    * and the contamination semi-join's gram exchange.
    */
  def e2ePrepare(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(spark, dir, "documents")
    val quality = raw.where(
      "lang = 'en' AND n_chars >= 100 AND " +
        "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)" +
        " / size(split(text, ' ')) > 0.5 AND " +
        "size(split(text, ' ')) >= 30")
    val keepers = quality
      .withColumn("krk", expr(
        "row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)"))
      .where("krk = 1").drop("krk")
      // consumed ~6× by the near-dup construction (signatures, both band
      // sides, shingles A/B, sizes) plus the anti-join and the count —
      // checkpoint once so the quality+dedup subtree is neither re-planned
      // nor re-executed per consumer (the `clean` precedent below)
      .localCheckpoint()
    // fuzzy near-dup: every CONFIRMED pair (doc_a < doc_b by
    // construction) drops its doc_b — keep-first, one pass, replayable
    val neardup = keepers.join(
      Dedup.jaccardLshGated(keepers.select("doc_id", "text"))
        .selectExpr("doc_b AS doc_id").distinct(),
      Seq("doc_id"), "left_anti")
    val cand = neardup.where(s"doc_id % $EvalEvery != 0")
    val evalGrams = raw.where(s"doc_id % $EvalEvery = 0")
      .selectExpr("split(text, ' ') AS t")
      .selectExpr(s"explode(${gramExpr(DecontamN)}) AS gram")
      .distinct()
    val contaminated = cand
      .selectExpr("doc_id", "split(text, ' ') AS t")
      .selectExpr("doc_id", s"explode(${gramExpr(DecontamN)}) AS gram")
      .join(broadcast(evalGrams), "gram")
      .select("doc_id").distinct()
    val clean = cand.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "text")
      .localCheckpoint() // consumed by pack stats AND the fingerprint
    val shardTokens = clean
      .selectExpr(s"doc_id % $PackShards AS shard",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens")
      .groupBy("shard").agg(sum("n_tokens").as("shard_tokens"))
    def one(stage: Int, metric: String, v: DataFrame): DataFrame =
      v.selectExpr(s"CAST($stage AS BIGINT) AS stage", s"'$metric' AS metric",
        "CAST(v AS BIGINT) AS value")
    def cnt(stage: Int, metric: String, df: DataFrame): DataFrame =
      one(stage, metric, df.agg(count(lit(1)).as("v")))
    cnt(1, "raw_docs", raw)
      .unionByName(cnt(2, "quality_docs", quality))
      .unionByName(cnt(3, "exact_dedup_docs", keepers))
      .unionByName(cnt(4, "lsh_neardup_docs", neardup))
      .unionByName(cnt(5, "train_candidates", cand))
      .unionByName(cnt(6, "decontaminated_docs", clean))
      .unionByName(one(7, "packed_bins", shardTokens.agg(
        sum(expr(s"(shard_tokens + ${PackBudget - 1}) div $PackBudget"))
          .as("v"))))
      .unionByName(one(7, "packed_tokens",
        shardTokens.agg(sum("shard_tokens").as("v"))))
      .unionByName(one(7, "pad_tokens", shardTokens.agg(
        (sum(expr(s"(shard_tokens + ${PackBudget - 1}) div $PackBudget"))
          * PackBudget - sum("shard_tokens")).as("v"))))
      .unionByName(one(8, "corpus_fp", clean.agg(
        sum(expr(TextAnalysis.polyHashExpr("text"))).as("v"))))
      .orderBy("stage", "metric")
  }

  val e2ePrepareSql: String = {
    val gram =
      s"""unnest(list_distinct(list_transform(
         |  range(1, greatest(len(t) - ${DecontamN - 1}, 0) + 1),
         |  i -> array_to_string(t[i:i+${DecontamN - 1}], ' ')))) AS gram""".stripMargin
    s"""WITH q AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE lang = 'en' AND n_chars >= 100
       |    AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |        / len(string_split(text, ' ')) > 0.5
       |    AND len(string_split(text, ' ')) >= 30),
       |k AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |           row_number() OVER (PARTITION BY md5(text)
       |             ORDER BY doc_id) AS krk
       |    FROM q) WHERE krk = 1),
       |${Dedup.lshGatedCtes("k")},
       |nd AS (SELECT doc_id, text FROM k
       |       WHERE doc_id NOT IN (SELECT doc_b FROM gated)),
       |tc AS (SELECT doc_id, text FROM nd WHERE doc_id % $EvalEvery != 0),
       |eg AS (SELECT DISTINCT gram FROM (
       |         SELECT $gram
       |         FROM (SELECT string_split(text, ' ') AS t FROM documents
       |               WHERE doc_id % $EvalEvery = 0))),
       |cg AS (SELECT doc_id, gram FROM (
       |         SELECT doc_id, $gram
       |         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM tc))),
       |contaminated AS (SELECT DISTINCT doc_id FROM cg JOIN eg USING (gram)),
       |clean AS (SELECT doc_id, text FROM tc
       |          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |st AS (SELECT doc_id % $PackShards AS shard,
       |              sum(len(string_split(text, ' '))::BIGINT)::BIGINT
       |                AS shard_tokens
       |       FROM clean GROUP BY 1),
       |rows AS (
       |  SELECT 1::BIGINT AS stage, 'raw_docs' AS metric,
       |         (SELECT count(*) FROM documents)::BIGINT AS value
       |  UNION ALL SELECT 2, 'quality_docs', (SELECT count(*) FROM q)
       |  UNION ALL SELECT 3, 'exact_dedup_docs', (SELECT count(*) FROM k)
       |  UNION ALL SELECT 4, 'lsh_neardup_docs', (SELECT count(*) FROM nd)
       |  UNION ALL SELECT 5, 'train_candidates', (SELECT count(*) FROM tc)
       |  UNION ALL SELECT 6, 'decontaminated_docs', (SELECT count(*) FROM clean)
       |  UNION ALL SELECT 7, 'packed_bins',
       |    (SELECT sum((shard_tokens + ${PackBudget - 1}) // $PackBudget) FROM st)
       |  UNION ALL SELECT 7, 'packed_tokens', (SELECT sum(shard_tokens) FROM st)
       |  UNION ALL SELECT 7, 'pad_tokens',
       |    (SELECT sum((shard_tokens + ${PackBudget - 1}) // $PackBudget)
       |       * $PackBudget - sum(shard_tokens) FROM st)
       |  UNION ALL SELECT 8, 'corpus_fp',
       |    (SELECT sum(${TextAnalysis.polyHashSql("text")}) FROM clean))
       |SELECT stage, metric, value::BIGINT AS value FROM rows
       |ORDER BY stage, metric""".stripMargin
  }

  // ---------------------------------------------------------------- entry

  // --------------------------------------------------------------- vocab

  /** Vocabulary size reported by [[vocab]]. */
  val VocabK = 50

  /** Tokenizer-training vocabulary: the top-[[VocabK]] corpus tokens with
    * dense ranks and cumulative corpus coverage — the seed statistics every
    * BPE/unigram tokenizer build starts from. The count is one map-side-
    * combinable groupBy; the top-k is a TakeOrderedAndProject (no global
    * sort); the single-partition rank/cum-sum window then runs over only the
    * k surviving rows, and the corpus-total join is a 1-row broadcast —
    * nothing here grows with corpus size except the combinable count.
    * Coverage is an exact-BIGINT cumulative sum with ONE final IEEE
    * division, so it is bit-stable cross-engine.
    */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS tok")
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("total"))
    counts.orderBy(desc("n"), asc("tok")).limit(VocabK)
      .crossJoin(broadcast(total))
      .withColumn("rk", expr("row_number() OVER (ORDER BY n DESC, tok ASC)"))
      .withColumn("cum_n", expr(
        "sum(n) OVER (ORDER BY n DESC, tok ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
      .selectExpr("CAST(rk AS BIGINT) AS rk", "tok", "n",
        "CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE) AS coverage")
      .orderBy("rk")
  }

  val vocabSql: String =
    s"""WITH counts AS (
       |  SELECT tok, count(*)::BIGINT AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY tok),
       |total AS (SELECT sum(n)::BIGINT AS total FROM counts),
       |top AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT $VocabK)
       |SELECT row_number() OVER (ORDER BY n DESC, tok)::BIGINT AS rk, tok, n,
       |       (sum(n) OVER (ORDER BY n DESC, tok
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
       |         / total::DOUBLE AS coverage
       |FROM top, total ORDER BY rk""".stripMargin

  // ---------------------------------------------- importance resampling

  /** Hashed-n-gram feature space of the importance sampler (DSIR, Xie et
    * al. 2023, arXiv:2302.03169): word bigrams folded to 1024 buckets —
    * the model stays a FIXED 1024-row table whatever the corpus size.
    */
  val DsirBuckets = 1024L
  /** Quantization of the per-bucket target/raw ratio (parts-per-1e6). */
  val DsirQ = 1000000L
  /** The target slice standing in for the high-quality reference corpus. */
  val DsirTarget = "src0"

  /** DSIR-style data selection re-expressed Spark-first: score every
    * document by how target-like its hashed-bigram distribution is, then
    * importance-resample with acceptance probability ∝ score.
    *
    *  - features: word bigrams hashed to [[DsirBuckets]] buckets (the
    *    paper's hashed n-grams — the "model" is a 1024-row bucket table,
    *    bounded whatever the corpus size);
    *  - per-bucket score `s_b = ((t_b + 1) · Q) div (r_b + 1)` — the
    *    add-1-smoothed target/raw count ratio. The paper's global
    *    p_target/p_raw normalizer (Σr+NB)/(Σt+NB) is a per-corpus
    *    CONSTANT, so it cancels in the acceptance ratio imp/s_max and is
    *    deliberately dropped — that keeps every factor inside BIGINT at
    *    any corpus size ((t_b+1)·Q ≤ 1e18 through ~1e12 target grams);
    *  - per-doc importance: the MEAN bucket score of the doc's own grams
    *    (integer div — the sum is order-free exact BIGINT), the
    *    sum-of-quantized-ratios form of the paper's sum-of-log-ratios
    *    (log is not bit-stable cross-engine; the mean-ratio form keeps
    *    the same target-likeness ordering on smoothed counts);
    *  - acceptance: `u · s_max < imp · 1024` with u the
    *    [[weightedSample]] Knuth-hash uniform — probability imp/s_max,
    *    no RNG state, reproducible on any partitioning.
    *
    * Two corpus scans (gram counts, then per-doc scoring against the
    * broadcast 1024-row score table), three combinable aggregations, no
    * data-sized shuffle beyond them.
    */
  def importanceSample(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "source", "split(text, ' ') AS t")
      .selectExpr("doc_id", "source",
        "explode(zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
          " (a, b) -> concat(a, ' ', b))) AS gram")
      // Knuth-mix the fingerprint before the bucket fold: the raw
      // 31-polynomial maps near-arithmetic vocabularies ("a0 a1" vs
      // "b1 b2") onto ARITHMETIC bucket progressions that collide
      // systematically mod 1024; the multiplicative mix restores
      // avalanche (caught by the skewed-corpus spec)
      .selectExpr("doc_id", "source",
        s"((${TextAnalysis.polyHashExpr("gram")} % 2147483647)" +
          s" * 2654435761) % 2147483647 % $DsirBuckets AS b")
    val raw = grams.groupBy("b").agg(count(lit(1)).as("r"))
    val tgt = grams.where(s"source = '$DsirTarget'")
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val scores = raw.join(tgt, Seq("b"), "left")
      .selectExpr("b",
        s"((coalesce(tc, CAST(0 AS BIGINT)) + 1) * $DsirQ) div (r + 1) AS s")
    val doc = grams.join(broadcast(scores), "b")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"), expr("sum(s) div count(1)").as("imp"))
    doc.crossJoin(broadcast(doc.agg(max("imp").as("s_max"))))
      .selectExpr("doc_id", "source", "n_grams", "imp", "s_max",
        s"((doc_id % 2147483647) * 2654435761) % 2147483647" +
          s" % $DsirBuckets AS u")
      .where(s"u * s_max < imp * $DsirBuckets")
      .select("doc_id", "source", "n_grams", "imp", "u")
      .orderBy("doc_id")
  }

  val importanceSampleSql: String = {
    val ph = TextAnalysis.polyHashSql("gram")
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t
       |           FROM documents),
       |g0 AS (SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS gram
       |       FROM d, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
       |g AS (SELECT doc_id, source, (($ph % 2147483647) * 2654435761)
       |        % 2147483647 % $DsirBuckets AS b FROM g0),
       |r AS (SELECT b, count(*)::BIGINT AS r FROM g GROUP BY 1),
       |tc AS (SELECT b, count(*)::BIGINT AS tc FROM g
       |       WHERE source = '$DsirTarget' GROUP BY 1),
       |s AS (SELECT r.b, ((coalesce(tc.tc, 0) + 1) * $DsirQ) // (r.r + 1) AS s
       |      FROM r LEFT JOIN tc ON r.b = tc.b),
       |doc AS (SELECT g.doc_id, g.source, count(*)::BIGINT AS n_grams,
       |               (sum(s.s) // count(*))::BIGINT AS imp
       |        FROM g JOIN s ON g.b = s.b GROUP BY 1, 2),
       |mx AS (SELECT max(imp)::BIGINT AS s_max FROM doc),
       |u AS (SELECT doc.*, ((doc_id % 2147483647) * 2654435761)
       |               % 2147483647 % $DsirBuckets AS u FROM doc)
       |SELECT doc_id, source, n_grams, imp, u
       |FROM u, mx WHERE u * s_max < imp * $DsirBuckets
       |ORDER BY doc_id""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_importance_sample" -> importanceSample,
    "pipeline_split" -> split,
    "pipeline_stratified_sample" -> stratifiedSample,
    "pipeline_decontaminate" -> decontaminate,
    "pipeline_decontaminate_bloom" -> decontaminateBloom,
    "pipeline_decontaminate_semantic" -> decontaminateSemantic,
    "pipeline_pack_sequences" -> packSequences,
    "pipeline_chunk_documents" -> chunkDocuments,
    "pipeline_filter_funnel" -> filterFunnel,
    "pipeline_e2e_prepare" -> e2ePrepare,
    "pipeline_weighted_sample" -> weightedSample,
    "pipeline_temperature_sample" -> temperatureSample,
    "text_fuzzy_match" -> fuzzyMatch,
    "pipeline_incremental_mv" -> incrementalMv,
    "pipeline_compact_partitions" -> compactPartitions,
    "text_pii_redact" -> piiRedact,
    "text_bigrams" -> bigramStats,
    "text_vocab" -> vocab,
    "sim_label_centroids" -> labelCentroids)

  val oracles: Map[String, String] = Map(
    "pipeline_importance_sample" -> importanceSampleSql,
    "pipeline_split" -> splitSql,
    "pipeline_stratified_sample" -> stratifiedSampleSql,
    "pipeline_decontaminate" -> decontaminateSql,
    "pipeline_decontaminate_bloom" -> decontaminateSql, // exact join: bloom admits a superset, confirm restores it
    "pipeline_decontaminate_semantic" -> decontaminateSemanticSql,
    "pipeline_pack_sequences" -> packSequencesSql,
    "pipeline_chunk_documents" -> chunkDocumentsSql,
    "pipeline_filter_funnel" -> filterFunnelSql,
    "pipeline_e2e_prepare" -> e2ePrepareSql,
    "pipeline_weighted_sample" -> weightedSampleSql,
    "pipeline_temperature_sample" -> temperatureSampleSql,
    "text_fuzzy_match" -> fuzzyMatchSql,
    "pipeline_incremental_mv" -> incrementalMvSql,
    "pipeline_compact_partitions" -> compactPartitionsSql,
    "text_pii_redact" -> piiRedactSql,
    "text_bigrams" -> bigramStatsSql,
    "text_vocab" -> vocabSql,
    "sim_label_centroids" -> labelCentroidsSql)
}
