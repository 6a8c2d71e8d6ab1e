package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Corpus-global LINE-level exact dedup — the C4/RefinedWeb pipeline
  * stage document-level dedup structurally misses: boilerplate lines
  * (headers, cookie banners, navigation crumbs) repeat across millions
  * of otherwise-distinct pages, so production pipelines drop every
  * repeated line corpus-wide, keeping only its FIRST occurrence, and
  * reassemble each document from its surviving lines (C4 §2.2 "we
  * discarded all but one of any three-sentence span occurring more than
  * once"; RefinedWeb does it line-wise).
  *
  * The corpus text is single-line by construction, so the "line" unit
  * is derived the way [[HtmlExtract]] derives blocks: consecutive
  * non-overlapping [[LineWords]]-word windows, built as ONE pure
  * expression (split → `transform(sequence(...))` over `slice`s) — no
  * shuffle to form lines. The small generator vocabulary makes real
  * cross-document repeats live at every SF (sf0.01: 3609 lines → 3434
  * survivors).
  *
  * Keep-first at 100 TB: the naive `row_number() OVER (PARTITION BY
  * line)` funnels every copy of a hot boilerplate line ("All rights
  * reserved.") through ONE task — exactly the line whose copy count is
  * unbounded. Instead the first occurrence is a combinable aggregate:
  * `groupBy(line).agg(min(key))` (map-side partial min absorbs the
  * skew), joined back on the line. The join key is the RAW line — at 8
  * words it is about the length of its own md5 hex and exact, the
  * [[SubstringDedup]] precedent. Reassembly sorts each doc's kept
  * lines by index inside one combinable collect — deterministic
  * regardless of aggregation order.
  */
object LineDedup {

  /** Words per derived line (non-overlapping windows; final line may be
    * shorter and participates in dedup like any other).
    */
  val LineWords = 8

  /** Bits reserved for the line index in the packed (doc_id, line_idx)
    * ordering key: doc_id*2^20 + line_idx. Supports 10^6-line documents
    * and 2^43 doc_ids without BIGINT overflow; both engines compare the
    * same packed key, so "first" is identical bit-for-bit.
    */
  val IdxBits = 20

  /** (doc_id, line_idx, line) rows — exposed for the spec to drive with
    * constructed corpora. `size(split(...))` is ≥ 1 for any string, so
    * `sequence(0, nchunks-1)` never sees an empty range.
    */
  def lineTable(docs: DataFrame): DataFrame = {
    val w = LineWords
    docs
      .selectExpr("doc_id", "text", "split(text, ' ') AS words")
      .selectExpr("doc_id", "text",
        s"""transform(sequence(0, (size(words) + ${w - 1}) DIV $w - 1),
           |  i -> array_join(slice(words, i * $w + 1, $w), ' ')) AS lines""".stripMargin)
      .selectExpr("doc_id", "text", "posexplode(lines) AS (line_idx, line)")
      .selectExpr("doc_id", "text", "CAST(line_idx AS BIGINT) AS line_idx", "line")
  }

  /** Dedup + reassembly over a (doc_id, line_idx, line[, text]) table;
    * exposed for the spec. One line-keyed combinable agg, one shuffle
    * join back, one per-doc agg, presentation sort.
    */
  def dedupLines(lines: DataFrame): DataFrame = {
    val key = s"doc_id * ${1L << IdxBits} + line_idx"
    val firsts = lines
      .selectExpr("line", s"$key AS k")
      .groupBy("line").agg(org.apache.spark.sql.functions.expr("min(k) AS first_key"))
    lines.join(firsts, "line")
      .selectExpr("doc_id", "line_idx", "line", "text",
        s"$key = first_key AS kept")
      .groupBy("doc_id")
      .agg(
        org.apache.spark.sql.functions.expr("count(*) AS lines_total"),
        org.apache.spark.sql.functions.expr("sum(CAST(kept AS BIGINT)) AS lines_kept"),
        org.apache.spark.sql.functions.expr(
          "CAST(min(length(text)) AS BIGINT) AS chars_in"),
        org.apache.spark.sql.functions.expr(
          // collect_list drops the NULLs of un-kept rows; the sort by
          // line_idx makes the concat order-free across partitions
          """array_join(transform(
            |  array_sort(collect_list(CASE WHEN kept THEN struct(line_idx, line) END)),
            |  x -> x.line), ' ') AS text_kept""".stripMargin))
      .selectExpr("doc_id", "lines_total", "lines_kept",
        "lines_total - lines_kept AS lines_dropped", "chars_in",
        "CAST(length(text_kept) AS BIGINT) AS chars_kept", "text_kept")
      .orderBy("doc_id")
  }

  /** Q — the committed entry over the real corpus. */
  def query(spark: SparkSession, dir: String): DataFrame =
    // widened before the per-doc line explode (one serial task otherwise;
    // first-per-line selection is keyed min — order-free. BatchSizing)
    dedupLines(lineTable(graft.BatchSizing.widen(
      Tables.load(spark, dir, "documents"),
      Dedup.docsStats(spark, dir).rows)))

  /** The derived-lines CTE chain (ends in `l(doc_id, text, line_idx,
    * line)`), shared by the batch and streaming oracles.
    */
  private val linesCtes: String = linesCtesFor("documents", "")

  /** The same chain over an arbitrary (doc_id, text) source with a CTE
    * name suffix, so one query can derive lines from TWO sources (the
    * [[Refresh]] oracle: base-corpus lines and incoming-batch lines).
    */
  private[pipeline] def linesCtesFor(src: String, sfx: String): String = {
    val w = LineWords
    s"""wds$sfx AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS words FROM $src),
       |cx$sfx AS (
       |  SELECT doc_id, text, words,
       |         unnest(range(0, (len(words) + ${w - 1}) // $w)) AS li
       |  FROM wds$sfx),
       |l$sfx AS (
       |  SELECT doc_id, text, li::BIGINT AS line_idx,
       |         array_to_string(list_slice(words, li * $w + 1, li * $w + $w), ' ') AS line
       |  FROM cx$sfx)""".stripMargin
  }

  val sql: String = {
    val shift = 1L << IdxBits
    s"""WITH $linesCtes,
       |f AS (
       |  SELECT line, min(doc_id * $shift + line_idx) AS first_key
       |  FROM l GROUP BY line),
       |k AS (
       |  SELECT l.doc_id, l.text, l.line_idx, l.line,
       |         l.doc_id * $shift + l.line_idx = f.first_key AS kept
       |  FROM l JOIN f USING (line)),
       |d AS (
       |  SELECT doc_id,
       |         count(*)::BIGINT AS lines_total,
       |         sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS lines_kept,
       |         min(length(text))::BIGINT AS chars_in,
       |         coalesce(string_agg(line, ' ' ORDER BY line_idx)
       |                    FILTER (WHERE kept), '') AS text_kept
       |  FROM k GROUP BY doc_id)
       |SELECT doc_id, lines_total, lines_kept,
       |       lines_total - lines_kept AS lines_dropped, chars_in,
       |       length(text_kept)::BIGINT AS chars_kept, text_kept
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** STREAMING line-dedup state — the ingest-side form: documents arrive
    * as real micro-batches, every derived line feeds a stateful
    * `groupBy(line).agg(min(key))` whose state IS the production dedup
    * filter (one entry per distinct line, the thing a 100 TB ingest keeps
    * in a keyed store and consults per batch). Complete-mode emission
    * makes the final table the full standing state, which must equal the
    * batch entry's first-occurrence table exactly — order-insensitive by
    * construction (min over the packed key), so late/parallel delivery
    * inside a batch cannot change it.
    */
  def streamQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{PacedReplay, StateSizing}
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val nDocs = docs.count()
    // state partitions from the replayed line volume (~8 lines/doc), not
    // the session constant (per-trigger per-partition commits — StateSizing)
    PacedReplay.drain(docs, Seq("doc_id"), nDocs, "graft_stream_line_dedup",
        "complete", Some(StateSizing.statePartitions(spark, nDocs * 8))) {
      lineTable(_)
        .selectExpr("line", s"doc_id * ${1L << IdxBits} + line_idx AS k")
        .groupBy("line")
        .agg(org.apache.spark.sql.functions.expr("min(k) AS first_key"))
    }.orderBy("line")
  }

  val streamSql: String =
    s"""WITH $linesCtes
       |SELECT line, min(doc_id * ${1L << IdxBits} + line_idx) AS first_key
       |FROM l GROUP BY line ORDER BY line""".stripMargin

  // ---- persisted line index: the standing dedup state in batch form ----

  /** Hash-bucket fan-out of the persisted line index (`lb=` dirs). */
  val LineBuckets = 64

  /** Build-once: the BASE corpus's (line, first_key) table — the batch
    * form of `stream_line_dedup`'s standing RocksDB state — partitioned
    * into [[LineBuckets]] `lb=` hash buckets with a partition manifest
    * and a schema record ([[IndexCommit.publishPartitioned]]), so a
    * refresh probe reads only its batch's touched buckets (the
    * [[Dedup.ensureMinhashIndex]] storage contract), at its content-keyed
    * [[IndexCommit.root]].
    */
  def ensureLineIndex(spark: SparkSession, dir: String): String =
    IndexCommit.publishPartitioned(spark,
      IndexCommit.root("line_index", dir, s"_b$LineBuckets",
        Dedup.docsStats(spark, dir)),
      Seq(IndexCommit.Root), Seq("lb")) { tmp =>
      val base = graft.Tables.load(spark, dir, "documents")
        .where(s"doc_id % ${Dedup.IncrSplitMod} <> 0")
      lineTable(base)
        .selectExpr("line", s"doc_id * ${1L << IdxBits} + line_idx AS k")
        .groupBy("line")
        .agg(org.apache.spark.sql.functions.expr("min(k) AS first_key"))
        .selectExpr("line", "first_key",
          s"CAST(pmod(xxhash64(line), $LineBuckets) AS INT) AS lb")
        .repartition(org.apache.spark.sql.functions.col("lb"))
        .sortWithinPartitions("lb", "line")
        .write.mode("overwrite").partitionBy("lb").parquet(tmp)
      Map.empty
    }

  /** Refresh probe: per-doc line accounting for an incoming batch against
    * the PERSISTED base line state plus within-batch first occurrences —
    * equal to the corpus+batch recompute restricted to the batch's rows,
    * with base-corpus IO bounded by the batch's touched `lb=` buckets
    * (manifest-intersected point lookups under the recorded schema,
    * [[IndexCommit.readPruned]]; the index root is never listed). A batch line
    * occurrence is kept iff its packed key is the minimum over {base first
    * key if present, batch-internal minimum}.
    */
  def refreshLines(spark: SparkSession, dir: String,
      incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val path = ensureLineIndex(spark, dir)
    val batchLines = lineTable(incoming)
      .selectExpr("doc_id", "line_idx", "line",
        s"doc_id * ${1L << IdxBits} + line_idx AS k")
    val idx = IndexCommit.readPruned(spark, path, IndexCommit.Root,
      IndexCommit.touchedDirs(batchLines.selectExpr(
        s"CAST(pmod(xxhash64(line), $LineBuckets) AS INT) AS lb"), "lb"))
    val batchFirsts = batchLines.groupBy("line")
      .agg(expr("min(k) AS batch_first"))
    batchLines
      .join(batchFirsts, "line")
      .join(idx.selectExpr("line", "first_key AS base_first"),
        Seq("line"), "left")
      .selectExpr("doc_id",
        "k = least(batch_first, coalesce(base_first, batch_first)) AS kept")
      .groupBy("doc_id")
      .agg(expr("count(*) AS lines_total"),
        expr("sum(CAST(kept AS BIGINT)) AS lines_kept"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_line_dedup" -> query,
    "stream_line_dedup" -> streamQuery)

  val oracles: Map[String, String] = Map(
    "text_line_dedup" -> sql,
    "stream_line_dedup" -> streamSql)
}
