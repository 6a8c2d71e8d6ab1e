package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** BM25 keyword retrieval over `documents` — the third persisted-index
  * family (after the MinHash dedup index and the IVF ANN index): build a
  * bucketed inverted index once, then answer top-k keyword queries with
  * batch-proportional IO, append new documents bucket-wise in place, and
  * route a document STREAM against standing queries statelessly.
  *
  * Scoring is Okapi BM25 (Robertson et al., TREC-3) with k1 = 1.2 and
  * b = 0.75, algebraically cleared of floating point so the hash oracle
  * holds cross-engine (the [[TextAnalysis.lmScore]] determinism recipe):
  *
  *  - tf term:  f·(k1+1) / (f + k1·(1−b) + k1·b·dl/avgdl)
  *              = 22f / (10f + 3 + 9·dl/avgdl)        (×10, k1=6/5 b=3/4)
  *  - idf term: LOG-FREE rational (N − df + ½)/(df + ½)
  *              = (2N − 2df + 1)/(2df + 1) — `ln()` is libm-dependent and
  *              not bit-stable across engines (the [[TextAnalysis.tfidf]]
  *              precedent); the rational form keeps the same monotone
  *              rare-term preference.
  *  - each factor is INTEGER-QUANTIZED before the per-document sum
  *    (tf to parts-per-1e6, idf to parts-per-1e4, relative doc length to
  *    parts-per-1e6), so the summed weight is an exact BIGINT in any
  *    aggregation order — a double sum under a shuffle would be
  *    fold-order-nondeterministic and break the hash.
  *
  * Overflow headroom (BIGINT max ≈ 9.2e18): the tf numerator is
  * 22·f·Qt·Qr ≤ 22·dl·1e12 ≈ 1e17 at dl = 5,000 tokens and is
  * corpus-size-independent (corpus size enters only through
  * avgdl = TT div N, pre-divided); the weight tfq·idfq ≤ 2.2e6 · 2N·Qi
  * stays under 2^63 through N ≈ 2e8 docs per index — beyond that, shard
  * the index (which a 100 TB deployment does anyway) or drop Qi.
  *
  * Scale shape: the FULL-SCAN entry is the verification baseline (explode
  * + two partial-agg shuffles, exactly [[TextAnalysis.tfidf]]'s cost); the
  * PRODUCTION path is the persisted index — postings partitioned by
  * `tb = polyhash(term) mod 64`, so a query touches only its own terms'
  * buckets (selected via the build-time `_postings` manifest, never the
  * filesystem — the [[Dedup.ensureMinhashIndex]] object-store contract),
  * and per-term df rides in a `stats` table bucketed the same way while
  * corpus-wide N/TT live in a one-row `meta` table, so idf/avgdl reflect
  * every append without touching unrelated buckets.
  */
object Retrieval {

  val TopK = 10
  /** Term-hash bucket count of the postings/stats layout (dir count is
    * metadata-scale; at 100 TB this would grow ∝ vocabulary the same way
    * [[Dedup.indexBuckets]] grows ∝ corpus).
    */
  val TermBuckets = 64
  /** Quantization scales: tf to ppm, idf to 1e-4, relative dl to ppm. */
  val Qt = 1000000L
  val Qi = 10000L
  val Qr = 1000000L

  /** The standing query set — fixed literals over the corpus vocabulary
    * (queries are INPUT, not data, so literals are the honest shape; a
    * deployment swaps in its own).
    */
  val Queries: Seq[(Long, String)] = Seq(
    0L -> "spark stream window",
    1L -> "customer filter join",
    2L -> "slow query scan",
    3L -> "vector merge batch",
    4L -> "dup table sort key")

  private def queryPairs: Seq[(Long, String)] =
    Queries.flatMap { case (id, q) => q.split(' ').map(t => (id, t)) }

  /** (query_id, term) rows as a literal frame (broadcast everywhere). */
  def queryTerms(spark: SparkSession): DataFrame = {
    import spark.implicits._
    queryPairs.toDF("query_id", "term")
  }

  private def valuesSql: String =
    queryPairs.map { case (id, t) => s"($id,'$t')" }.mkString(",")

  /** Driver-side mirror of `graft_polyhash` (ASCII/BMP text) — lets the
    * probe compute its touched-bucket set as pure metadata, with zero
    * Spark jobs ([[RetrievalSpec]] pins the parity against the engine).
    */
  def polyHashLocal(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % TextAnalysis.FpMod)

  def termBucket(term: String): Int =
    math.floorMod(polyHashLocal(term), TermBuckets.toLong).toInt

  private val tbExpr =
    s"CAST(pmod(${TextAnalysis.polyHashExpr("term")}, $TermBuckets) AS INT)"

  // ------------------------------------------------- building blocks

  /** Postings of a document set: (term, doc_id, tf, dl, positions) — dl
    * denormalized onto every posting (the impact-ordered-index trick) so a
    * probe needs no document-side join, and the term's sorted POSITION
    * LIST rides on the same row (the positional-index layout Lucene/ES
    * store), so exact phrase/proximity probes run over the same bucketed
    * files as BM25 — one explode + one partial-agg shuffle either way.
    * Invariant (spec-pinned): tf == size(positions).
    */
  def postingsOf(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", "split(text, ' ') AS t")
      .selectExpr("doc_id", "CAST(size(t) AS BIGINT) AS dl",
        "posexplode(t) AS (pos, term)")
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos").cast("long"))).as("positions"))
      .select("term", "doc_id", "tf", "dl", "positions")

  /** Per-term document frequency, derived from postings (second agg). */
  def statsOf(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  /** One-row corpus meta: document count + total whitespace tokens. */
  def metaOf(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      sum(expr("CAST(size(split(text, ' ')) AS BIGINT)")).as("total_tokens"))

  /** The quantized BM25 weight expression over columns
    * (tf, dl, df, n_docs, total_tokens) — identical text in Spark and (via
    * [[bm25Sql]]) DuckDB, so both engines run the same integer ops.
    */
  private def tfFactorExpr(div: String): String =
    s"((22 * tf * ${Qt * Qr}) $div (10 * tf * $Qr + ${3 * Qr} " +
      s"+ (9 * dl * $Qr) $div (total_tokens $div n_docs)))"

  private def weightExpr(div: String): String =
    s"${tfFactorExpr(div)} " +
      s"* (((2 * n_docs - 2 * df + 1) * $Qi) $div (2 * df + 1))"

  /** Scoring core shared by every batch surface: postings × query terms
    * (the tiny side BROADCAST, so the postings scan — full for the
    * baseline, bucket-pruned for the index probe — is the only big-data
    * touch), stats pre-filtered to query terms before they fan out, one
    * (query, doc) partial-agg shuffle, then the per-query top-k window
    * over ≤ |queries| partitions of candidate rows.
    */
  def scoreTopK(qterms: DataFrame, postings: DataFrame, stats: DataFrame,
      meta: DataFrame): DataFrame = {
    val qstats = stats.join(broadcast(qterms), "term") // ≤ |query terms| rows
    postings.join(broadcast(qstats), "term")
      .crossJoin(broadcast(meta))
      .selectExpr("query_id", "doc_id", s"${weightExpr("div")} AS w")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("w").as("w_sum"))
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY w_sum DESC, doc_id)"))
      .where(s"rk <= $TopK")
      .selectExpr("query_id", "doc_id", "n_hit", "w_sum",
        s"CAST(w_sum AS DOUBLE) / ${Qt * Qi}.0 AS score",
        "CAST(rk AS BIGINT) AS rk")
      .orderBy("query_id", "rk")
  }

  /** The full-scan baseline entry: BM25 top-10 for the standing queries
    * over the whole corpus, everything computed from `documents` in one
    * job. This is the CORRECTNESS anchor of the family — the index
    * entries below must reproduce exactly this surface from persisted
    * state.
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val postings = postingsOf(docs)
    scoreTopK(queryTerms(spark), postings, statsOf(postings), metaOf(docs))
  }

  /** Oracle SQL for BM25 top-k over `documents WHERE docFilter`. */
  def bm25Sql(docFilter: String): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
       |           FROM documents WHERE $docFilter),
       |dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM d),
       |toks AS (SELECT doc_id, unnest(t) AS term FROM d),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |meta AS (SELECT count(*)::BIGINT AS n_docs,
       |                sum(len(t))::BIGINT AS total_tokens FROM d),
       |q AS (SELECT * FROM (VALUES $valuesSql) AS v(query_id, term)),
       |scored AS (
       |  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
       |         ((22 * tf.tf * ${Qt * Qr}) // (10 * tf.tf * $Qr + ${3 * Qr}
       |          + (9 * dl.dl * $Qr) // (m.total_tokens // m.n_docs)))
       |         * (((2 * m.n_docs - 2 * df.df + 1) * $Qi) // (2 * df.df + 1)) AS w
       |  FROM q JOIN tf ON q.term = tf.term
       |  JOIN df ON tf.term = df.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN meta m),
       |agg AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_hit,
       |               sum(w)::BIGINT AS w_sum
       |        FROM scored GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                      ORDER BY w_sum DESC, doc_id) AS rk FROM agg)
       |SELECT query_id, doc_id, n_hit, w_sum,
       |       w_sum::DOUBLE / ${Qt * Qi}.0 AS score,
       |       rk::BIGINT AS rk
       |FROM ranked WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  val bm25TopKSql: String = bm25Sql("TRUE")

  // ------------------------------------------------- persisted index

  /** Index location, keyed by corpus dir + bucket count + corpus content
    * fingerprint (via [[Dedup.docsStats]]) so a regenerated corpus
    * rebuilds instead of silently reusing a stale index.
    */
  def indexPath(spark: SparkSession, dir: String): String = {
    val (rows, fp) = Dedup.docsStats(spark, dir)
    // p1 = positional-postings layout generation: a committed pre-positions
    // index at the old path must not be silently reused by phrase probes
    "/tmp/graft_bm25_index/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + s"_p1_t${TermBuckets}_n${rows}_f$fp"
  }

  /** Bucket manifest (`_postings`): one `tb` line per non-empty bucket —
    * the probe's ONLY pruning input, never the filesystem (the
    * [[Dedup.ManifestFile]] object-store contract: a metastore stand-in
    * that answers "which buckets exist" in one small read on any
    * Hadoop-compatible store).
    */
  val ManifestFile = "_postings"

  private def hadoopFs(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[pipeline] def writeTbManifest(spark: SparkSession, root: String,
      tbs: Set[Int]): Unit = {
    val (fs, _) = hadoopFs(spark, root)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, ManifestFile), true)
    try out.write(tbs.toSeq.sorted.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** FAILS LOUD when absent — a pruned probe must never silently degrade
    * to "no buckets ⇒ empty result".
    */
  def readTbManifest(spark: SparkSession, root: String): Set[Int] = {
    val (fs, _) = hadoopFs(spark, root)
    val mf = new org.apache.hadoop.fs.Path(root, ManifestFile)
    if (!fs.exists(mf))
      throw new IllegalStateException(
        s"no $ManifestFile manifest at $root — index was not built by " +
          "ensureBm25Index (or predates the manifest); rebuild the index")
    val in = fs.open(mf)
    val text = try {
      val bs = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bs, 65536, false)
      bs.toString("UTF-8")
    } finally in.close()
    text.split('\n').iterator.filter(_.nonEmpty).map(_.toInt).toSet
  }

  private def augmentTbManifest(spark: SparkSession, root: String,
      extra: Set[Int]): Unit =
    writeTbManifest(spark, root, readTbManifest(spark, root) ++ extra)

  /** The one-row `meta` table read back through a max() aggregate —
    * identical values (single row by construction) and a provably BOUNDED
    * broadcast build side: the plan linter rejects scan-shaped cross-join
    * builds (data-proportional at scale), and an aggregate's one-row
    * output is bounded whatever the file holds.
    */
  private def metaFrame(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/meta")
      .agg(max("n_docs").as("n_docs"),
        max("total_tokens").as("total_tokens"))

  private def writeMeta(spark: SparkSession, path: String, nDocs: Long,
      totalTokens: Long): Unit =
    spark.range(1).selectExpr(
      s"CAST($nDocs AS BIGINT) AS n_docs",
      s"CAST($totalTokens AS BIGINT) AS total_tokens")
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Build-once: the persisted inverted index of the HISTORICAL corpus
    * split (`doc_id % 4 != 0`, the [[Dedup.ensureMinhashIndex]]
    * convention). Three artifacts plus the manifest:
    *
    *  - `postings/tb=<n>/` — (term, doc_id, tf, dl, ver) rows partitioned
    *    by term bucket, term-sorted inside each file;
    *  - `stats/tb=<n>/`   — (term, df, ver) bucketed identically, so an
    *    append recomputes df for exactly the touched buckets;
    *  - `meta/`           — one (n_docs, total_tokens) row: the
    *    corpus-global idf/avgdl inputs, which every append must update
    *    and no bucket-local rewrite can carry;
    *  - `_postings`       — the bucket manifest the pruned probe reads.
    *
    * All existence checks via the Hadoop FS API (object-store-portable);
    * an index missing any artifact is treated as uncommitted and rebuilt.
    */
  def ensureBm25Index(spark: SparkSession, dir: String): String = {
    val root = indexPath(spark, dir)
    val (fs, rootP) = hadoopFs(spark, root)
    def committed(r: org.apache.hadoop.fs.Path) = {
      def ok(rel: String) =
        fs.exists(new org.apache.hadoop.fs.Path(s"$r/$rel"))
      ok("postings/_SUCCESS") && ok("stats/_SUCCESS") &&
        ok("meta/_SUCCESS") && ok(ManifestFile)
    }
    // build into a temp sibling, publish with ONE atomic rename — racing
    // processes can no longer clobber each other mid-build (IndexCommit)
    IndexCommit.ensure(fs, rootP)(committed) { tmp =>
      val hist = Tables.load(spark, dir, "documents")
        .where(s"doc_id % ${Dedup.IncrSplitMod} <> 0")
      val postings = postingsOf(hist)
        .withColumn("tb", expr(tbExpr)).withColumn("ver", lit(0L))
      postings
        .repartition(col("tb"))
        .sortWithinPartitions("tb", "term", "doc_id")
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$tmp/postings")
      val stats = spark.read.parquet(s"$tmp/postings")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .withColumn("tb", expr(tbExpr)).withColumn("ver", lit(0L))
      stats
        .repartition(col("tb"))
        .sortWithinPartitions("tb", "term")
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$tmp/stats")
      val m = metaOf(hist).head()
      writeMeta(spark, s"$tmp/meta", m.getLong(0), m.getLong(1))
      val tbs = spark.read.parquet(s"$tmp/postings")
        .select("tb").distinct().collect().map(_.getInt(0)).toSet
      writeTbManifest(spark, tmp.toString, tbs)
    }
    root
  }

  /** The build's driver-checkable surface: per-bucket totals of BOTH index
    * tables (terms, postings, tf mass from `postings`; df mass from
    * `stats`), read back from the committed files — a misrouted posting
    * moves two buckets' sums, a df drift breaks the stats column. A second
    * invocation is a pure read (cross-run reuse, [[RetrievalSpec]]).
    */
  def indexSummary(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureBm25Index(spark, dir)
    val p = spark.read.parquet(s"$root/postings")
      .groupBy("tb").agg(
        countDistinct("term").as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum("tf").as("sum_tf"))
    val s = spark.read.parquet(s"$root/stats")
      .groupBy("tb").agg(sum("df").as("sum_df"))
    p.join(s, "tb")
      .selectExpr("CAST(tb AS BIGINT) AS tb", "n_terms", "n_postings",
        "sum_tf", "sum_df")
      .orderBy("tb")
  }

  val indexSummarySql: String = {
    val ph = TextAnalysis.polyHashSql("term")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |           WHERE doc_id % ${Dedup.IncrSplitMod} <> 0),
       |toks AS (SELECT doc_id, unnest(t) AS term FROM d),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM toks GROUP BY 1, 2),
       |p AS (SELECT term, doc_id, tf, $ph % $TermBuckets AS tb FROM tf),
       |df AS (SELECT term, count(*)::BIGINT AS df, $ph % $TermBuckets AS tb
       |       FROM p GROUP BY term),
       |pa AS (SELECT tb, count(DISTINCT term)::BIGINT AS n_terms,
       |              count(*)::BIGINT AS n_postings, sum(tf)::BIGINT AS sum_tf
       |       FROM p GROUP BY tb),
       |sa AS (SELECT tb, sum(df)::BIGINT AS sum_df FROM df GROUP BY tb)
       |SELECT pa.tb::BIGINT AS tb, n_terms, n_postings, sum_tf, sum_df
       |FROM pa JOIN sa ON pa.tb = sa.tb ORDER BY tb""".stripMargin
  }

  /** Manifest-pruned probe of an already-built index at `root`: the
    * touched-bucket set is the query terms' own `tb` values — computed
    * DRIVER-SIDE from the [[polyHashLocal]] mirror (pure metadata, zero
    * jobs) — intersected with the manifest; the postings AND stats readers
    * open only those `tb=` dirs (basePath-rooted point lookups), so the
    * probe's listing and scan footprint is query-proportional, not
    * index-proportional. idf and avgdl come from `meta` + the pruned
    * stats, so the scores are identical to the full scan by construction.
    */
  private def touchedBuckets(spark: SparkSession, root: String,
      pairs: Seq[(Long, String)] = queryPairs): Seq[Int] =
    pairs.map(p => termBucket(p._2)).toSet
      .intersect(readTbManifest(spark, root)) // fails loud if absent
      .toSeq.sorted

  /** Point-lookup read of `sub`'s touched `tb=` dirs (empty-touched ⇒ an
    * empty frame with the right schema, NOT a full scan).
    */
  private def prunedRead(spark: SparkSession, root: String, sub: String,
      touched: Seq[Int]): DataFrame =
    if (touched.isEmpty) spark.read.parquet(s"$root/$sub").limit(0)
    else spark.read.option("basePath", s"$root/$sub")
      .parquet(touched.map(tb => s"$root/$sub/tb=$tb"): _*)

  def prunedTopK(spark: SparkSession, root: String): DataFrame = {
    val touched = touchedBuckets(spark, root)
    scoreTopK(queryTerms(spark),
      prunedRead(spark, root, "postings", touched)
        .select("term", "doc_id", "tf", "dl"),
      prunedRead(spark, root, "stats", touched).select("term", "df"),
      metaFrame(spark, root))
  }

  /** The production query path: top-k against the persisted index through
    * the pruned probe. Shares the full-scan entry's surface restricted to
    * the historical split — the oracle recomputes from raw documents, so
    * a stale posting, a lost stats row, or a mispruned bucket all break
    * the hash.
    */
  def indexTopK(spark: SparkSession, dir: String): DataFrame =
    prunedTopK(spark, ensureBm25Index(spark, dir))

  val indexTopKSql: String = bm25Sql(s"doc_id % ${Dedup.IncrSplitMod} <> 0")

  /** In-place incremental append — the ingest path at 100 TB: the wave
    * split's postings are MERGED bucket-wise into a working copy of the
    * index via [[graft.streaming.Sinks.partitionedUpsertBatch]] (only
    * touched `tb=` dirs rewritten, layout preserved); per-term df is
    * recomputed from the merged postings of exactly those buckets and
    * upserted into `stats` the same way; `meta` absorbs the wave's
    * document/token counts (idf of UNTOUCHED terms shifts too when N
    * grows — that flows through meta at probe time, which is why N is
    * global state, not denormalized onto buckets); the manifest commit
    * makes new buckets probe-visible. Then the SAME pruned probe runs
    * against the augmented index, and the oracle recomputes BM25 over the
    * FULL corpus from scratch — a lost posting, double-counted token
    * mass, stale df, or missing manifest line all break the hash.
    * Append cost is O(wave + touched buckets), independent of index size.
    */
  def indexAppend(spark: SparkSession, dir: String): DataFrame = {
    val src = ensureBm25Index(spark, dir)
    val work = graft.TempDirs.scoped("bm25-append") + "/index"
    // hermeticity tax only — runs concurrently with the wave's
    // tokenize+explode below, joined before the first upsert write
    graft.Overlap.background(graft.TempDirs.copyTree(spark, src, work)) { seeded =>
      val wave = Tables.load(spark, dir, "documents")
        .where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
      // persisted: consumed by the upsert merge AND the touched-set collect
      // (the appendDocsBatch convention) — one tokenize+explode, not two
      val wavePostings = postingsOf(wave)
        .withColumn("tb", expr(tbExpr)).withColumn("ver", lit(1L))
        .persist()
      try {
        // the touched-set collect fills the persist NOW, overlapping the
        // working-copy seed; the upsert then starts from warm rows
        val touched = wavePostings.select("tb").distinct()
          .collect().map(_.getInt(0)).toSet // metadata-scale
        seeded()
        graft.streaming.Sinks.partitionedUpsertBatch(
          wavePostings, s"$work/postings",
          partitionCols = Seq("tb"), keyCols = Seq("term", "doc_id"),
          versionCols = Seq("ver"), sortCols = Seq("term", "doc_id"))
        if (touched.nonEmpty) {
          val merged = spark.read.option("basePath", s"$work/postings")
            .parquet(touched.toSeq.sorted.map(tb => s"$work/postings/tb=$tb"): _*)
          val newStats = merged.groupBy("term").agg(count(lit(1)).as("df"))
            .withColumn("tb", expr(tbExpr)).withColumn("ver", lit(1L))
          graft.streaming.Sinks.partitionedUpsertBatch(
            newStats, s"$work/stats",
            partitionCols = Seq("tb"), keyCols = Seq("term"),
            versionCols = Seq("ver"), sortCols = Seq("term"))
        }
        val old = spark.read.parquet(s"$src/meta").head()
        val add = metaOf(wave).head()
        writeMeta(spark, s"$work/meta",
          old.getLong(0) + add.getLong(0), old.getLong(1) + add.getLong(1))
        augmentTbManifest(spark, work, touched)
        prunedTopK(spark, work)
      } finally wavePostings.unpersist(false)
    }
  }

  val indexAppendSql: String = bm25Sql("TRUE")

  // ------------------------------------------------- block-max pruning

  /** Documents per block-max block. Blocks are doc_id RANGES
    * (`blk = doc_id div 64`), consistent across terms, so every document
    * lives in exactly one block for all of its postings — the property
    * that makes a per-block score bound a per-document one.
    */
  val BlockDocs = 64L

  /** Build-or-reuse the `blockmax/` sidecar of an existing index — the
    * skip metadata of Block-Max WAND (Ding & Suel, SIGIR 2011)
    * re-expressed for set-at-a-time distributed search: per (term, block),
    * the tf MAXIMUM and dl MINIMUM over the block's postings. The tf
    * factor is increasing in tf and decreasing in dl (floor-division
    * preserves both monotonicities), so tfq(max_tf, min_dl) · idfq
    * upper-bounds every member posting's weight. Deliberately stored as
    * the RAW (max_tf, min_dl) extrema rather than a precomputed impact:
    * max/min are append-mergeable, and df/avgdl/N — which move under
    * every append — are resolved at probe time from stats/meta, so the
    * sidecar never goes stale the way a materialized impact would.
    * Bucketed by the same `tb` as postings: the probe's sidecar reads
    * stay query-proportional.
    */
  def ensureBlockMax(spark: SparkSession, root: String): Unit = {
    val (fs, _) = hadoopFs(spark, root)
    // committed = _SUCCESS present AND the upsert-layout `ver` column
    // exists (a sidecar from before the append support is rebuilt — the
    // schema read is metadata-only)
    val committed =
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/blockmax/_SUCCESS")) &&
        spark.read.parquet(s"$root/blockmax").columns.contains("ver")
    if (!committed)
      spark.read.parquet(s"$root/postings")
        .selectExpr("term", s"doc_id div $BlockDocs AS blk", "tf", "dl")
        .groupBy("term", "blk")
        .agg(max("tf").as("max_tf"), min("dl").as("min_dl"))
        .withColumn("tb", expr(tbExpr)).withColumn("ver", lit(0L))
        .repartition(col("tb"))
        .sortWithinPartitions("tb", "term", "blk")
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$root/blockmax")
  }

  /** The one-row meta read driver-side (two longs — metadata-scale, the
    * [[streamRouteQuery]] precedent) so the probe can inline N/TT as
    * literals instead of cross-joining the meta frame repeatedly.
    */
  private def metaVals(spark: SparkSession, root: String): (Long, Long) = {
    val m = spark.read.parquet(s"$root/meta").head()
    (m.getLong(0), m.getLong(1))
  }

  /** Query-term stats with resolved idfq and inlined corpus globals —
    * the probe-time join of the pruned `stats` buckets against the
    * standing queries (≤ |query terms| rows; broadcast everywhere it is
    * used).
    */
  private def qstatsIdf(spark: SparkSession, root: String,
      touched: Seq[Int], nd: Long, tt: Long,
      qt: SparkSession => DataFrame = queryTerms): DataFrame =
    prunedRead(spark, root, "stats", touched).select("term", "df")
      .join(broadcast(qt(spark)), "term")
      .selectExpr("query_id", "term", "df",
        s"CAST($nd AS BIGINT) AS n_docs",
        s"CAST($tt AS BIGINT) AS total_tokens",
        s"((2 * $nd - 2 * df + 1) * $Qi) div (2 * df + 1) AS idfq")

  /** The per-(query, block) admission decision, exposed for the spec's
    * pruning accounting: every block of the index scored by its upper
    * bound against the query's threshold θ. Returns
    * (query_id, blk, ub, theta) for SURVIVING pairs only.
    *
    *  - θ_q (phase 1): the TopK-th score counting ONLY the query's
    *    rarest term (max idfq, term-asc tie-break). Sound lower bound of
    *    the true TopK-th score: each phase-1 doc's full score is ≥ its
    *    single-term score (weights are non-negative), so ≥ TopK docs
    *    score ≥ θ. Fewer than TopK postings ⇒ θ = 0 (no pruning, still
    *    exact).
    *  - ub(q, blk) (phase 2): Σ over the query's terms present in the
    *    block of tfq(max_tf, min_dl) · idfq — an upper bound of any
    *    member document's full score. `ub < θ` proves no document of the
    *    block can displace the TopK (strictly below ≥ TopK others), so
    *    the pair is pruned EXACTLY — result equality with the unpruned
    *    probe is a theorem, not a tuning (spec-pinned, and the entry
    *    shares [[indexTopKSql]] with the unpruned entry).
    */
  /** Phase-1 θ: per query the [[TopK]]-th score counting ONLY its rarest
    * term (see [[blockSurvivors]] soundness note) — extracted so the WAND
    * loop can seed its adaptive threshold with the same lower bound.
    * `qstats` must carry (query_id, term, idfq, n_docs, total_tokens).
    */
  private def phase1Theta(postings: DataFrame, qstats: DataFrame)
      : DataFrame = {
    val best = qstats.withColumn("brk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY idfq DESC, term)"))
      .where("brk = 1")
      .select("query_id", "term", "idfq", "n_docs", "total_tokens")
    postings.join(broadcast(best), "term")
      .selectExpr("query_id", "doc_id", s"${tfFactorExpr("div")} * idfq AS w")
      .withColumn("prk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY w DESC, doc_id)"))
      .where(s"prk <= $TopK")
      .groupBy("query_id")
      .agg(min("w").as("wk"), count(lit(1)).as("c"))
      .selectExpr("query_id",
        s"CASE WHEN c >= $TopK THEN wk ELSE CAST(0 AS BIGINT) END AS theta")
  }

  private[graft] def blockSurvivors(spark: SparkSession, root: String)
      : DataFrame = {
    val touched = touchedBuckets(spark, root)
    val (nd, tt) = metaVals(spark, root)
    val qstats = qstatsIdf(spark, root, touched, nd, tt)
      .select("query_id", "term", "idfq", "n_docs", "total_tokens")
    val postings = prunedRead(spark, root, "postings", touched)
      .select("term", "doc_id", "tf", "dl")
    val theta = phase1Theta(postings, qstats)
    prunedRead(spark, root, "blockmax", touched)
      .selectExpr("term", "blk", "max_tf AS tf", "min_dl AS dl")
      .join(broadcast(qstats), "term")
      .selectExpr("query_id", "blk", s"${tfFactorExpr("div")} * idfq AS ubw")
      .groupBy("query_id", "blk").agg(sum("ubw").as("ub"))
      .join(broadcast(theta), "query_id")
      .where("ub >= theta")
  }

  /** The block-max probe: identical output to [[prunedTopK]], but the
    * scoring aggregation admits only (query, block) pairs whose upper
    * bound can reach the top-k — the candidate rows of pruned blocks
    * never enter the (query, doc) shuffle, which is the distributed
    * analog of WAND's pointer skipping (document-at-a-time traversal is
    * inherently sequential; bound-and-prune over doc-range blocks is the
    * set-at-a-time form that parallelizes). On the synthetic corpus the
    * homogeneous vocabulary keeps most upper bounds above θ; the
    * [[RetrievalBlockMaxSpec]] skewed-corpus fixture demonstrates the
    * machinery actually dropping blocks, and equality holds either way.
    */
  def blockMaxTopK(spark: SparkSession, root: String): DataFrame = {
    ensureBlockMax(spark, root)
    val touched = touchedBuckets(spark, root)
    val (nd, tt) = metaVals(spark, root)
    val survivors = blockSurvivors(spark, root).select("query_id", "blk")
    prunedRead(spark, root, "postings", touched)
      .select("term", "doc_id", "tf", "dl")
      .withColumn("blk", expr(s"doc_id div $BlockDocs"))
      .join(broadcast(qstatsIdf(spark, root, touched, nd, tt)), "term")
      .join(survivors, Seq("query_id", "blk"), "left_semi")
      .selectExpr("query_id", "doc_id", s"${weightExpr("div")} AS w")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("w").as("w_sum"))
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY w_sum DESC, doc_id)"))
      .where(s"rk <= $TopK")
      .selectExpr("query_id", "doc_id", "n_hit", "w_sum",
        s"CAST(w_sum AS DOUBLE) / ${Qt * Qi}.0 AS score",
        "CAST(rk AS BIGINT) AS rk")
      .orderBy("query_id", "rk")
  }

  /** Driver entry: block-max pruned top-k over the persisted index —
    * shares the unpruned probe's oracle (equality IS the contract).
    */
  def blockMaxQuery(spark: SparkSession, dir: String): DataFrame =
    blockMaxTopK(spark, ensureBm25Index(spark, dir))

  /** The sidecar's append-mergeability, proven end-to-end: the same
    * bucket-wise wave merge as [[indexAppend]], PLUS a blockmax rebuild
    * for exactly the touched buckets (recomputed from the merged postings
    * — the stats-recompute pattern; raw (max_tf, min_dl) extrema make
    * this a touched-bucket agg, no global inputs), then the BLOCK-MAX
    * probe against the augmented index. The oracle recomputes BM25 over
    * the FULL corpus from scratch, so a stale sidecar row — an old
    * max_tf surviving where the wave raised it, which could wrongly
    * prune the block under the new θ — breaks the hash.
    */
  def blockMaxAppend(spark: SparkSession, dir: String): DataFrame = {
    val src = ensureBm25Index(spark, dir)
    ensureBlockMax(spark, src)
    val work = graft.TempDirs.scoped("bm25-bmappend") + "/index"
    // hermeticity tax only — runs concurrently with the wave's
    // tokenize+explode below, joined before the first upsert write
    graft.Overlap.background(graft.TempDirs.copyTree(spark, src, work)) { seeded =>
      val wave = Tables.load(spark, dir, "documents")
        .where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
      // persisted: consumed by the upsert merge AND the touched-set collect
      // (the appendDocsBatch convention) — one tokenize+explode, not two
      val wavePostings = postingsOf(wave)
        .withColumn("tb", expr(tbExpr)).withColumn("ver", lit(1L))
        .persist()
      try {
        // the touched-set collect fills the persist NOW, overlapping the
        // working-copy seed; the upsert then starts from warm rows
        val touched = wavePostings.select("tb").distinct()
          .collect().map(_.getInt(0)).toSet // metadata-scale
        seeded()
        graft.streaming.Sinks.partitionedUpsertBatch(
          wavePostings, s"$work/postings",
          partitionCols = Seq("tb"), keyCols = Seq("term", "doc_id"),
          versionCols = Seq("ver"), sortCols = Seq("term", "doc_id"))
        if (touched.nonEmpty) {
          val merged = spark.read.option("basePath", s"$work/postings")
            .parquet(touched.toSeq.sorted.map(tb => s"$work/postings/tb=$tb"): _*)
          val newStats = merged.groupBy("term").agg(count(lit(1)).as("df"))
            .withColumn("tb", expr(tbExpr)).withColumn("ver", lit(1L))
          val newBlockMax = merged
            .selectExpr("term", s"doc_id div $BlockDocs AS blk", "tf", "dl")
            .groupBy("term", "blk")
            .agg(max("tf").as("max_tf"), min("dl").as("min_dl"))
            .withColumn("tb", expr(tbExpr)).withColumn("ver", lit(1L))
          // stats and blockmax both derive from the COMMITTED merged
          // postings and write to DIFFERENT tables — run the two upsert
          // jobs concurrently (guide §2.6 overlap independent jobs): each
          // is a tail of small tasks + a 64-file commit, and back-filling
          // one job's tail with the other's tasks halves the wave's
          // sidecar-maintenance wall
          graft.Overlap.background(graft.streaming.Sinks.partitionedUpsertBatch(
              newStats, s"$work/stats",
              partitionCols = Seq("tb"), keyCols = Seq("term"),
              versionCols = Seq("ver"), sortCols = Seq("term"))) { _ =>
            graft.streaming.Sinks.partitionedUpsertBatch(
              newBlockMax, s"$work/blockmax",
              partitionCols = Seq("tb"), keyCols = Seq("term", "blk"),
              versionCols = Seq("ver"), sortCols = Seq("term", "blk"))
          }
        }
        val old = spark.read.parquet(s"$src/meta").head()
        val add = metaOf(wave).head()
        writeMeta(spark, s"$work/meta",
          old.getLong(0) + add.getLong(0), old.getLong(1) + add.getLong(1))
        augmentTbManifest(spark, work, touched)
        blockMaxTopK(spark, work)
      } finally wavePostings.unpersist(false)
    }
  }

  // ------------------------------------- skewed-score block-max surface

  /** One rare-ified term per standing query — the FIRST term of each
    * query string, so after [[skewedDocs]] every query carries exactly
    * one high-idf term.
    */
  private def skewRare: Seq[String] = Queries.map(_._2.split(' ').head)

  /** Corpus DERIVED from `documents` with a genuinely Zipfian score
    * surface: outside block 0 the [[skewRare]] terms are REMOVED from the
    * text; block-0 docs (doc_id < [[BlockDocs]]) get all five appended ×3.
    * df(rare) collapses to |block 0| so each query's rarest-term idf
    * dominates its score — the shape real corpora have and the uniform
    * synthetic vocabulary lacks (block-max pruned only 15–20% there,
    * round-12 finding: an unhelpful corpus made the prune gate vacuous).
    * Purely a deterministic single-pass projection of the real table, so
    * the DuckDB oracle replays it exactly.
    */
  def skewedDocs(spark: SparkSession, dir: String): DataFrame = {
    val notIn = skewRare.map(t => s"'$t'").mkString(", ")
    val boost = (" " + skewRare.mkString(" ")) * 3
    Tables.load(spark, dir, "documents").selectExpr("doc_id",
      s"""CASE WHEN doc_id div $BlockDocs = 0 THEN concat(text, '$boost')
         |     ELSE array_join(filter(split(text, ' '),
         |            t -> t NOT IN ($notIn)), ' ')
         |END AS text""".stripMargin,
      "lang", "source", "n_chars")
  }

  /** Stage a derived corpus ONCE at a stable content-keyed path (source
    * fingerprint via [[Dedup.docsStats]], so a regenerated source corpus
    * re-derives instead of silently reusing) — the derivation is
    * deterministic, so the staged table AND the index the real builder
    * commits over it are reusable across invocations (a fresh temp dir
    * per call was re-deriving and REBUILDING the whole index every run:
    * 6 s/invocation at sf0.001, all build). Atomic [[IndexCommit]]
    * publication, same cross-process safety as the indexes themselves.
    * The entries only PROBE the staged corpus/index, so sharing is safe.
    */
  private def stagedDerived(spark: SparkSession, dir: String, tag: String)(
      derive: => DataFrame): String = {
    val (rows, fp) = Dedup.docsStats(spark, dir)
    val d = s"/tmp/graft_bm25_$tag/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + s"_n${rows}_f$fp"
    val (fs, root) = hadoopFs(spark, d)
    IndexCommit.ensure(fs, root)(r =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$r/documents.parquet/_SUCCESS"))) {
      tmp =>
        derive.coalesce(1).write.mode("overwrite")
          .parquet(s"$tmp/documents.parquet")
    }
    d
  }

  private def skewedStage(spark: SparkSession, dir: String): String =
    stagedDerived(spark, dir, "skew")(skewedDocs(spark, dir))

  /** Committed skewed-surface gate (round-12 verdict item 5): the
    * block-max probe runs the REAL production path — persisted index,
    * sidecar, θ/ub admission — over the [[skewedDocs]] corpus, and emits
    * its exact top-k JOINED with per-query admission accounting
    * (n_blocks candidate pairs, n_survivors admitted, prune_ok =
    * 2·survivors < blocks). Both halves are load-bearing: the DuckDB
    * oracle independently replays θ and every block bound (so a bound
    * arithmetic drift breaks the hash) AND scores the corpus unpruned
    * (so an over-eager prune that drops a true top-k block breaks the
    * hash too); the entry additionally REFUSES to return when under half
    * the candidate blocks prune — the gate can no longer be satisfied by
    * an unhelpful corpus.
    */
  def blockMaxSkewed(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureBm25Index(spark, skewedStage(spark, dir))
    ensureBlockMax(spark, root)
    val touched = touchedBuckets(spark, root)
    val cand = prunedRead(spark, root, "blockmax", touched)
      .join(broadcast(queryTerms(spark)), "term")
      .select("query_id", "blk").distinct()
      .groupBy("query_id").agg(count(lit(1)).as("n_blocks"))
    val surv = blockSurvivors(spark, root)
      .groupBy("query_id").agg(count(lit(1)).as("n_survivors"))
    val acct = cand.join(surv, Seq("query_id"), "left")
      .selectExpr("query_id", "n_blocks",
        "coalesce(n_survivors, CAST(0 AS BIGINT)) AS n_survivors")
      .selectExpr("query_id", "n_blocks", "n_survivors",
        "2 * n_survivors < n_blocks AS prune_ok")
    val bad = acct.where("NOT prune_ok").collect() // ≤ |queries| rows
    require(bad.isEmpty,
      "block-max pruned under half the candidate blocks on the skewed " +
        s"surface: ${bad.mkString(", ")} — the bound machinery regressed")
    blockMaxTopK(spark, root)
      .join(broadcast(acct), "query_id")
      .select("query_id", "doc_id", "n_hit", "w_sum", "score", "rk",
        "n_blocks", "n_survivors", "prune_ok")
      .orderBy("query_id", "rk")
  }

  /** DuckDB replay of [[blockMaxSkewed]]: derive the same corpus, score
    * it UNPRUNED for the top-k, and recompute θ (rarest-term phase-1
    * lower bound) plus every (query, block) upper bound from scratch for
    * the admission counts.
    */
  val blockMaxSkewedSql: String = {
    val notIn = skewRare.map(t => s"'$t'").mkString(", ")
    val boost = (" " + skewRare.mkString(" ")) * 3
    def tfq(tf: String, dl: String, g: String) =
      s"((22 * $tf * ${Qt * Qr}) // (10 * $tf * $Qr + ${3 * Qr} " +
        s"+ (9 * $dl * $Qr) // ($g.total_tokens // $g.n_docs)))"
    s"""WITH sdocs AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id // $BlockDocs = 0 THEN concat(text, '$boost')
       |              ELSE array_to_string(list_filter(string_split(text, ' '),
       |                     t -> t NOT IN ($notIn)), ' ')
       |         END AS text
       |  FROM documents WHERE doc_id % ${Dedup.IncrSplitMod} <> 0),
       |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM sdocs),
       |dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM d),
       |toks AS (SELECT doc_id, unnest(t) AS term FROM d),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |meta AS (SELECT count(*)::BIGINT AS n_docs,
       |                sum(len(t))::BIGINT AS total_tokens FROM d),
       |q AS (SELECT * FROM (VALUES $valuesSql) AS v(query_id, term)),
       |qstats AS (
       |  SELECT q.query_id::BIGINT AS query_id, q.term, df.df,
       |         m.n_docs, m.total_tokens,
       |         ((2 * m.n_docs - 2 * df.df + 1) * $Qi) // (2 * df.df + 1) AS idfq
       |  FROM q JOIN df ON q.term = df.term CROSS JOIN meta m),
       |best AS (
       |  SELECT query_id, term, idfq, n_docs, total_tokens FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                ORDER BY idfq DESC, term) AS brk
       |    FROM qstats) WHERE brk = 1),
       |pst AS (SELECT tf.term, tf.doc_id, tf.tf, dl.dl
       |        FROM tf JOIN dl ON tf.doc_id = dl.doc_id),
       |th0 AS (
       |  SELECT b.query_id, p.doc_id,
       |         ${tfq("p.tf", "p.dl", "b")} * b.idfq AS w
       |  FROM pst p JOIN best b ON p.term = b.term),
       |th0r AS (SELECT query_id, w, row_number() OVER (PARTITION BY query_id
       |                  ORDER BY w DESC, doc_id) AS prk FROM th0),
       |theta AS (
       |  SELECT query_id,
       |         CASE WHEN count(*) >= $TopK THEN min(w)
       |              ELSE 0 END::BIGINT AS theta
       |  FROM th0r WHERE prk <= $TopK GROUP BY query_id),
       |bm AS (SELECT term, doc_id // $BlockDocs AS blk,
       |              max(tf) AS tf, min(dl) AS dl
       |       FROM pst GROUP BY 1, 2),
       |ub AS (SELECT s.query_id, b.blk,
       |              sum(${tfq("b.tf", "b.dl", "s")} * s.idfq) AS ub
       |       FROM bm b JOIN qstats s ON b.term = s.term GROUP BY 1, 2),
       |acct AS (
       |  SELECT u.query_id, count(*)::BIGINT AS n_blocks,
       |         sum(CASE WHEN u.ub >= t.theta THEN 1 ELSE 0 END)::BIGINT
       |           AS n_survivors
       |  FROM ub u JOIN theta t ON u.query_id = t.query_id GROUP BY 1),
       |scored AS (
       |  SELECT s.query_id, p.doc_id, ${tfq("p.tf", "p.dl", "s")} * s.idfq AS w
       |  FROM pst p JOIN qstats s ON p.term = s.term),
       |agg AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_hit,
       |               sum(w)::BIGINT AS w_sum
       |        FROM scored GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                      ORDER BY w_sum DESC, doc_id) AS rk FROM agg)
       |SELECT r.query_id, r.doc_id, r.n_hit, r.w_sum,
       |       r.w_sum::DOUBLE / ${Qt * Qi}.0 AS score, r.rk::BIGINT AS rk,
       |       a.n_blocks, a.n_survivors,
       |       2 * a.n_survivors < a.n_blocks AS prune_ok
       |FROM ranked r JOIN acct a ON r.query_id = a.query_id
       |WHERE r.rk <= $TopK ORDER BY r.query_id, r.rk""".stripMargin
  }

  // --------------------------------- WAND adaptive early termination

  /** The WAND surface's standing queries: each pairs TWO rare terms that
    * CO-OCCUR only in one block (where the true top-k lives) but appear
    * separately across many blocks, plus one common corpus term — the
    * shape where one-shot block-max is weak (the single-rarest-term θ
    * cannot rule out the single-marker blocks) and an adaptive θ is
    * strong (after the co-occurrence block is scored, the true top-k
    * scores ≈ 2× any single-marker block's bound).
    */
  val WandQueries: Seq[(Long, String)] = Seq(
    0L -> "zw1 zw2 scan",
    1L -> "zw3 zw4 merge")

  private def wandPairs: Seq[(Long, String)] =
    WandQueries.flatMap { case (id, q) => q.split(' ').map(t => (id, t)) }

  private def wandValuesSql: String =
    wandPairs.map { case (id, t) => s"($id,'$t')" }.mkString(",")

  private def wandQueryTerms(spark: SparkSession): DataFrame = {
    import spark.implicits._
    wandPairs.toDF("query_id", "term")
  }

  /** The marker CASE appended to `text` by both engines (Spark `div`/
    * `pmod`, DuckDB `//`/`%` — doc_id is non-negative so they agree):
    * zw1+zw2 ×2 on block 0 and zw3+zw4 ×2 on block 1 (the co-occurrence
    * blocks, tf = 2 so their true scores clear every single-marker
    * bound); zw1/zw3/zw2/zw4 singly on the blocks ≡ 2/3/4/5 (mod 8).
    */
  private def wandMarkerCase(divOp: String, modFn: (String, String) => String)
      : String = {
    val b = s"(doc_id $divOp $BlockDocs)"
    s"""CASE WHEN $b = 0 THEN ' zw1 zw2 zw1 zw2'
       |     WHEN $b = 1 THEN ' zw3 zw4 zw3 zw4'
       |     WHEN ${modFn(b, "8")} = 2 THEN ' zw1'
       |     WHEN ${modFn(b, "8")} = 3 THEN ' zw3'
       |     WHEN ${modFn(b, "8")} = 4 THEN ' zw2'
       |     WHEN ${modFn(b, "8")} = 5 THEN ' zw4'
       |     ELSE '' END""".stripMargin
  }

  /** Corpus derived from `documents` for the WAND surface (deterministic
    * one-pass projection, DuckDB-replayable like [[skewedDocs]]).
    */
  def wandDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents").selectExpr("doc_id",
      s"concat(text, ${wandMarkerCase("div", (a, m) => s"pmod($a, $m)")}) AS text",
      "lang", "source", "n_chars")

  private def wandStage(spark: SparkSession, dir: String): String =
    stagedDerived(spark, dir, "wand")(wandDocs(spark, dir))

  /** Block-Max WAND with ADAPTIVE θ (Ding & Suel 2011, the document-at-
    * a-time termination re-expressed block-at-a-time): process candidate
    * blocks in impact (upper-bound) order, one per query per round; after
    * each block is scored EXACTLY, raise θ to max(phase-1 bound, true
    * TopK-th score so far); terminate when no unscored block's bound
    * reaches θ. Exactness is the same theorem as [[blockMaxTopK]]
    * (every unscored block's ub < θ ≤ true TopK-th), but the RISING θ
    * prunes blocks the one-shot single-term bound cannot.
    *
    * Scale shape: the loop is inherently adaptive-sequential — that is
    * WAND's nature, not a Spark limitation. Per round, the driver holds
    * only queries-sized state (θ, running top-k) and collects one
    * frontier row per query plus one scored BLOCK of ≤ [[BlockDocs]]
    * docs per query; every big-data touch (bound agg, block scoring) is
    * a distributed job over manifest-pruned bucket reads. Rounds =
    * scored blocks per query, which the θ seed + impact order keep at
    * O(1) on skewed (real-corpus-shaped) score surfaces; on a uniform
    * surface use [[blockMaxTopK]] — adaptive termination buys nothing
    * when bounds are flat (the committed gate below asserts the surface
    * is NOT flat: ≥5× candidate reduction).
    *
    * Returns (rows, perQuery accounting): exact top-k rows plus
    * (n_candidates, n_bm_survivors, n_scored) per query.
    */
  private[graft] def wandTopK(spark: SparkSession, root: String)
      : (Seq[(Long, Long, Long, Long)], Map[Long, (Long, Long, Long)]) = {
    import spark.implicits._
    ensureBlockMax(spark, root)
    val pairs = wandPairs
    val touched = touchedBuckets(spark, root, pairs)
    val (nd, tt) = metaVals(spark, root)
    val qstats = qstatsIdf(spark, root, touched, nd, tt, wandQueryTerms)
      .select("query_id", "term", "idfq", "n_docs", "total_tokens")
    val postings = prunedRead(spark, root, "postings", touched)
      .select("term", "doc_id", "tf", "dl")
    // per-(query, block) upper bounds — reused every round
    val ub = prunedRead(spark, root, "blockmax", touched)
      .selectExpr("term", "blk", "max_tf AS tf", "min_dl AS dl")
      .join(broadcast(qstats), "term")
      .selectExpr("query_id", "blk", s"${tfFactorExpr("div")} * idfq AS ubw")
      .groupBy("query_id", "blk").agg(sum("ubw").as("ub"))
      .localCheckpoint() // small (queries × candidate blocks); reread each round
    val candPostings = postings.join(broadcast(qstats), "term")
      .withColumn("blk", expr(s"doc_id div $BlockDocs"))
    val theta0: Map[Long, Long] = phase1Theta(postings, qstats).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // ≤ |queries|
    val nCand: Map[Long, Long] = ub.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nBmSurv: Map[Long, Long] = {
      val t = theta0.toSeq.toDF("query_id", "theta")
      ub.join(broadcast(t), "query_id").where("ub >= theta")
        .groupBy("query_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    var scored = Set.empty[(Long, Long)] // (query_id, blk)
    var thetas = theta0
    // per query: running top-k as (doc_id, n_hit, w_sum), w_sum desc
    var top = Map.empty[Long, Vector[(Long, Long, Long)]]
      .withDefaultValue(Vector.empty)
    var continue = true
    while (continue) {
      val scoredDf = scored.toSeq.toDF("query_id", "blk")
      val thetaDf = thetas.toSeq.toDF("query_id", "theta")
      val frontier = ub
        .join(broadcast(scoredDf), Seq("query_id", "blk"), "left_anti")
        .join(broadcast(thetaDf), "query_id")
        .where("ub >= theta")
        .withColumn("frk", expr(
          "row_number() OVER (PARTITION BY query_id ORDER BY ub DESC, blk)"))
        .where("frk = 1")
        .select("query_id", "blk")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq // ≤ |queries|
      if (frontier.isEmpty) continue = false
      else {
        val batchDf = frontier.toDF("query_id", "blk")
        val batch = candPostings
          .join(broadcast(batchDf), Seq("query_id", "blk"), "left_semi")
          .selectExpr("query_id", "doc_id",
            s"${tfFactorExpr("div")} * idfq AS w")
          .groupBy("query_id", "doc_id")
          .agg(count(lit(1)).as("n_hit"), sum("w").as("w_sum"))
          .collect() // ≤ BlockDocs docs per query: block-sized by definition
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        top = batch.groupBy(_._1).foldLeft(top) { case (acc, (q, rows)) =>
          val merged = (acc(q) ++ rows.map(_._2))
            .sortBy { case (doc, _, w) => (-w, doc) }.take(TopK)
          acc.updated(q, merged)
        }
        scored ++= frontier
        thetas = thetas.map { case (q, _) =>
          val ts = top(q)
          val kth = if (ts.size >= TopK) ts.last._3 else Long.MinValue
          q -> math.max(theta0(q), kth)
        }
      }
    }
    val rows = WandQueries.map(_._1).sorted.flatMap { q =>
      top(q).map { case (doc, nHit, w) => (q, doc, nHit, w) }
    }
    val acct = WandQueries.map(_._1).map { q =>
      q -> (nCand(q), nBmSurv.getOrElse(q, 0L),
        scored.count(_._1 == q).toLong)
    }.toMap
    (rows, acct)
  }

  /** Committed WAND gate (round-12 verdict item 8): the adaptive loop
    * over the REAL persisted index of the [[wandDocs]] corpus, emitting
    * its exact top-k joined with (n_candidates, n_bm_survivors,
    * n_scored, wand_ok = 5·scored ≤ candidates). The DuckDB oracle
    * scores the corpus UNPRUNED for the top-k (so adaptive termination
    * that drops a true top-k block breaks the hash) and recomputes the
    * scored-block set in CLOSED FORM — block b is scored iff its bound
    * clears θ0 and fewer than [[TopK]] docs in impact-order-earlier
    * blocks beat its bound — which equals the sequential loop's scored
    * set by induction (docs of any pruned block are dominated by
    * [[TopK]] docs of scored blocks). The hash therefore checks the
    * loop ⟺ closed-form equivalence itself, plus the ≥5× candidate
    * reduction the verdict asked for.
    */
  def wandSkewed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureBm25Index(spark, wandStage(spark, dir))
    val (rows, acct) = wandTopK(spark, root)
    acct.foreach { case (q, (cand, _, scored)) =>
      require(5 * scored <= cand,
        s"WAND scored $scored of $cand candidate blocks for query $q — " +
          "adaptive termination lost its >5x reduction on the skewed surface")
    }
    val ranked = rows.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      rs.sortBy { case (_, doc, _, w) => (-w, doc) }.zipWithIndex.map {
        case ((_, doc, nHit, w), i) =>
          val (cand, bm, scored) = acct(q)
          (q, doc, nHit, w, (i + 1).toLong, cand, bm, scored)
      }
    }.sortBy(t => (t._1, t._5))
    ranked.toDF("query_id", "doc_id", "n_hit", "w_sum", "rk",
        "n_candidates", "n_bm_survivors", "n_scored")
      .selectExpr("query_id", "doc_id", "n_hit", "w_sum",
        s"CAST(w_sum AS DOUBLE) / ${Qt * Qi}.0 AS score", "rk",
        "n_candidates", "n_bm_survivors", "n_scored",
        "5 * n_scored <= n_candidates AS wand_ok")
  }

  /** DuckDB replay of [[wandSkewed]] — unpruned top-k + closed-form
    * scored-set accounting (scaladoc above for the equivalence proof).
    */
  val wandSkewedSql: String = {
    def tfq(tf: String, dl: String, g: String) =
      s"((22 * $tf * ${Qt * Qr}) // (10 * $tf * $Qr + ${3 * Qr} " +
        s"+ (9 * $dl * $Qr) // ($g.total_tokens // $g.n_docs)))"
    s"""WITH wdocs AS (
       |  SELECT doc_id,
       |         concat(text, ${wandMarkerCase("//", (a, m) => s"$a % $m")})
       |           AS text
       |  FROM documents WHERE doc_id % ${Dedup.IncrSplitMod} <> 0),
       |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM wdocs),
       |dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM d),
       |toks AS (SELECT doc_id, unnest(t) AS term FROM d),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |meta AS (SELECT count(*)::BIGINT AS n_docs,
       |                sum(len(t))::BIGINT AS total_tokens FROM d),
       |q AS (SELECT * FROM (VALUES $wandValuesSql) AS v(query_id, term)),
       |qstats AS (
       |  SELECT q.query_id::BIGINT AS query_id, q.term, df.df,
       |         m.n_docs, m.total_tokens,
       |         ((2 * m.n_docs - 2 * df.df + 1) * $Qi) // (2 * df.df + 1) AS idfq
       |  FROM q JOIN df ON q.term = df.term CROSS JOIN meta m),
       |best AS (
       |  SELECT query_id, term, idfq, n_docs, total_tokens FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                ORDER BY idfq DESC, term) AS brk
       |    FROM qstats) WHERE brk = 1),
       |pst AS (SELECT tf.term, tf.doc_id, tf.tf, dl.dl
       |        FROM tf JOIN dl ON tf.doc_id = dl.doc_id),
       |th0 AS (
       |  SELECT b.query_id, p.doc_id,
       |         ${tfq("p.tf", "p.dl", "b")} * b.idfq AS w
       |  FROM pst p JOIN best b ON p.term = b.term),
       |th0r AS (SELECT query_id, w, row_number() OVER (PARTITION BY query_id
       |                  ORDER BY w DESC, doc_id) AS prk FROM th0),
       |theta AS (
       |  SELECT query_id,
       |         CASE WHEN count(*) >= $TopK THEN min(w)
       |              ELSE 0 END::BIGINT AS theta
       |  FROM th0r WHERE prk <= $TopK GROUP BY query_id),
       |bm AS (SELECT term, doc_id // $BlockDocs AS blk,
       |              max(tf) AS tf, min(dl) AS dl
       |       FROM pst GROUP BY 1, 2),
       |ub AS (SELECT s.query_id, b.blk,
       |              sum(${tfq("b.tf", "b.dl", "s")} * s.idfq) AS ub
       |       FROM bm b JOIN qstats s ON b.term = s.term GROUP BY 1, 2),
       |docagg AS (
       |  SELECT s.query_id, p.doc_id, p.doc_id // $BlockDocs AS blk,
       |         count(*)::BIGINT AS n_hit,
       |         sum(${tfq("p.tf", "p.dl", "s")} * s.idfq)::BIGINT AS w_sum
       |  FROM pst p JOIN qstats s ON p.term = s.term GROUP BY 1, 2, 3),
       |wandscored AS (
       |  SELECT u1.query_id, u1.blk
       |  FROM ub u1 JOIN theta t ON u1.query_id = t.query_id
       |  WHERE u1.ub >= t.theta
       |    AND (SELECT count(*)
       |         FROM ub u2 JOIN docagg s2
       |           ON s2.query_id = u2.query_id AND s2.blk = u2.blk
       |         WHERE u2.query_id = u1.query_id
       |           AND (u2.ub > u1.ub OR (u2.ub = u1.ub AND u2.blk < u1.blk))
       |           AND s2.w_sum > u1.ub) < $TopK),
       |acct AS (
       |  SELECT u.query_id, count(*)::BIGINT AS n_candidates,
       |         sum(CASE WHEN u.ub >= t.theta THEN 1 ELSE 0 END)::BIGINT
       |           AS n_bm_survivors,
       |         (SELECT count(*) FROM wandscored ws
       |          WHERE ws.query_id = u.query_id)::BIGINT AS n_scored
       |  FROM ub u JOIN theta t ON u.query_id = t.query_id GROUP BY 1),
       |ranked AS (SELECT query_id, doc_id, n_hit, w_sum,
       |                  row_number() OVER (PARTITION BY query_id
       |                    ORDER BY w_sum DESC, doc_id) AS rk
       |           FROM docagg)
       |SELECT r.query_id, r.doc_id, r.n_hit, r.w_sum,
       |       r.w_sum::DOUBLE / ${Qt * Qi}.0 AS score, r.rk::BIGINT AS rk,
       |       a.n_candidates, a.n_bm_survivors, a.n_scored,
       |       5 * a.n_scored <= a.n_candidates AS wand_ok
       |FROM ranked r JOIN acct a ON r.query_id = a.query_id
       |WHERE r.rk <= $TopK ORDER BY r.query_id, r.rk""".stripMargin
  }

  // ------------------------------------------------- streaming routing

  /** Per-query scoring payload for the STATELESS stream: each standing
    * query as ONE row carrying a term-sorted array of (term, idfq)
    * structs — idf pre-resolved against the index's stats/meta (the
    * background-corpus statistics, exactly how production routing scores
    * a live stream), the [[Similarity]] broadcast-codebook pattern.
    */
  /** The distinct query-term vocabulary in a FIXED order — the shared
    * index space of the per-doc tf array and the payload's term indexes.
    */
  val RelevantTerms: Seq[String] =
    Queries.flatMap(_._2.split(' ')).distinct.sorted

  private def relevantArraySql: String =
    RelevantTerms.map(t => s"'$t'").mkString("array(", ", ", ")")

  def queryPayload(spark: SparkSession, root: String): DataFrame = {
    val stats = spark.read.parquet(s"$root/stats").select("term", "df")
    queryTerms(spark).join(stats, "term")
      .crossJoin(broadcast(metaFrame(spark, root)))
      .selectExpr("query_id",
        s"CAST(array_position($relevantArraySql, term) AS INT) AS tidx",
        s"((2 * n_docs - 2 * df + 1) * $Qi) div (2 * df + 1) AS idfq")
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("tidx"), col("idfq"))))
        .as("qt"))
  }

  /** The stateless routing core: incoming docs × standing queries (the
    * query side is ≤ |queries| broadcast rows), the ENTIRE per-query score
    * folded inside one row-local `aggregate` over the query's term array —
    * tf = occurrence count in the doc's own token array, dl row-local,
    * idf/avgdl from the payload. No shuffle, no watermark, NO STATE STORE:
    * an unbounded stream can run this forever in append mode
    * ([[RetrievalSpec]] proves streaming == batch and statelessness).
    * Emits one row per (query, doc) with at least one weighted hit.
    */
  def routeCore(docs: DataFrame, payload: DataFrame, nDocs: Long,
      avgdlI: Long): DataFrame = {
    // hot-path shape (the ×100 lesson): the per-doc tf of each relevant
    // term is computed ONCE into a fixed-order array BEFORE the query
    // join — one filter pass per relevant term per DOC — and the wide
    // token array is DROPPED before the ×|queries| fan-out, so each
    // (doc, query) row carries only |relevant| longs and the fold is an
    // O(1) element_at per term. The naive per-pair token rescan measured
    // 193 s at the ×100 corpus; this shape does the same work in ~20 s.
    val tfaExpr = RelevantTerms
      .map(term => s"CAST(size(filter(t, x -> x = '$term')) AS BIGINT)")
      .mkString("array(", ", ", ")")
    val tfOf = "element_at(tfa, s.tidx)"
    val wOf =
      s"((22 * $tfOf * ${Qt * Qr}) div (10 * $tfOf * $Qr + ${3 * Qr} " +
        s"+ (9 * dl * $Qr) div $avgdlI)) * s.idfq"
    docs
      .selectExpr("doc_id", "split(text, ' ') AS t")
      .selectExpr("doc_id", "CAST(size(t) AS BIGINT) AS dl",
        s"$tfaExpr AS tfa")
      .crossJoin(broadcast(payload))
      .selectExpr("query_id", "doc_id",
        s"""aggregate(qt, CAST(0 AS BIGINT),
           |  (acc, s) -> acc + CASE WHEN $tfOf > 0 THEN 1 ELSE 0 END)
           |  AS n_hit""".stripMargin,
        s"""aggregate(qt, CAST(0 AS BIGINT),
           |  (acc, s) -> acc + CASE WHEN $tfOf > 0 THEN $wOf ELSE 0 END)
           |  AS w_sum""".stripMargin)
      .where("w_sum > 0")
      .selectExpr("query_id", "doc_id", "n_hit", "w_sum",
        s"CAST(w_sum AS DOUBLE) / ${Qt * Qi}.0 AS score")
  }

  /** Driver entry: the routing core over the batch wave split (the
    * `stream_static_enrich` convention — batch core under the hash
    * oracle, streaming equivalence spec-proven). Scores INCOMING docs
    * against the standing queries using the HISTORICAL index's
    * statistics.
    */
  def streamRouteQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureBm25Index(spark, dir)
    val m = spark.read.parquet(s"$root/meta").head()
    val wave = Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
    routeCore(wave, queryPayload(spark, root),
      m.getLong(0), m.getLong(1) / m.getLong(0))
      .orderBy("query_id", "doc_id")
  }

  val streamRouteSql: String =
    s"""WITH hist AS (SELECT doc_id, string_split(text, ' ') AS t
       |             FROM documents WHERE doc_id % ${Dedup.IncrSplitMod} <> 0),
       |htoks AS (SELECT doc_id, unnest(t) AS term FROM hist),
       |htf AS (SELECT doc_id, term, count(*) AS tf FROM htoks GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM htf GROUP BY 1),
       |meta AS (SELECT count(*)::BIGINT AS n_docs,
       |                sum(len(t))::BIGINT AS total_tokens FROM hist),
       |w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |      WHERE doc_id % ${Dedup.IncrSplitMod} = 0),
       |wdl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM w),
       |wtoks AS (SELECT doc_id, unnest(t) AS term FROM w),
       |wtf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |        FROM wtoks GROUP BY 1, 2),
       |q AS (SELECT * FROM (VALUES $valuesSql) AS v(query_id, term)),
       |scored AS (
       |  SELECT q.query_id::BIGINT AS query_id, wtf.doc_id,
       |         ((22 * wtf.tf * ${Qt * Qr}) // (10 * wtf.tf * $Qr + ${3 * Qr}
       |          + (9 * wdl.dl * $Qr) // (m.total_tokens // m.n_docs)))
       |         * (((2 * m.n_docs - 2 * df.df + 1) * $Qi) // (2 * df.df + 1)) AS w
       |  FROM q JOIN wtf ON q.term = wtf.term
       |  JOIN df ON wtf.term = df.term
       |  JOIN wdl ON wtf.doc_id = wdl.doc_id
       |  CROSS JOIN meta m),
       |agg AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_hit,
       |               sum(w)::BIGINT AS w_sum
       |        FROM scored GROUP BY 1, 2)
       |SELECT query_id, doc_id, n_hit, w_sum,
       |       w_sum::DOUBLE / ${Qt * Qi}.0 AS score
       |FROM agg WHERE w_sum > 0 ORDER BY query_id, doc_id""".stripMargin

  // ------------------------------------------------- hybrid RRF fusion

  /** Per-leg rank depth and final k of the hybrid entry. */
  val HybridK = 10
  /** Quantized reciprocal-rank contribution: `RrfQ div (RrfC + rank)` —
    * the standard RRF c = 60 (Cormack et al. SIGIR 2009) cleared to exact
    * BIGINT so fused scores hash cross-engine.
    */
  val RrfC = 60L
  val RrfQ = 1000000000000L

  /** Hybrid lexical + vector retrieval fused by Reciprocal Rank Fusion —
    * what a RAG serving stack actually runs: the SAME query set scored by
    * BOTH engines of this library (BM25 over `documents`, exact cosine
    * over the aligned `embeddings` rows), each leg's top-[[HybridK]]
    * ranks combined as Σ 1/(60 + rank) and re-ranked. Queries are
    * query-by-example — doc_id < 5 supplies the lexical terms AND (as
    * vec_id) the query embedding, self excluded from both legs. Rank
    * fusion needs only (id, rank) pairs from each leg, so the fuse stage
    * is k·|queries|-scale whatever the corpus size; each leg keeps its
    * own production plan (broadcast query terms / broadcast query batch).
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val qterms = docs.where(s"doc_id < ${Similarity.QuerySetSize}")
      .selectExpr("doc_id AS query_id",
        "explode(array_distinct(split(text, ' '))) AS term")
    val postings = postingsOf(docs)
    val qstats = statsOf(postings).join(broadcast(qterms), "term")
    val lexRanks = postings.join(broadcast(qstats), "term")
      .where("doc_id <> query_id")
      .crossJoin(broadcast(metaOf(docs)))
      .selectExpr("query_id", "doc_id", s"${weightExpr("div")} AS w")
      .groupBy("query_id", "doc_id").agg(sum("w").as("w_sum"))
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY w_sum DESC, doc_id)"))
      .where(s"rk <= $HybridK")
      .selectExpr("query_id", "doc_id", "CAST(rk AS BIGINT) AS lex_rk")
    val vecRanks = Similarity.cosineRanks(spark, dir, HybridK)
      .selectExpr("q_id AS query_id", "vec_id AS doc_id", "rk AS vec_rk")
    def contrib(c: String) =
      s"CASE WHEN $c IS NOT NULL THEN $RrfQ div ($RrfC + $c) ELSE CAST(0 AS BIGINT) END"
    lexRanks.join(vecRanks, Seq("query_id", "doc_id"), "full_outer")
      .selectExpr("query_id", "doc_id",
        "coalesce(lex_rk, CAST(0 AS BIGINT)) AS lex_rk",
        "coalesce(vec_rk, CAST(0 AS BIGINT)) AS vec_rk",
        s"${contrib("lex_rk")} + ${contrib("vec_rk")} AS rrf")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id)"))
      .where(s"rk <= $HybridK")
      .selectExpr("query_id", "doc_id", "lex_rk", "vec_rk", "rrf",
        "CAST(rk AS BIGINT) AS rk")
      .orderBy("query_id", "rk")
  }

  val hybridRrfSql: String = {
    def contrib(c: String) =
      s"CASE WHEN $c IS NOT NULL THEN $RrfQ // ($RrfC + $c) ELSE 0::BIGINT END"
    s"""WITH ${Similarity.cosineRanksCtes(HybridK)},
       |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM d),
       |toks AS (SELECT doc_id, unnest(t) AS term FROM d),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |meta AS (SELECT count(*)::BIGINT AS n_docs,
       |                sum(len(t))::BIGINT AS total_tokens FROM d),
       |lq AS (SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
       |       FROM d WHERE doc_id < ${Similarity.QuerySetSize}),
       |lscored AS (
       |  SELECT lq.query_id, tf.doc_id,
       |         ((22 * tf.tf * ${Qt * Qr}) // (10 * tf.tf * $Qr + ${3 * Qr}
       |          + (9 * dl.dl * $Qr) // (m.total_tokens // m.n_docs)))
       |         * (((2 * m.n_docs - 2 * df.df + 1) * $Qi) // (2 * df.df + 1)) AS w
       |  FROM lq JOIN tf ON lq.term = tf.term AND tf.doc_id <> lq.query_id
       |  JOIN df ON tf.term = df.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN meta m),
       |lagg AS (SELECT query_id, doc_id, sum(w)::BIGINT AS w_sum
       |         FROM lscored GROUP BY 1, 2),
       |lex_rk AS (
       |  SELECT query_id, doc_id, rk::BIGINT AS rk FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY w_sum DESC, doc_id) AS rk
       |    FROM lagg)
       |  WHERE rk <= $HybridK),
       |fused AS (
       |  SELECT coalesce(l.query_id, v.q_id) AS query_id,
       |         coalesce(l.doc_id, v.vec_id) AS doc_id,
       |         coalesce(l.rk, 0::BIGINT) AS lex_rk,
       |         coalesce(v.rk, 0::BIGINT) AS vec_rk,
       |         ${contrib("l.rk")} + ${contrib("v.rk")} AS rrf
       |  FROM lex_rk l FULL OUTER JOIN vec_rk v
       |    ON l.query_id = v.q_id AND l.doc_id = v.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY rrf DESC, doc_id) AS rk
       |  FROM fused)
       |SELECT query_id, doc_id, lex_rk, vec_rk, rrf, rk::BIGINT AS rk
       |FROM ranked WHERE rk <= $HybridK ORDER BY query_id, rk""".stripMargin
  }

  /** The PRODUCTION twin of [[hybridRrf]]: the same query-by-example
    * fusion, but each leg probes its PERSISTED index instead of scanning
    * the corpus — lexical ranks from the bucketed BM25 index
    * (manifest-pruned, query-proportional IO) and vector ranks from the
    * IVF index (probed lists only). This is the shape a serving stack
    * runs at 100 TB: the exact entry measured linear in corpus size
    * (1.6 → 24 s across ×100 at sf0.1) while both index probes are
    * batch-proportional. Both indexes hold the standard historical split
    * (`id % ${Dedup.IncrSplitMod} <> 0`), so fused results cover the
    * indexed corpus — the oracle recomputes BOTH legs from raw tables
    * under that split, so a stale posting, a mispruned bucket, or a lost
    * inverted list all break the hash. Collecting the ~query-set's
    * distinct terms to the driver for bucket pruning is query-scale
    * metadata (queries are INPUT), mirroring [[touchedBuckets]]'s
    * zero-job contract.
    */
  def hybridRrfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureBm25Index(spark, dir)
    val qterms = Tables.load(spark, dir, "documents")
      .where(s"doc_id < ${Similarity.QuerySetSize}")
      .selectExpr("doc_id AS query_id",
        "explode(array_distinct(split(text, ' '))) AS term")
    val termStrs = qterms.select("term").distinct()
      .collect().map(_.getString(0)) // query-scale: the example docs' terms
    val touched = termStrs.map(termBucket).toSet
      .intersect(readTbManifest(spark, root)).toSeq.sorted
    val qstats = prunedRead(spark, root, "stats", touched)
      .select("term", "df").join(broadcast(qterms), "term")
    val lexRanks = prunedRead(spark, root, "postings", touched)
      .select("term", "doc_id", "tf", "dl")
      .join(broadcast(qstats), "term")
      .where("doc_id <> query_id")
      .crossJoin(broadcast(metaFrame(spark, root)))
      .selectExpr("query_id", "doc_id", s"${weightExpr("div")} AS w")
      .groupBy("query_id", "doc_id").agg(sum("w").as("w_sum"))
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY w_sum DESC, doc_id)"))
      .where(s"rk <= $HybridK")
      .selectExpr("query_id", "doc_id", "CAST(rk AS BIGINT) AS lex_rk")
    val vecRanks = IvfIndex.probe(spark, dir,
        IvfIndex.ensure(spark, dir, IvfIndex.Float), IvfIndex.Float,
        Similarity.corpusFloats(spark, dir)
          .where(s"vec_id < ${Similarity.QuerySetSize}"), HybridK)
      .selectExpr("q_id AS query_id", "vec_id AS doc_id", "rk AS vec_rk")
    def contrib(c: String) =
      s"CASE WHEN $c IS NOT NULL THEN $RrfQ div ($RrfC + $c) ELSE CAST(0 AS BIGINT) END"
    lexRanks.join(vecRanks, Seq("query_id", "doc_id"), "full_outer")
      .selectExpr("query_id", "doc_id",
        "coalesce(lex_rk, CAST(0 AS BIGINT)) AS lex_rk",
        "coalesce(vec_rk, CAST(0 AS BIGINT)) AS vec_rk",
        s"${contrib("lex_rk")} + ${contrib("vec_rk")} AS rrf")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id)"))
      .where(s"rk <= $HybridK")
      .selectExpr("query_id", "doc_id", "lex_rk", "vec_rk", "rrf",
        "CAST(rk AS BIGINT) AS rk")
      .orderBy("query_id", "rk")
  }

  val hybridRrfIndexedSql: String = {
    def contrib(c: String) =
      s"CASE WHEN $c IS NOT NULL THEN $RrfQ // ($RrfC + $c) ELSE 0::BIGINT END"
    s"""WITH ${Similarity.ivfRanksCtes(HybridK)},
       |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |      WHERE doc_id % ${Dedup.IncrSplitMod} <> 0),
       |dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM d),
       |toks AS (SELECT doc_id, unnest(t) AS term FROM d),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |meta AS (SELECT count(*)::BIGINT AS n_docs,
       |                sum(len(t))::BIGINT AS total_tokens FROM d),
       |lq AS (SELECT doc_id AS query_id, unnest(list_distinct(string_split(text, ' '))) AS term
       |       FROM documents WHERE doc_id < ${Similarity.QuerySetSize}),
       |lscored AS (
       |  SELECT lq.query_id, tf.doc_id,
       |         ((22 * tf.tf * ${Qt * Qr}) // (10 * tf.tf * $Qr + ${3 * Qr}
       |          + (9 * dl.dl * $Qr) // (m.total_tokens // m.n_docs)))
       |         * (((2 * m.n_docs - 2 * df.df + 1) * $Qi) // (2 * df.df + 1)) AS w
       |  FROM lq JOIN tf ON lq.term = tf.term AND tf.doc_id <> lq.query_id
       |  JOIN df ON tf.term = df.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN meta m),
       |lagg AS (SELECT query_id, doc_id, sum(w)::BIGINT AS w_sum
       |         FROM lscored GROUP BY 1, 2),
       |lex_rk AS (
       |  SELECT query_id, doc_id, rk::BIGINT AS rk FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY w_sum DESC, doc_id) AS rk
       |    FROM lagg)
       |  WHERE rk <= $HybridK),
       |fused AS (
       |  SELECT coalesce(l.query_id, v.q_id) AS query_id,
       |         coalesce(l.doc_id, v.vec_id) AS doc_id,
       |         coalesce(l.rk, 0::BIGINT) AS lex_rk,
       |         coalesce(v.rk, 0::BIGINT) AS vec_rk,
       |         ${contrib("l.rk")} + ${contrib("v.rk")} AS rrf
       |  FROM lex_rk l FULL OUTER JOIN vec_rk v
       |    ON l.query_id = v.q_id AND l.doc_id = v.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY rrf DESC, doc_id) AS rk
       |  FROM fused)
       |SELECT query_id, doc_id, lex_rk, vec_rk, rrf, rk::BIGINT AS rk
       |FROM ranked WHERE rk <= $HybridK ORDER BY query_id, rk""".stripMargin
  }

  // ------------------------------------------------- phrase search

  /** Standing phrase queries (literals — queries are INPUT): two live
    * bigrams, a REPEATED-TERM phrase (the alignment logic's hard case),
    * and a trigram; all verified present in the corpus (spec-guarded
    * against a vacuous surface).
    */
  val Phrases: Seq[(Long, String)] = Seq(
    0L -> "order fast",
    1L -> "window join",
    2L -> "order order",
    3L -> "big order scan")

  /** Exact phrase search — the retrieval capability BM25's bag-of-words
    * scoring cannot express, re-expressed as ONE relational alignment
    * instead of the positional-index intersect-and-walk: each phrase
    * term carries its offset; a posting (term, doc, pos) matching offset
    * `qoff` votes for candidate start `pos − qoff`; a start where the
    * DISTINCT offsets voting equal the phrase length is an occurrence
    * (count-distinct, not count, so a repeated term can't double-vote
    * one offset). Plan shape: one positional explode (the map side of
    * any positional index build), a broadcast join against the ≤ Σ|phrase|
    * literal terms, and group-by aggs on (query, doc, start) —
    * occurrence detection costs one combinable shuffle, no per-document
    * walk. At 100 TB positions ride in the same `tb`-bucketed postings
    * as [[ensureBm25Index]] (an array column per posting) and this exact
    * alignment runs over the pruned buckets.
    */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pterms = Phrases.flatMap { case (id, p) =>
      p.split(' ').zipWithIndex.map { case (t, o) => (id, o.toLong, t) }
    }.toDF("query_id", "qoff", "term")
    val plens = Phrases.map { case (id, p) =>
      (id, p.split(' ').length.toLong)
    }.toDF("query_id", "plen")
    val postings = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, term)")
    postings.join(broadcast(pterms), "term")
      .selectExpr("query_id", "doc_id", "qoff", "pos - qoff AS start")
      .where("start >= 0")
      .groupBy("query_id", "doc_id", "start")
      .agg(countDistinct(col("qoff")).as("n_off"))
      .join(broadcast(plens), "query_id")
      .where("n_off = plen")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_occ"), min("start").as("first_start"))
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY n_occ DESC, doc_id)"))
      .where(s"rk <= $TopK")
      .selectExpr("query_id", "doc_id", "n_occ", "first_start",
        "CAST(rk AS BIGINT) AS rk")
      .orderBy("query_id", "rk")
  }

  /** Oracle for phrase top-k over `documents WHERE docFilter`. */
  def phraseSql(docFilter: String): String = {
    val termRows = Phrases.flatMap { case (id, p) =>
      p.split(' ').zipWithIndex.map { case (t, o) => s"($id,$o,'$t')" }
    }.mkString(",")
    val lenRows = Phrases.map { case (id, p) =>
      s"($id,${p.split(' ').length})"
    }.mkString(",")
    s"""WITH pterms AS (
       |  SELECT query_id::BIGINT AS query_id, qoff::BIGINT AS qoff, term
       |  FROM (VALUES $termRows) AS v(query_id, qoff, term)),
       |plens AS (
       |  SELECT query_id::BIGINT AS query_id, plen::BIGINT AS plen
       |  FROM (VALUES $lenRows) AS v(query_id, plen)),
       |p AS (
       |  SELECT doc_id, i - 1 AS pos, w[i::INT] AS term
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |        WHERE $docFilter),
       |       LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
       |votes AS (
       |  SELECT q.query_id, p.doc_id, q.qoff, p.pos - q.qoff AS start
       |  FROM p JOIN pterms q ON p.term = q.term
       |  WHERE p.pos - q.qoff >= 0),
       |occ AS (
       |  SELECT v.query_id, v.doc_id, v.start,
       |         count(DISTINCT v.qoff)::BIGINT AS n_off
       |  FROM votes v GROUP BY 1, 2, 3),
       |hits AS (
       |  SELECT o.query_id, o.doc_id, count(*)::BIGINT AS n_occ,
       |         min(o.start)::BIGINT AS first_start
       |  FROM occ o JOIN plens l ON o.query_id = l.query_id
       |  WHERE o.n_off = l.plen GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY n_occ DESC, doc_id) AS rk
       |  FROM hits)
       |SELECT query_id, doc_id, n_occ, first_start, rk::BIGINT AS rk
       |FROM ranked WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin
  }

  val phraseSearchSql: String = phraseSql("TRUE")

  /** Phrase search over the PERSISTED index — the production path the
    * full-scan entry anchors: [[ensureBm25Index]]'s postings carry each
    * term's sorted position list on the posting row (the Lucene-style
    * positional layout), so the probe explodes positions of ONLY the
    * phrase terms' rows read from ONLY their manifest-pruned `tb=`
    * buckets (driver-side polyhash bucket set — zero jobs), then runs
    * the same offset-alignment vote as [[phraseSearch]]. Probe IO is
    * query-proportional whatever the corpus; the oracle recomputes from
    * raw documents under the index split, so a lost/unsorted position
    * list or a mispruned bucket breaks the hash.
    */
  def phraseIndexSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureBm25Index(spark, dir)
    val pterms = Phrases.flatMap { case (id, p) =>
      p.split(' ').zipWithIndex.map { case (t, o) => (id, o.toLong, t) }
    }.toDF("query_id", "qoff", "term")
    val plens = Phrases.map { case (id, p) =>
      (id, p.split(' ').length.toLong)
    }.toDF("query_id", "plen")
    val touched = Phrases.flatMap(_._2.split(' ')).map(termBucket).toSet
      .intersect(readTbManifest(spark, root)).toSeq.sorted
    prunedRead(spark, root, "postings", touched)
      .select("term", "doc_id", "positions")
      .join(broadcast(pterms), "term")
      .selectExpr("query_id", "doc_id", "qoff", "explode(positions) AS pos")
      .selectExpr("query_id", "doc_id", "qoff", "pos - qoff AS start")
      .where("start >= 0")
      .groupBy("query_id", "doc_id", "start")
      .agg(countDistinct(col("qoff")).as("n_off"))
      .join(broadcast(plens), "query_id")
      .where("n_off = plen")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_occ"), min("start").as("first_start"))
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY query_id ORDER BY n_occ DESC, doc_id)"))
      .where(s"rk <= $TopK")
      .selectExpr("query_id", "doc_id", "n_occ", "first_start",
        "CAST(rk AS BIGINT) AS rk")
      .orderBy("query_id", "rk")
  }

  val phraseIndexSearchSql: String =
    phraseSql(s"doc_id % ${Dedup.IncrSplitMod} <> 0")

  /** Per-document occurrence count of a phrase as ONE per-row expression:
    * candidate starts 0..size−len filtered by the unrolled per-offset
    * token equalities — a pure higher-order-function fold, no explode, no
    * shuffle, no state. This is what lets phrase routing ride an ingest
    * hot path: the whole match is row-local.
    */
  private def phraseOccExpr(terms: Seq[String]): String = {
    val len = terms.length
    val cond = terms.zipWithIndex.map { case (w, o) =>
      s"element_at(t, CAST(s + ${o + 1} AS INT)) = '$w'"
    }.mkString(" AND ")
    s"CASE WHEN size(t) >= $len THEN CAST(size(filter(" +
      s"sequence(0, size(t) - $len), s -> $cond)) AS BIGINT) " +
      s"ELSE CAST(0 AS BIGINT) END"
  }

  /** The row-local match pipeline over a (streaming or batch) frame of
    * (doc_id, text): every standing phrase evaluated by [[phraseOccExpr]],
    * matches kept. Shared by the entry and the spec's statelessness probe.
    */
  private[pipeline] def phraseRouteFrame(docs: DataFrame): DataFrame = {
    val matches = Phrases.map { case (id, p) =>
      s"named_struct('query_id', CAST($id AS BIGINT), " +
        s"'n_occ', ${phraseOccExpr(p.split(' ').toSeq)})"
    }.mkString("array(", ", ", ")")
    docs
      .selectExpr("doc_id", "split(text, ' ') AS t")
      .selectExpr("doc_id", s"explode($matches) AS m")
      .selectExpr("m.query_id AS query_id", "doc_id", "m.n_occ AS n_occ")
      .where("n_occ > 0")
  }

  /** STATELESS streaming phrase routing — documents replayed as real
    * micro-batches, every row matched against all standing [[Phrases]]
    * by [[phraseOccExpr]] (row-local HOF work, so the plan carries zero
    * state stores and no watermark — spec-asserted); matching (doc,
    * phrase) pairs land in an append-mode sink. Shares its oracle with
    * the batch alignment semantics: the streamed match set must equal
    * the full-corpus phrase-occurrence table.
    */
  def streamPhraseRoute(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.PacedReplay
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val stage = graft.TempDirs.scoped("phrase-route") + "/docs"
    val rowsPerFile = math.max(1L, docs.count() / 4L).toInt
    PacedReplay.stage(docs, Seq("doc_id"), rowsPerFile, stage)
    val out = phraseRouteFrame(
      PacedReplay.stream(spark, stage, docs.schema))
    val qn = "graft_stream_phrase_route"
    val q = out.writeStream
      .outputMode("append").format("memory").queryName(qn)
      // throwaway checkpoint on the session scratch tier (TempDirs doc)
      .option("checkpointLocation", graft.TempDirs.scoped("ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    spark.table(qn).orderBy("query_id", "doc_id")
  }

  val streamPhraseRouteSql: String = {
    val termRows = Phrases.flatMap { case (id, p) =>
      p.split(' ').zipWithIndex.map { case (t, o) => s"($id,$o,'$t')" }
    }.mkString(",")
    val lenRows = Phrases.map { case (id, p) =>
      s"($id,${p.split(' ').length})"
    }.mkString(",")
    s"""WITH pterms AS (
       |  SELECT query_id::BIGINT AS query_id, qoff::BIGINT AS qoff, term
       |  FROM (VALUES $termRows) AS v(query_id, qoff, term)),
       |plens AS (
       |  SELECT query_id::BIGINT AS query_id, plen::BIGINT AS plen
       |  FROM (VALUES $lenRows) AS v(query_id, plen)),
       |p AS (
       |  SELECT doc_id, i - 1 AS pos, w[i::INT] AS term
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |       LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
       |votes AS (
       |  SELECT q.query_id, p.doc_id, q.qoff, p.pos - q.qoff AS start
       |  FROM p JOIN pterms q ON p.term = q.term
       |  WHERE p.pos - q.qoff >= 0),
       |occ AS (
       |  SELECT v.query_id, v.doc_id, v.start,
       |         count(DISTINCT v.qoff)::BIGINT AS n_off
       |  FROM votes v GROUP BY 1, 2, 3)
       |SELECT o.query_id, o.doc_id, count(*)::BIGINT AS n_occ
       |FROM occ o JOIN plens l ON o.query_id = l.query_id
       |WHERE o.n_off = l.plen GROUP BY 1, 2
       |ORDER BY o.query_id, o.doc_id""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_hybrid_rrf" -> hybridRrf,
    "text_phrase_search" -> phraseSearch,
    "text_phrase_index" -> phraseIndexSearch,
    "stream_phrase_route" -> streamPhraseRoute,
    "text_hybrid_rrf_indexed" -> hybridRrfIndexed,
    "text_bm25_topk" -> bm25TopK,
    "text_bm25_index" -> indexSummary,
    "text_bm25_index_topk" -> indexTopK,
    "text_bm25_append" -> indexAppend,
    "text_bm25_blockmax" -> blockMaxQuery,
    "text_bm25_blockmax_append" -> blockMaxAppend,
    "text_bm25_blockmax_skewed" -> blockMaxSkewed,
    "text_bm25_wand_skewed" -> wandSkewed,
    "stream_bm25_route" -> streamRouteQuery)

  val oracles: Map[String, String] = Map(
    "text_hybrid_rrf" -> hybridRrfSql,
    "text_hybrid_rrf_indexed" -> hybridRrfIndexedSql,
    "text_phrase_search" -> phraseSearchSql,
    "text_phrase_index" -> phraseIndexSearchSql,
    "stream_phrase_route" -> streamPhraseRouteSql,
    "text_bm25_topk" -> bm25TopKSql,
    "text_bm25_index" -> indexSummarySql,
    "text_bm25_index_topk" -> indexTopKSql,
    "text_bm25_append" -> indexAppendSql,
    "text_bm25_blockmax" -> indexTopKSql,
    "text_bm25_blockmax_append" -> indexAppendSql,
    "text_bm25_blockmax_skewed" -> blockMaxSkewedSql,
    "text_bm25_wand_skewed" -> wandSkewedSql,
    "stream_bm25_route" -> streamRouteSql)
}
