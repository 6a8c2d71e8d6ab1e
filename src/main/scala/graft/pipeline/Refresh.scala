package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** INCREMENTAL end-to-end corpus refresh — the deployment form of
  * [[CorpusOps.e2ePrepare]] (r15 verdict item 3): a NEW document batch
  * flows through quality gating, exact + near-duplicate dedup,
  * decontamination, and line-dedup accounting AGAINST THE STANDING
  * ARTIFACTS of the already-ingested base corpus — and the accepted docs
  * are APPENDED back into the standing index — without ever recomputing
  * the base corpus. `e2ePrepare` answers "prepare this corpus"; this
  * entry answers the question a production pipeline faces every hour:
  * "fold this crawl batch into an already-prepared corpus".
  *
  * Composed standing artifacts (each already a gated entry on its own):
  *  - FROZEN quality weights — the batch perceptron
  *    ([[QualityClassifier]]) trained ONCE on the base corpus (train
  *    split ∩ base) and memoized content-keyed, the offline-train /
  *    online-score split of `stream_quality_filter`;
  *  - the persisted MinHash band index ([[Dedup.ensureMinhashIndex]]) —
  *    probed bucket-pruned ([[Dedup.incrementalProbe]]), then the
  *    accepted docs are appended through the same partition-wise upsert
  *    MERGE a production ingest runs ([[Dedup.appendDocsBatch]]) and the
  *    append is verified by a pruned re-probe;
  *  - the persisted eval-gram table ([[ensureEvalGramIndex]]) — the
  *    benchmark suite's distinct [[CorpusOps.DecontamN]]-grams, built
  *    once and BROADCAST against each batch (the corpus side of
  *    decontamination never shuffles — the [[CorpusOps.decontaminate]]
  *    contract);
  *  - the capped eval embedding slice — semantic decontamination's eval
  *    side ([[CorpusOps.decontaminateSemanticCore]]'s geometry,
  *    restricted to base members), benchmark-sized and broadcast;
  *  - the persisted line index ([[LineDedup.ensureLineIndex]]) — the
  *    batch's per-doc line accounting probes only its touched `lb=`
  *    buckets ([[LineDedup.refreshLines]]).
  *
  * Batch split: `doc_id % IncrSplitMod = 0` is the incoming batch, the
  * rest is the base corpus — the same deterministic split as the
  * `dedup_incremental_*` family, so the refresh REUSES their persisted
  * index (standing state, not an entry-private artifact).
  *
  * Output is the long-format accounting of `pipeline_e2e_prepare`: one
  * exact-integer row per stage (batch size, survivors of each gate, line
  * totals over the accepted set, the append re-probe verdict, and the
  * accepted-content fingerprint Σ polyhash(text) — a single changed,
  * extra, or missing accepted doc breaks the hash). The DuckDB oracle
  * recomputes every stage from the raw corpus+batch restricted to the
  * batch's rows — so a stale index, a lost append, drifted frozen
  * weights, or a wrong bucket probe all fail the gate.
  *
  * 100 TB shape: the base corpus is touched ZERO times per refresh on
  * the warm path — weights are driver-memoized (33 longs), the band and
  * line probes are manifest-pruned point lookups (batch-proportional IO,
  * the [[Dedup.incrementalProbe]] contract, spec-asserted in
  * RefreshSpec), the eval-side artifacts are benchmark-sized broadcasts,
  * and every batch-side stage is batch-proportional (window over
  * md5(text), banded candidate gen, gram/vector broadcasts, bucket-wise
  * append). Nothing in the flow scales with corpus size except the
  * one-time offline builds the `ensure*` family amortizes.
  */
object Refresh {

  import Dedup.IncrSplitMod
  import CorpusOps.{DecontamN, EvalEvery, SemanticEvalCap, SemanticTau}

  /** Frozen-weight memo: one offline train per corpus content per JVM
    * (the deployment ships weights as an artifact; content keying via
    * [[Dedup.docsStats]] mirrors the index families' stale-reuse guard).
    */
  private val weightsCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Long]]

  /** Train-once-and-freeze: the [[QualityClassifier]] batch perceptron
    * over the BASE corpus only (its usual train split ∩ base). Returns
    * the memoized weights on every later call — RefreshSpec asserts the
    * second call does not re-train.
    */
  private[pipeline] def ensureFrozenWeights(spark: SparkSession,
      dir: String): Array[Long] = {
    val (rows, fp) = Dedup.docsStats(spark, dir)
    weightsCache.getOrElseUpdate(s"$dir|$rows|$fp", {
      // base split spread to the row-derived parallelism floor (the
      // QualityClassifier.labeledWide rationale): the single-file scan
      // otherwise trains the perceptron in one task
      val feats = QualityClassifier.featurize(
        graft.BatchSizing.widen(
            Tables.load(spark, dir, "documents")
              .where(s"doc_id % $IncrSplitMod <> 0"),
            rows * (IncrSplitMod - 1) / IncrSplitMod)
          .selectExpr(QualityClassifier.labelExprs: _*)).cache()
      try QualityClassifier.train(feats) finally feats.unpersist(false)
    })
  }

  /** Content-keyed location of the persisted eval-gram table. */
  def evalGramPath(spark: SparkSession, dir: String): String = {
    val (rows, fp) = Dedup.docsStats(spark, dir)
    "/tmp/graft_evalgram_index/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + s"_g${DecontamN}_n${rows}_f$fp"
  }

  /** Build-once: the benchmark suite's distinct word-grams — the eval
    * docs that are base-corpus members (the standing benchmark existed
    * before any batch arrived), exactly [[CorpusOps.decontaminate]]'s
    * gram derivation. Grams are eval-suite-sized, so the artifact stays
    * broadcastable whatever the corpus grows to.
    */
  def ensureEvalGramIndex(spark: SparkSession, dir: String): String = {
    val path = evalGramPath(spark, dir)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexCommit.ensure(fs, p)(r =>
      fs.exists(new org.apache.hadoop.fs.Path(r, "_SUCCESS"))) { tmp =>
      Tables.load(spark, dir, "documents")
        .where(s"doc_id % $EvalEvery = 0 AND doc_id % $IncrSplitMod <> 0")
        .selectExpr("split(text, ' ') AS t")
        .selectExpr(s"explode(${CorpusOps.gramExpr(DecontamN)}) AS gram")
        .distinct()
        .coalesce(4) // eval-suite-sized: a handful of files
        .write.mode("overwrite").parquet(tmp.toString)
    }
    path
  }

  /** Q — `pipeline_e2e_refresh`. Stage numbering matches the metric
    * rows; every count is over the batch's docs only.
    */
  def query(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val docs = Tables.load(spark, dir, "documents")
    val batch = docs.where(s"doc_id % $IncrSplitMod = 0")
      .select("doc_id", "text")

    // 2. quality gate: frozen weights (offline-trained on base), scored
    //    row-locally on the batch — the stream_quality_filter split
    val w = ensureFrozenWeights(spark, dir)
    val qualityIds = QualityClassifier.featurize(
        batch.selectExpr(QualityClassifier.labelExprs: _*))
      .where(s"${QualityClassifier.marginExpr(w)} > 0")
      .select("doc_id")
    val quality = batch.join(qualityIds, "doc_id")

    // 3. exact dedup WITHIN the batch (vs-base exact dups are caught by
    //    the signature probe below: identical text ⇒ 16/16 agreement)
    val exactK = quality
      .withColumn("krk", expr(
        "row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)"))
      .where("krk = 1").drop("krk")
      // consumed by the probe's signature pass, the count, and the
      // anti-join — materialize the margin+window subtree once
      .localCheckpoint()

    // 4. near-dup vs the STANDING corpus: bucket-pruned probe of the
    //    persisted band index (batch-proportional IO)
    val idxPath = Dedup.ensureMinhashIndex(spark, dir)
    // stage 10's working-copy seed (hermeticity tax, pure filesystem
    // work) depends only on the standing index — start it HERE and join
    // right before the append mutates the copy, so the copy's wall time
    // hides under stages 4-9 (guide §2.6 overlap independent work)
    val augPath = graft.TempDirs.scoped("e2e-refresh") +
      s"/index_b${Dedup.indexBuckets(spark, dir)}"
    graft.Overlap.background(graft.TempDirs.copyTree(spark, idxPath, augPath)) { seeded =>
      val dupBase = Dedup.incrementalProbe(spark, exactK, idxPath, prune = true)
        .where("is_dup = 1").select("doc_id").distinct()
      val s3 = exactK.join(dupBase, Seq("doc_id"), "left_anti")
        // consumed ~6× by the within-batch near-dup construction
        .localCheckpoint()

      // 5. near-dup WITHIN the batch: full LSH→exact-Jaccard confirm at
      //    batch scale, keep-first (the e2ePrepare stage-3 policy)
      val dupIn = Dedup.jaccardLshGated(s3.select("doc_id", "text"))
        .selectExpr("doc_b AS doc_id").distinct()
      val s4 = s3.join(dupIn, Seq("doc_id"), "left_anti")
        // truncate the gated-LSH subtree: five downstream consumers
        // (counts, decon stages, accept) must not re-execute it
        .localCheckpoint()

      // 6. eval split-off: ids reserved for the benchmark pool are never
      //    training candidates
      val cand = s4.where(s"doc_id % $EvalEvery != 0")

      // 7. gram decontamination vs the PERSISTED eval-gram artifact
      val evalGrams = spark.read.parquet(ensureEvalGramIndex(spark, dir))
      val gramContaminated = cand
        .selectExpr("doc_id", "split(text, ' ') AS t")
        .selectExpr("doc_id", s"explode(${CorpusOps.gramExpr(DecontamN)}) AS gram")
        .join(broadcast(evalGrams), "gram")
        .select("doc_id").distinct()
      val s5 = cand.join(gramContaminated, Seq("doc_id"), "left_anti")
        // truncate the gram-decon subtree (count + semantic stage + accept)
        .localCheckpoint()

      // 8. semantic decontamination vs the capped eval embedding slice
      //    (base members only), broadcast — the decontaminateSemantic
      //    geometry restricted to the batch side
      val emb = Tables.load(spark, dir, "embeddings")
        .selectExpr("vec_id",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
        .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
      val evalVecs = emb.where(
          s"vec_id % $EvalEvery = 0 AND vec_id < ${EvalEvery * SemanticEvalCap}" +
            s" AND vec_id % $IncrSplitMod <> 0")
        .selectExpr("vec_id AS eval_id", "emb AS e_emb", "nrm AS e_nrm")
      val semContaminated = s5.select("doc_id")
        .join(emb, expr("vec_id = doc_id"))
        .join(broadcast(evalVecs))
        .selectExpr("doc_id",
          "round(graft_dot(emb, e_emb) / (nrm * e_nrm), 6) AS sim")
        .groupBy("doc_id").agg(max("sim").as("max_sim"))
        .where(s"max_sim >= $SemanticTau")
        .select("doc_id")
      val accepted = s5.join(semContaminated, Seq("doc_id"), "left_anti")
        // consumed by the count, line probe, append, re-probe, fingerprint
        .localCheckpoint()

      // 9. line-dedup accounting vs the PERSISTED line index (+ batch-
      //    internal first occurrences) — touched-bucket probes only
      val lineStats = LineDedup.refreshLines(spark, dir, accepted)

      // 10. fold the batch back into the standing state: bucket-wise
      //     append to a working copy of the band index, then verify with a
      //     pruned re-probe (every appended doc must now self-match). The
      //     copy was seeded concurrently at stage 4 — join it (propagating
      //     any copy failure) before the first write touches the tree.
      seeded()
      Dedup.appendDocsBatch(spark, augPath, accepted)
      val reprobed = Dedup.incrementalProbe(spark, accepted, augPath, prune = true)
        .where("is_dup = 1").select("doc_id").distinct()

      def one(stage: Int, metric: String, v: DataFrame): DataFrame =
        v.selectExpr(s"CAST($stage AS BIGINT) AS stage", s"'$metric' AS metric",
          "CAST(v AS BIGINT) AS value")
      def cnt(stage: Int, metric: String, df: DataFrame): DataFrame =
        one(stage, metric, df.agg(count(lit(1)).as("v")))
      cnt(1, "batch_docs", batch)
        .unionByName(cnt(2, "quality_docs", quality))
        .unionByName(cnt(3, "exact_dedup_docs", exactK))
        .unionByName(cnt(4, "past_base_neardup", s3))
        .unionByName(cnt(5, "past_batch_neardup", s4))
        .unionByName(cnt(6, "train_candidates", cand))
        .unionByName(cnt(7, "gram_clean_docs", s5))
        .unionByName(cnt(8, "accepted_docs", accepted))
        .unionByName(one(9, "lines_total", lineStats.agg(
          expr("coalesce(sum(lines_total), CAST(0 AS BIGINT)) AS v"))))
        .unionByName(one(9, "lines_kept", lineStats.agg(
          expr("coalesce(sum(lines_kept), CAST(0 AS BIGINT)) AS v"))))
        .unionByName(cnt(10, "reprobe_self_dups", reprobed))
        .unionByName(one(11, "batch_fp", accepted.agg(
          expr(s"coalesce(sum(${TextAnalysis.polyHashExpr("text")})," +
            " CAST(0 AS BIGINT)) AS v"))))
        .orderBy("stage", "metric")
    }
  }

  /** DuckDB replay: recompute EVERY stage from corpus+batch restricted
    * to the batch's rows — frozen weights via the quality chain trained
    * on the base split, the signature probe from full sig/bands CTEs,
    * the within-batch confirm from the gated chain, decon from raw eval
    * docs, lines from raw base lines. An index that dropped or
    * duplicated a row, a probe that missed a bucket, or a weight that
    * drifted all diverge from this ground truth.
    */
  val sql: String = {
    val m = IncrSplitMod
    val shift = 1L << LineDedup.IdxBits
    val matchSum = (0 until Dedup.H)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val gram =
      s"""unnest(list_distinct(list_transform(
         |  range(1, greatest(len(t) - ${DecontamN - 1}, 0) + 1),
         |  i -> array_to_string(t[i:i+${DecontamN - 1}], ' ')))) AS gram""".stripMargin
    s"""WITH ${QualityClassifier.marginCtesWith(
      s"doc_id % 5 <> 3 AND doc_id % $m <> 0")},
       |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % $m = 0),
       |q AS MATERIALIZED (
       |  SELECT b.doc_id, b.text FROM batch b
       |  JOIN qc ON qc.doc_id = b.doc_id WHERE qc.margin > 0),
       |k AS MATERIALIZED (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |           row_number() OVER (PARTITION BY md5(text)
       |             ORDER BY doc_id) AS krk
       |    FROM q) WHERE krk = 1),
       |${Dedup.lshGatedCtes("documents")},
       |dupb AS (
       |  SELECT DISTINCT n.doc_id
       |  FROM bands n JOIN bands h ON n.band = h.band AND n.bh = h.bh
       |  JOIN sig sa ON sa.doc_id = n.doc_id
       |  JOIN sig sb ON sb.doc_id = h.doc_id
       |  WHERE n.doc_id IN (SELECT doc_id FROM k) AND h.doc_id % $m <> 0
       |    AND ($matchSum) >= ${Dedup.EstDupMatches}),
       |s3 AS MATERIALIZED (
       |  SELECT doc_id, text FROM k
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dupb)),
       |dupin AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM gated
       |  WHERE doc_a IN (SELECT doc_id FROM s3)
       |    AND doc_b IN (SELECT doc_id FROM s3)),
       |s4 AS MATERIALIZED (
       |  SELECT doc_id, text FROM s3
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dupin)),
       |tc AS MATERIALIZED (
       |  SELECT doc_id, text FROM s4 WHERE doc_id % $EvalEvery <> 0),
       |eg AS (SELECT DISTINCT gram FROM (
       |         SELECT $gram
       |         FROM (SELECT string_split(text, ' ') AS t FROM documents
       |               WHERE doc_id % $EvalEvery = 0 AND doc_id % $m <> 0))),
       |cg AS (SELECT doc_id, gram FROM (
       |         SELECT doc_id, $gram
       |         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM tc))),
       |gcont AS (SELECT DISTINCT doc_id FROM cg JOIN eg USING (gram)),
       |s5 AS MATERIALIZED (
       |  SELECT doc_id, text FROM tc
       |  WHERE doc_id NOT IN (SELECT doc_id FROM gcont)),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |             sqrt(list_sum(list_transform(embedding::DOUBLE[],
       |                                          v -> v * v))) AS nrm
       |      FROM embeddings),
       |ev AS (SELECT vec_id AS eval_id, emb AS e_emb, nrm AS e_nrm FROM e
       |       WHERE vec_id % $EvalEvery = 0
       |         AND vec_id < ${EvalEvery * SemanticEvalCap}
       |         AND vec_id % $m <> 0),
       |scont AS (
       |  SELECT doc_id FROM (
       |    SELECT s5.doc_id,
       |           max(round(list_sum(list_transform(
       |                 range(1, ${Similarity.Dim + 1}),
       |                 i -> e.emb[i] * ev.e_emb[i])) / (e.nrm * ev.e_nrm),
       |               6)) AS max_sim
       |    FROM s5 JOIN e ON e.vec_id = s5.doc_id, ev
       |    GROUP BY s5.doc_id)
       |  WHERE max_sim >= $SemanticTau),
       |acc AS MATERIALIZED (
       |  SELECT doc_id, text FROM s5
       |  WHERE doc_id NOT IN (SELECT doc_id FROM scont)),
       |${LineDedup.linesCtesFor(
      s"(SELECT doc_id, text FROM documents WHERE doc_id % $m <> 0)", "bs")},
       |${LineDedup.linesCtesFor("acc", "ac")},
       |basef AS (SELECT line, min(doc_id * $shift + line_idx) AS base_first
       |          FROM lbs GROUP BY line),
       |batchf AS (SELECT line, min(doc_id * $shift + line_idx) AS batch_first
       |           FROM lac GROUP BY line),
       |lk AS (
       |  SELECT l.doc_id,
       |         (l.doc_id * $shift + l.line_idx =
       |          least(bf.batch_first,
       |                coalesce(bb.base_first, bf.batch_first))) AS kept
       |  FROM lac l JOIN batchf bf USING (line)
       |  LEFT JOIN basef bb USING (line)),
       |rows AS (
       |  SELECT 1::BIGINT AS stage, 'batch_docs' AS metric,
       |         (SELECT count(*) FROM batch)::BIGINT AS value
       |  UNION ALL SELECT 2, 'quality_docs', (SELECT count(*) FROM q)
       |  UNION ALL SELECT 3, 'exact_dedup_docs', (SELECT count(*) FROM k)
       |  UNION ALL SELECT 4, 'past_base_neardup', (SELECT count(*) FROM s3)
       |  UNION ALL SELECT 5, 'past_batch_neardup', (SELECT count(*) FROM s4)
       |  UNION ALL SELECT 6, 'train_candidates', (SELECT count(*) FROM tc)
       |  UNION ALL SELECT 7, 'gram_clean_docs', (SELECT count(*) FROM s5)
       |  UNION ALL SELECT 8, 'accepted_docs', (SELECT count(*) FROM acc)
       |  UNION ALL SELECT 9, 'lines_kept',
       |    (SELECT coalesce(sum(CASE WHEN kept THEN 1 ELSE 0 END), 0) FROM lk)
       |  UNION ALL SELECT 9, 'lines_total', (SELECT count(*) FROM lk)
       |  UNION ALL SELECT 10, 'reprobe_self_dups',
       |    (SELECT count(*) FROM acc
       |     WHERE doc_id IN (SELECT doc_id FROM sig))
       |  UNION ALL SELECT 11, 'batch_fp',
       |    (SELECT coalesce(sum(${TextAnalysis.polyHashSql("text")}), 0)
       |     FROM acc))
       |SELECT stage, metric, value::BIGINT AS value FROM rows
       |ORDER BY stage, metric""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_e2e_refresh" -> query)

  val oracles: Map[String, String] = Map(
    "pipeline_e2e_refresh" -> sql)
}
