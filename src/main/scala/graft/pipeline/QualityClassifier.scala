package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** LEARNED quality filtering — the fastText/CCNet stage of real LLM data
  * pipelines (a linear classifier over hashed bag-of-words deciding
  * keep/drop), where the heuristic family ([[TextAnalysis.quality]]) ends:
  * production corpora are filtered by a MODEL trained on labeled classes
  * (wiki-reference vs crawl-spam), not by hand ratios.
  *
  * Training algorithm — a distributed BATCH perceptron, integer-exact:
  *  - featurize once: x ∈ ℤ^[[QcDim]] of hashed-unigram counts
  *    (bucket = graft_polyhash(token) % [[QcDim]]); the corpus is touched
  *    EXACTLY ONCE and the (doc_id, y, split, x) frame is cached — epochs
  *    iterate the feature table, never the text (the Tokenizer precedent);
  *  - each of the [[QcEpochs]] epochs is ONE combinable aggregation: margin
  *    m_d = w₀ + ⟨w, x_d⟩ is row-local against the broadcast-literal
  *    weights, the misclassified set is the filter y·m ≤ 0, and the update
  *    Δw = Σ_mis y·x_d is [[QcDim]]+1 BIGINT sums with map-side partials —
  *    ONE row collected per epoch (parameter-server state, the Lloyd-round
  *    precedent in [[Similarity]]);
  *  - everything is 64-bit integer arithmetic, so the trajectory is exact
  *    in any aggregation order and bit-identical in the DuckDB replay
  *    (materialized-CTE unrolled epochs, the BPE-256 oracle pattern).
  *
  * At 100 TB: featurization is a scan-project (pushdown prunes to
  * doc_id+text), the feature table is ~33 ints/doc (≪ corpus — the staged
  * artifact real trainers iterate), each epoch is one partial-agg reduce
  * with a 33-value result, and scoring is row-local. Nothing driver-side
  * ever exceeds the weight vector.
  *
  * Derived surface (the planted-class convention of the skewed-BM25 /
  * URL-dedup entries — DuckDB replays the exact bytes): the synthetic
  * corpus text is class-identical by construction, so the class signal is
  * planted: clean docs (even doc_id) carry reference-style markers, spam
  * docs ad-style markers, at 32·(1 + g%3)…96 tokens ≈ 5–15 % of the doc —
  * the realistic spam-token density; every 13th doc gets NO markers (the
  * ambiguous class: the model must decide on residual hash noise, so
  * `correct=false` rows are live and accuracy is honestly < 100 %). Split:
  * doc_id % 5 = 3 is HELD OUT of training; the planted held-out split
  * measures generalization (spec-gated at 100 % on sf0.001).
  */
object QualityClassifier {

  /** Hashed-feature dimensionality (buckets). */
  val QcDim = 32

  /** Batch-perceptron epochs (converges to single-digit flips by epoch 2
    * on the planted surface; 4 pins the trajectory the oracle replays).
    */
  val QcEpochs = 4

  private val CleanSfx = " citation reference method result"
  private val SpamSfx = " buy click free offer"

  /** The planted-class derived text, Spark dialect. */
  private val dtextSpark: String =
    s"""concat(text, CASE WHEN doc_id % 13 = 0 THEN ''
       |  WHEN doc_id % 2 = 0
       |    THEN repeat('$CleanSfx', CAST(8 * (1 + doc_id % 3) AS INT))
       |  ELSE repeat('$SpamSfx', CAST(8 * (1 + doc_id % 3) AS INT))
       |END)""".stripMargin

  /** The identical surface in DuckDB's dialect. */
  private val dtextSql: String =
    s"""concat(text, CASE WHEN doc_id % 13 = 0 THEN ''
       |  WHEN doc_id % 2 = 0
       |    THEN repeat('$CleanSfx', (8 * (1 + doc_id % 3))::INT)
       |  ELSE repeat('$SpamSfx', (8 * (1 + doc_id % 3))::INT)
       |END)""".stripMargin

  /** (doc_id, y, is_train, x) over labeled rows — the featurizer core,
    * exposed for [[QualityClassifierSpec]]'s hand-built corpora. Expects
    * columns (doc_id, y, is_train, dtext).
    */
  private[pipeline] def featurize(labeled: DataFrame): DataFrame =
    labeled.selectExpr("doc_id", "y", "is_train",
      s"transform(split(dtext, ' '), t -> graft_polyhash(t) % $QcDim) AS bks")
      .selectExpr("doc_id", "y", "is_train",
        s"transform(sequence(0, ${QcDim - 1}), " +
          "bb -> CAST(size(filter(bks, v -> v = bb)) AS BIGINT)) AS x")

  /** w₀ + ⟨w, x⟩ as a row-local expression against literal weights —
    * exposed so [[Refresh]] scores an incoming batch with the frozen
    * weights trained on the base corpus.
    */
  private[pipeline] def marginExpr(w: Array[Long]): String = {
    val warr = w.drop(1).map(v => s"CAST($v AS BIGINT)")
      .mkString("array(", ", ", ")")
    s"(CAST(${w(0)} AS BIGINT) + aggregate(zip_with(x, $warr, " +
      "(a, b) -> a * b), CAST(0 AS BIGINT), (acc, v) -> acc + v))"
  }

  /** [[QcEpochs]] batch-perceptron epochs over a cached feature frame;
    * returns the trained weights (bias at index 0). Each epoch = one
    * 33-sum aggregation collected as ONE row (weights-sized — metadata
    * scale, never data-sized).
    */
  private[pipeline] def train(feats: DataFrame): Array[Long] = {
    var w = Array.fill(QcDim + 1)(0L)
    for (_ <- 1 to QcEpochs) {
      val aggs =
        expr("coalesce(sum(CASE WHEN mis THEN y END), CAST(0 AS BIGINT))") +:
          (0 until QcDim).map(b => expr(
            s"coalesce(sum(CASE WHEN mis THEN y * element_at(x, ${b + 1})" +
              " END), CAST(0 AS BIGINT))"))
      val row: Row = feats.where("is_train")
        .withColumn("mis", expr(s"y * ${marginExpr(w)} <= 0"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()(0)
      w = w.indices.map(i => w(i) + row.getLong(i)).toArray
    }
    w
  }

  /** The classifier core over (doc_id, y, is_train, dtext) rows: featurize
    * once (cached), train, score everything — per-doc margin, prediction,
    * and verdict. Shared by the committed entry and the spec's hand-built
    * corpora.
    */
  private[pipeline] def classify(labeled: DataFrame): DataFrame = {
    // the cache exists for the epoch loop + one scoring pass; it must not
    // outlive the call (r14 advice: classify leaked the cached partitions
    // for the lifetime of a Verify run). The scored result is therefore
    // materialized EAGERLY (localCheckpoint) and the cache released
    // before returning; the checkpoint blocks are result-sized and freed
    // by the ContextCleaner once the returned frame is unreachable.
    // Measured cost of leak-freedom at sf0.1 (best-of-2): 4.8-5.2 s vs
    // 4.3 s for the leaky lazy form (one extra result-sized
    // materialization) vs 10.2 s for scoring by re-featurizing the
    // corpus — the checkpoint is the cheapest design whose cache dies
    // with the call.
    val feats = featurize(labeled).cache()
    try {
      val w = train(feats)
      feats
        .selectExpr("doc_id", "y", "is_train", s"${marginExpr(w)} AS margin")
        .selectExpr("doc_id", "y", "is_train", "margin",
          "CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred")
        .selectExpr("doc_id", "y", "is_train", "margin", "pred",
          "pred = y AS correct")
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally feats.unpersist(false)
  }

  /** The labeled corpus surface, spread to a row-count-derived parallelism
    * floor (guide §2, r17): the single-file bench corpus scans as ONE task,
    * and featurize's per-row work (token split + 32 bucket counts over the
    * marker-padded text) then runs serially — measured 2.9 s in one task at
    * sf0.1 under local[32] (tools/Diag). At scale the scan is already
    * wide and [[graft.BatchSizing.widen]] is a no-op.
    */
  private def labeledWide(spark: SparkSession, dir: String): DataFrame =
    graft.BatchSizing.widen(Tables.load(spark, dir, "documents"),
      Dedup.docsStats(spark, dir).rows).selectExpr(labelExprs: _*)

  /** Q — the committed entry: plant the classes, train the perceptron,
    * score every doc. The margin column under the hash gates the ENTIRE
    * training trajectory (features, every epoch's misclassified set and
    * update) — one drifted weight changes every margin.
    */
  def query(spark: SparkSession, dir: String): DataFrame =
    classify(labeledWide(spark, dir))

  /** DuckDB replay: identical surface, featurizer, and QcEpochs unrolled
    * epoch CTEs (MATERIALIZED — w(t−1) feeds the margin frame AND 33
    * scalar-subquery update terms; without materialization the chain
    * re-evaluates exponentially, the Tokenizer-oracle lesson).
    * [[marginCtes]] is the whole chain up to the final per-doc margins
    * (`qc(doc_id, y, is_train, margin)`), exposed so [[LearnedMix]]'s
    * composed oracle replays the SAME trained margins the entry hashes.
    */
  private[pipeline] val marginCtes: String = marginCtesWith("doc_id % 5 <> 3")

  /** [[marginCtes]] with the training-set predicate parametrized, so
    * [[Refresh]]'s oracle can train on the BASE split only (frozen
    * weights: `doc_id % 5 <> 3 AND doc_id % IncrSplitMod <> 0`) while
    * still scoring every doc through the same trained chain.
    */
  private[pipeline] def marginCtesWith(trainCond: String): String = {
    val polyT = "list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(string_split(t, ''), c -> ord(c)::BIGINT)), " +
      s"(a, b) -> (a * 31 + b) % ${TextAnalysis.FpMod})"
    def margin(prev: String): String =
      s"(p.w[1] + list_sum(list_transform(range(0, $QcDim), " +
        s"i -> p.w[i+2] * f.x[i+1])))::BIGINT"
    val head = Seq(
      s"""d AS (SELECT doc_id,
         |  (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS y,
         |  ($trainCond) AS is_train,
         |  $dtextSql AS dtext FROM documents)""".stripMargin,
      s"""bk AS (SELECT doc_id, y, is_train,
         |  list_transform(string_split(dtext, ' '),
         |                 t -> ($polyT) % $QcDim) AS bks FROM d)""".stripMargin,
      s"""feats AS MATERIALIZED (SELECT doc_id, y, is_train,
         |  list_transform(range(0, $QcDim),
         |    bb -> len(list_filter(bks, v -> v = bb))::BIGINT) AS x
         |  FROM bk)""".stripMargin,
      s"w0 AS MATERIALIZED (SELECT [${Seq.fill(QcDim + 1)("0").mkString(", ")}]::BIGINT[] AS w)")
    val epochs = (1 to QcEpochs).flatMap { t =>
      val prev = s"w${t - 1}"
      val mis = "is_train AND y * margin <= 0"
      val terms =
        s"(SELECT w[1] FROM $prev) + coalesce(sum(CASE WHEN $mis THEN y END), 0)" +:
          (0 until QcDim).map(b =>
            s"(SELECT w[${b + 2}] FROM $prev) + " +
              s"coalesce(sum(CASE WHEN $mis THEN y * x[${b + 1}] END), 0)")
      Seq(
        s"""m$t AS (SELECT f.y, f.is_train, f.x, ${margin(prev)} AS margin
           |  FROM feats f, $prev p)""".stripMargin,
        s"""w$t AS MATERIALIZED (SELECT
           |  [${terms.mkString(",\n   ")}]::BIGINT[] AS w FROM m$t)""".stripMargin)
    }
    s"""${(head ++ epochs).mkString(",\n")},
       |qc AS (SELECT f.doc_id, f.y, f.is_train,
       |              ${margin(s"w$QcEpochs")} AS margin
       |       FROM feats f, w$QcEpochs p)""".stripMargin
  }

  val sql: String =
    s"""WITH $marginCtes
       |SELECT doc_id, y, is_train, margin,
       |       (CASE WHEN margin > 0 THEN 1 ELSE -1 END)::BIGINT AS pred,
       |       ((CASE WHEN margin > 0 THEN 1 ELSE -1 END)::BIGINT = y) AS correct
       |FROM qc ORDER BY doc_id""".stripMargin

  /** The trained per-doc margin frame (doc_id, y, margin) for `dir` —
    * the Spark twin of [[marginCtes]]'s `qc`, exposed for [[LearnedMix]].
    */
  private[pipeline] def marginFrame(spark: SparkSession,
      dir: String): DataFrame =
    classify(labeledWide(spark, dir))
      .select("doc_id", "y", "margin")

  /** The labeled derived surface over a (doc_id, text) frame — shared by
    * the batch entry and the streaming twin (same expressions, so the
    * stream scores the same bytes).
    */
  private[pipeline] def labelExprs: Seq[String] = Seq(
    "doc_id",
    "CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END AS BIGINT) AS y",
    "doc_id % 5 <> 3 AS is_train",
    s"$dtextSpark AS dtext")

  /** STREAMING twin — the production deployment shape: the model trains
    * OFFLINE (the batch loop above, run on the static corpus), then the
    * frozen weights score the ingest stream ROW-LOCALLY (featurize +
    * margin are pure expressions — zero state stores, no watermark,
    * spec-asserted), so quality filtering rides the fetch hot path the
    * way production fastText gates do. Streamed scores must equal the
    * batch entry bit-for-bit — it shares [[sql]] as its oracle.
    */
  def streamQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.PacedReplay
    // offline training on the static corpus (cache scoped to the epoch
    // loop, released before the stream starts — r14 advice); input spread
    // to the row-derived parallelism floor like the batch entry
    val feats = featurize(labeledWide(spark, dir)).cache()
    val w = try train(feats) finally feats.unpersist(false)
    // online scoring of the replayed stream with the frozen weights
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val nDocs = docs.count()
    // spread each micro-batch to the row-derived floor (the labeledWide
    // rationale, stream side): a staged chunk scans as ONE task, so the
    // featurize+margin scoring of a whole trigger otherwise runs serially
    // — scoring is row-local, so a round-robin spread changes nothing but
    // the task count (each trigger carries ~nDocs/4 rows)
    val perTrigger = graft.BatchSizing.targetParts(docs, nDocs / 4)
    PacedReplay.drain(docs, Seq("doc_id"), nDocs,
        "graft_stream_quality_filter", "append", None) { replay =>
      featurize(replay.repartition(perTrigger).selectExpr(labelExprs: _*))
        .selectExpr("doc_id", "y", "is_train", s"${marginExpr(w)} AS margin")
        .selectExpr("doc_id", "y", "is_train", "margin",
          "CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred")
        .selectExpr("doc_id", "y", "is_train", "margin", "pred",
          "pred = y AS correct")
    }.orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_quality_classifier" -> query,
    "stream_quality_filter" -> streamQuery)

  val oracles: Map[String, String] = Map(
    "pipeline_quality_classifier" -> sql,
    // streamed == batch: scoring is row-local, so the replayed stream
    // must reproduce the batch table bit-for-bit
    "stream_quality_filter" -> sql)
}
