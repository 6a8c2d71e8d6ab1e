package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Similarity._

/** The persisted IVF (inverted-file) index, one storage protocol for every
  * list layout.
  *
  * An index built from the historical corpus (`vec_id % IvfSplitMod != 0`)
  * is a directory holding:
  *  - the inverted lists, written partitioned by `c_id` (one dir per list,
  *    rows sorted by vec_id) in the [[Layout]]'s row encoding;
  *  - [[CodebookDir]]: the coarse codebook, a frozen training artifact
  *    (with corpus-adaptive sizing an index's codebook and a different
  *    corpus's derived one need not agree, so every consumer reads it back
  *    from here);
  *  - the layout's extra training artifacts ([[Layout.artifacts]]) and
  *    line files ([[Layout.files]]);
  *  - the partition manifest ([[IndexCommit.publishPartitioned]]): the
  *    non-empty `c_id=` list dirs, the probe's ONLY pruning input (never
  *    the filesystem);
  *  - [[IndexCommit.SchemaFile]]: the schemas of the lists and of every
  *    artifact, which every probe reads under ([[IndexCommit.read]]).
  *
  * All of it is built into a temp sibling and published by ONE atomic
  * rename ([[IndexCommit]]), and an index missing any artifact counts as
  * uncommitted. A probe reads only its [[NProbe]] touched list dirs:
  * batch-proportional IO, independent of index size — the same storage
  * contract as the MinHash band index ([[Dedup.ensureMinhashIndex]]).
  */
object IvfIndex {

  /** Artifact subdirs and files carry a leading underscore: invisible to
    * parquet scans of the index root, like the manifest and `_SUCCESS`.
    */
  final val CodebookDir = "_codebook"
  final val PqCodebookDir = "_pqcodebook"

  /** The OPQ rotation: one source dimension per line, in target order. */
  final val OpqPermFile = "_opqperm"

  /** The trained artifacts of one index: the coarse codebook (c_id, c_emb,
    * c_nrm), the PQ sub-codebook (m, p_id, p_sub[, pcq]) of the code
    * layouts, and the OPQ rotation (target→source dims; empty = identity).
    */
  final case class Model(cent: DataFrame, pq: Option[DataFrame] = None,
      perm: Seq[Int] = Nil)

  /** A list layout: what one representation of the inverted lists supplies
    * on top of the shared protocol — its path `tag` (part of the on-disk
    * contract: an index built under other rules is never reused), the
    * training `artifacts` it persists beyond the codebook and manifest,
    * its line `files`, the `encode` of assigned rows into list rows, and
    * its `score` of
    * probed list rows. `refine` multiplies [[rerankK]] into the cut of the
    * approximate layouts' exact re-rank ([[topK]]); 0 marks exact scores.
    * The in-plan [[ivfPqTopK]] composes the same steps over unpacked codes
    * and cuts at ×1.
    */
  sealed abstract class Layout(val tag: String, val artifacts: Seq[String],
      val refine: Int, val files: Seq[String] = Nil) {

    /** The model trained on `emb` around the coarse codebook `cent`. */
    def train(emb: DataFrame, cent: DataFrame, nc: Int): Model = Model(cent)

    /** List rows of `assigned` (vec_id, emb, nrm, c_id). */
    def encode(assigned: DataFrame, m: Model): DataFrame

    /** Scores of `lists` rows against the (q_id, q_emb, q_nrm, c_id)
      * probes of `queries`: exact `sim` for [[Float]]; otherwise the
      * approximate `asim` that [[refineTopK]] cuts and re-ranks.
      */
    def score(lists: DataFrame, probes: DataFrame, queries: DataFrame,
        m: Model): DataFrame
  }

  /** Float64 vectors in the lists, scored exactly. */
  case object Float extends Layout("", Nil, 0) {
    def encode(assigned: DataFrame, m: Model): DataFrame = assigned

    def score(lists: DataFrame, probes: DataFrame, queries: DataFrame,
        m: Model): DataFrame =
      lists.join(broadcast(probes), "c_id")
        .selectExpr("q_id", "vec_id",
          s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim")
  }

  /** SQ8 lists (FAISS IndexIVFScalarQuantizer QT_8bit): per row (vec_id,
    * nrm, s, qb), `qb` the 64-byte `graft_sq8_pack` of the vector at the
    * per-vector scale `s` — 1 byte/dim instead of 8, so a probe moves ~8×
    * less list IO; the floats stay in the corpus for the exact re-rank.
    * The score is the integer dot against the quantized queries, rescaled
    * by both scales and the original norms.
    */
  case object Sq8 extends Layout("_sq8", Nil, 1) {
    def encode(assigned: DataFrame, m: Model): DataFrame = assigned
      .selectExpr("vec_id", "nrm", "c_id", s"${sq8Scale("emb")} AS s", "emb")
      .selectExpr("vec_id", "nrm", "c_id", "s", "graft_sq8_pack(emb, s) AS qb")

    def score(lists: DataFrame, probes: DataFrame, queries: DataFrame,
        m: Model): DataFrame =
      lists.join(broadcast(sq8Queries(probes)), "c_id")
        .where(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "q_emb", "q_nrm", "vec_id", Sq8Asim)
  }

  /** PQ-coded lists (FAISS IndexIVFPQ): per row (vec_id, nrm, pcode), the
    * [[PqM]] 4-bit codes of the raw vector packed into one integer — 2
    * bytes of payload vs SQ8's 64. The score is classic ADC: a broadcast
    * Q×M×K table of quantized partial dots and code norms read through the
    * unpacked codes. Codes are ~16× lossier than SQ8 bytes, so the re-rank
    * keeps ×[[PqIdxRefine]] candidates.
    */
  case object Pq extends Layout("_pq", Seq(PqCodebookDir), PqIdxRefine) {
    override def train(emb: DataFrame, cent: DataFrame, nc: Int): Model =
      Model(cent, Some(pqCodebook(emb)))

    def encode(assigned: DataFrame, m: Model): DataFrame = pack(argmin(
      assigned.selectExpr("vec_id", "nrm", "c_id", subsOf("emb")), m.pq.get))

    def score(lists: DataFrame, probes: DataFrame, queries: DataFrame,
        m: Model): DataFrame =
      adc(lists.join(broadcast(probes.select("q_id", "c_id")), "c_id")
          .selectExpr("q_id", "vec_id", s"posexplode(array($unpack)) AS (m, code)"),
        pqLut(queries, m.pq.get), Seq("q_id", "m", "code"))
  }

  /** Residual-coded PQ lists (the FAISS IndexIVFPQ default): the same
    * 2-byte rows, but the codes quantize `emb − its list centroid`,
    * optionally through the OPQ rotation. The score reconstructs
    * `q·vec ≈ q·centroid + Σ LUT` over the STORED exact norm, so the only
    * inexactness left is the residual quantization; measured on this
    * corpus it reaches the 72% recall gate at ×[[PqResRefine]], half the
    * raw-code layout's re-rank IO.
    */
  sealed abstract class Residual(t: String, a: Seq[String],
      f: Seq[String] = Nil) extends Layout(t, a, PqResRefine, f) {

    def encode(assigned: DataFrame, m: Model): DataFrame = pack(argmin(
      assigned.join(broadcast(m.cent.select("c_id", "c_emb")), "c_id")
        .selectExpr("vec_id", "nrm", "c_id",
          "zip_with(emb, c_emb, (x, y) -> x - y) AS res")
        .selectExpr("vec_id", "nrm", "c_id",
          s"${permuteExpr(m.perm, "res")} AS res")
        .selectExpr("vec_id", "nrm", "c_id", subsOf("res")), m.pq.get))

    def score(lists: DataFrame, probes: DataFrame, queries: DataFrame,
        m: Model): DataFrame = {
      // q·Pᵀ(P·res-codes) = (P·q)·(P·res)-codes: the query rides through
      // the rotation the codes were trained under
      val lut = queries
        .selectExpr("vec_id", "nrm", s"${permuteExpr(m.perm, "emb")} AS pemb")
        .selectExpr("vec_id AS q_id", "nrm AS q_nrm", subsOf("pemb"))
        .join(broadcast(m.pq.get), "m")
        .selectExpr("q_id", "q_nrm", "m", "p_id AS code",
          s"CAST(floor(graft_dot(sub, p_sub) * $QScale.0 + 0.5) AS BIGINT) AS pq")
      // one quantized coarse term per probed (query, list) pair
      val qc = probes.join(broadcast(m.cent.select("c_id", "c_emb")), "c_id")
        .selectExpr("q_id", "c_id",
          s"CAST(floor(graft_dot(q_emb, c_emb) * $QScale.0 + 0.5) AS BIGINT) AS qcq")
      lists.join(broadcast(qc), "c_id")
        .where(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "vec_id", "nrm", "qcq",
          s"posexplode(array($unpack)) AS (m, code)")
        .join(broadcast(lut), Seq("q_id", "m", "code"))
        .groupBy("q_id", "vec_id")
        .agg(max("q_nrm").as("q_nrm"), max("nrm").as("nrm"),
          max("qcq").as("qcq"), sum("pq").as("adcq"))
        .selectExpr("q_id", "vec_id",
          s"""round((CAST(qcq + adcq AS DOUBLE) / $QScale.0)
             |  / (q_nrm * nrm), 6) AS asim""".stripMargin)
    }
  }

  case object PqRes extends Residual("_pqr2", Seq(PqCodebookDir)) {
    override def train(emb: DataFrame, cent: DataFrame, nc: Int): Model =
      Model(cent, Some(pqCodebookRes(emb, cent, nc, Nil)))
  }

  /** OPQ (FAISS `OPQMatrix` + IndexIVFPQ) restricted to permutations: the
    * residual layout at the same byte budget, with the rotation learned by
    * [[opqPermutation]] at build time and persisted in [[OpqPermFile]], so
    * opening the index reads it with no job.
    */
  case object Opq extends Residual("_opq1", Seq(PqCodebookDir), Seq(OpqPermFile)) {
    override def train(emb: DataFrame, cent: DataFrame, nc: Int): Model = {
      val perm = opqPermutation(emb.where(s"vec_id % $IvfSplitMod <> 0"), cent)
      Model(cent, Some(pqCodebookRes(emb, cent, nc, perm)), perm)
    }
  }

  // ------------------------------------------------------ on-disk protocol

  /** Index location ([[IndexCommit.root]]), keyed by the codebook size,
    * the content key of [[corpusStats]] and the layout tag.
    */
  def path(spark: SparkSession, dir: String, layout: Layout): String = {
    val c = corpusStats(spark, dir)
    IndexCommit.root("ivf_index", dir, s"_c${nCentroids(c.rows)}", c, layout.tag)
  }

  /** The artifacts a committed `layout` index declares: the lists at the
    * root, the codebook and the layout's own.
    */
  private def artifacts(layout: Layout): Seq[String] =
    IndexCommit.Root +: CodebookDir +: layout.artifacts

  /** Repartition-by-list write of list rows under `root`. */
  private def writeLists(lists: DataFrame, root: String, mode: String): Unit =
    lists.repartition(col("c_id"))
      .sortWithinPartitions("c_id", "vec_id")
      .write.mode(mode).partitionBy("c_id").parquet(root)

  /** Build-then-publish an index root ([[IndexCommit.publishPartitioned]]):
    * `build` lays the list dirs and artifacts into a temp sibling and the
    * manifest of the written `c_id=` dirs follows. A no-op when `root`
    * already holds a committed `layout` index.
    */
  private def publish(spark: SparkSession, root: String, layout: Layout)(
      build: String => Unit): String =
    IndexCommit.publishPartitioned(spark, root, artifacts(layout), Seq("c_id"),
      layout.files) { tmp => build(tmp); Map.empty }

  /** Lists plus every artifact of `m` into `tmp`. */
  private def writeIndex(spark: SparkSession, tmp: String, lists: DataFrame,
      m: Model): Unit = {
    writeLists(lists, tmp, "overwrite")
    m.cent.coalesce(1).write.mode("overwrite").parquet(s"$tmp/$CodebookDir")
    m.pq.foreach(_.coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/$PqCodebookDir"))
    if (m.perm.nonEmpty) {
      val (fs, root) = IndexCommit.fsOf(spark, tmp)
      IndexCommit.writeLines(fs, new Path(root, OpqPermFile), m.perm.map(_.toString))
    }
  }

  /** Build-once: the historical corpus assigned to its nearest coarse
    * centroid (the first `nc` corpus vectors, the [[ivfTopK]] rule),
    * encoded by `layout`, published with its artifacts. Reused
    * byte-for-byte while committed.
    */
  def ensure(spark: SparkSession, dir: String, layout: Layout): String =
    publish(spark, path(spark, dir, layout), layout) { tmp =>
      val emb = embDouble(spark, dir)
      val nc = nCentroids(spark, dir)
      val m = layout.train(emb, coarseCent(emb, nc), nc)
      writeIndex(spark, tmp, layout.encode(
        nearestLists(emb.where(s"vec_id % $IvfSplitMod <> 0"), m.cent,
          "vec_id", 1).select("vec_id", "emb", "nrm", "c_id"), m), m)
    }

  /** The trained artifacts of the committed `layout` index at `indexPath`.
    * Fails loud, naming the layout, when any committed artifact is absent:
    * probing with a mismatched codebook or rotation silently returns wrong
    * neighbors.
    */
  def open(spark: SparkSession, indexPath: String, layout: Layout): Model = {
    val gone = IndexCommit.missingPartitioned(spark, indexPath,
      artifacts(layout), layout.files)
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"$layout IVF index at $indexPath lacks ${gone.mkString(", ")} — " +
          "it was not built by IvfIndex.ensure; rebuild the index")
    def read(a: String): DataFrame = IndexCommit.read(spark, indexPath, a, None)
    val (fs, root) = IndexCommit.fsOf(spark, indexPath)
    Model(read(CodebookDir),
      Option.when(layout.artifacts.contains(PqCodebookDir))(read(PqCodebookDir)),
      if (!layout.files.contains(OpqPermFile)) Nil
      else IndexCommit.readLines(fs, new Path(root, OpqPermFile),
        s"no $OpqPermFile at $indexPath")
        .map(_.toInt))
  }

  // ------------------------------------------------------------- probing

  /** `queries` tagged with their `nprobe` nearest lists. */
  private[pipeline] def probesOf(queries: DataFrame, cent: DataFrame,
      nprobe: Int = NProbe): DataFrame =
    nearestLists(queries, cent, "q_id", nprobe)
      .selectExpr("q_id", "emb AS q_emb", "nrm AS q_nrm", "c_id")

  /** The list rows of the probed lists: the probes' `c_id=` dirs
    * (≤ Q × NProbe), manifest-intersected and point-read
    * ([[IndexCommit.readPruned]]) — the reader never lists the index root.
    */
  private[pipeline] def touchedLists(spark: SparkSession, probes: DataFrame,
      indexPath: String): DataFrame =
    IndexCommit.readPruned(spark, indexPath, IndexCommit.Root,
      IndexCommit.touchedDirs(probes, "c_id"))

  /** Ranked top-`k` of probed list rows. An exact layout ranks its scores;
    * an approximate one goes through [[refineTopK]] with a cut of
    * refine·`rerank` candidates per query — ×[[PqIdxRefine]] for [[Pq]],
    * where the in-plan [[ivfPqTopK]] over the same codes cuts at ×1.
    */
  def topK(layout: Layout, lists: DataFrame, probes: DataFrame,
      queries: DataFrame, m: Model, floats: => DataFrame, rerank: => Long,
      k: Int = TopK): DataFrame = {
    val scored = layout.score(lists, probes, queries, m)
    if (layout.refine == 0) rankTopK(scored.where(col("vec_id") =!= col("q_id")), k)
    else refineTopK(scored, layout.refine * rerank, queries, floats, k)
  }

  /** The refine step of every approximate top-k (the FAISS refine
    * contract): of the approximate (q_id, vec_id, asim) scores keep the
    * top `n` per query by (asim DESC, vec_id ASC), re-score them as exact
    * cosines against `floats` (n·Q keyed full-vector reads) and rank the
    * top `k`.
    */
  private[pipeline] def refineTopK(approx: DataFrame, n: Long,
      queries: DataFrame, floats: DataFrame, k: Int = TopK): DataFrame =
    rankTopK(exactSims(approx.withColumn("ark", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, vec_id ASC)"))
      .where(s"ark <= $n"), queries, floats), k)

  /** Exact `round(cosine, 6) AS sim` of candidate (q_id, vec_id) pairs
    * against their `floats` vectors: a per-row scorer's candidates carry
    * the query vector (q_emb, q_nrm); the others re-join the `queries`
    * batch (vec_id, emb, nrm).
    */
  private[pipeline] def exactSims(cand: DataFrame, queries: DataFrame,
      floats: DataFrame): DataFrame = {
    val exact = floats.select("vec_id", "emb", "nrm")
    (if (cand.columns.contains("q_emb")) cand.join(exact, "vec_id")
    else cand.select("q_id", "vec_id").join(exact, "vec_id")
      .join(broadcast(queries.selectExpr("vec_id AS q_id", "emb AS q_emb",
        "nrm AS q_nrm")), "q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim")
  }

  /** Top-`k` of `queries` against the committed index at `indexPath`;
    * `dir` is the corpus whose floats the approximate layouts re-rank on.
    */
  def probe(spark: SparkSession, dir: String, indexPath: String,
      layout: Layout, queries: DataFrame, k: Int = TopK): DataFrame = {
    val m = open(spark, indexPath, layout)
    val probes = probesOf(queries, m.cent)
    topK(layout, touchedLists(spark, probes, indexPath), probes, queries, m,
      embDouble(spark, dir), rerankK(corpusStats(spark, dir).rows), k)
  }

  /** Incremental ANN, probe leg: wave-1 queries against the PERSISTED
    * historical index — the cross-run "search what is already ingested"
    * operation.
    */
  def search(spark: SparkSession, dir: String, layout: Layout): DataFrame =
    probe(spark, dir, ensure(spark, dir, layout), layout,
      waveQueries(embDouble(spark, dir), 0))

  // ------------------------------------------------------------- ingest

  /** Assign `rows` (vec_id, emb, nrm) with the index's frozen codebook,
    * encode them with its frozen artifacts (appends never retrain), land
    * them in exactly their `c_id=` dirs and commit the manifest. `merge`
    * upserts, rewriting only the touched lists; otherwise the rows land as
    * NEW part files, O(batch) with no rewrite, fragmenting the lists until
    * [[compact]]. Cost is O(batch + touched lists) either way.
    */
  private[pipeline] def appendWave(spark: SparkSession, indexPath: String,
      layout: Layout, m: Model, rows: DataFrame, merge: Boolean = true): Unit = {
    val wave = layout.encode(nearestLists(rows, m.cent, "vec_id", 1)
        .select("vec_id", "emb", "nrm", "c_id"), m)
      .persist() // read twice (touched set, write) — one compute
    try {
      val touched = IndexCommit.touchedDirs(wave, "c_id") // ≤ |wave| lists
      if (merge) graft.streaming.Sinks.partitionedUpsertBatch(wave, indexPath,
        touched, partitionCols = Seq("c_id"), keyCols = Seq("vec_id"),
        versionCols = Seq("vec_id"), sortCols = Seq("vec_id"))
      else writeLists(wave, indexPath, "append")
      IndexCommit.augment(spark, indexPath, touched)
    } finally wave.unpersist()
  }

  /** Incremental ANN, ingest leg: wave-1 vectors appended IN PLACE (the
    * [[Dedup.incrementalAppendInplace]] cycle), then wave-2 queries probe
    * the augmented index — their top-k can now contain wave-1 vectors. The
    * working copy is a hermeticity tax only (a query entry must not mutate
    * the shared index); a deployment appends to the live index.
    */
  def append(spark: SparkSession, dir: String, layout: Layout): DataFrame = {
    val path = ensure(spark, dir, layout)
    val aug = graft.TempDirs.scoped(s"ivf${layout.tag}-incr") + "/index"
    // file-level tree copy: lists, artifacts, manifest travel verbatim
    graft.TempDirs.copyTree(spark, path, aug)
    val emb = embDouble(spark, dir)
    appendWave(spark, aug, layout, open(spark, aug, layout),
      emb.where(s"vec_id % ${2 * IvfSplitMod} = 0"))
    probe(spark, dir, aug, layout, waveQueries(emb, IvfSplitMod))
  }

  // ------------------------------------------------------------ streaming

  /** Stream-static probe — the embedding analogue of
    * [[Dedup.streamProbeBands]]: incoming vectors as an unbounded stream,
    * the persisted `lists` as the STATIC join side. A rank window cannot
    * run in streaming append mode, so the codebook rides as ONE broadcast
    * array<struct> row (c_id-sorted): each row scores the whole codebook
    * inside a `transform`, `array_sort` picks its [[NProbe]] lists, and
    * one stream-static equi join on list id scores the candidates. No
    * watermark, no state store, no codebook-size ceiling (~34 MB of data
    * at the 65,536-list cap). Emitted rows are candidate-level (q_id,
    * vec_id, score) — exact `sim` for [[Float]], the routing `asim` for
    * the approximate layouts; top-k and the exact re-rank are downstream
    * batch concerns. Residual layouts have no streaming form.
    */
  def streamProbe(incoming: DataFrame, lists: DataFrame, m: Model,
      layout: Layout): DataFrame = {
    val centArr = m.cent.agg(array_sort(collect_list(
      struct(col("c_id"), col("c_emb"), col("c_nrm")))).as("cents"))
    val probes = incoming
      .crossJoin(broadcast(centArr))
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(expr(
          s"""slice(array_sort(transform(cents, c -> named_struct(
             |  'negsim', CAST(0 AS DOUBLE)
             |    - round(graft_dot(emb, c.c_emb) / (nrm * c.c_nrm), 6),
             |  'c_id', c.c_id))), 1, $NProbe)""".stripMargin)).as("probe"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("probe.c_id").as("c_id"))
    val (side, cols, score) = layout match {
      case Float => (probes, Seq("emb", "nrm"),
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim")
      case Sq8 => (probes
          .selectExpr("q_id", "q_nrm", "c_id", s"${sq8Scale("q_emb")} AS q_s", "q_emb")
          .selectExpr("q_id", "q_nrm", "c_id", "q_s", "graft_sq8_pack(q_emb, q_s) AS q_qb"),
        Seq("nrm", "s", "qb"), Sq8Asim)
      case Pq =>
        // the PQ codebook as ONE ordered array: cell m·K+p_id at index
        // m·K+p_id+1 (struct sort is lexicographic and idx is unique) —
        // the lookup table as an expression, no per-query LUT frame
        val pqArr = m.pq.get.agg(array_sort(collect_list(
          struct(expr(s"m * $PqK + p_id").as("idx"), col("p_sub"),
            col("pcq")))).as("pq"))
        def cell(i: Int) =
          s"element_at(pq, ${i * PqK} + CAST((pcode DIV ${1L << (4 * i)}) % $PqK AS INT) + 1)"
        val adcq = (0 until PqM).map { i =>
          s"""CAST(floor(graft_dot(
             |  slice(q_emb, ${i * PqSubDim + 1}, $PqSubDim),
             |  ${cell(i)}.p_sub) * $QScale.0 + 0.5) AS BIGINT)""".stripMargin
        }.mkString(" + ")
        val rq = (0 until PqM).map(i => s"${cell(i)}.pcq").mkString(" + ")
        (probes.crossJoin(broadcast(pqArr)), Seq("pcode"),
          s"""round((CAST($adcq AS DOUBLE) / $QScale.0)
             |  / (q_nrm * sqrt(CAST($rq AS DOUBLE) / $QScale.0)), 6)
             |  AS asim""".stripMargin)
      case _ => throw new UnsupportedOperationException(
        s"no streaming probe for the $layout layout")
    }
    side.join(lists.selectExpr(
        Seq("CAST(c_id AS BIGINT) AS c_id", "vec_id") ++ cols: _*), Seq("c_id"))
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id", score)
  }

  /** The streaming probe as a batch-checkable entry: the WHOLE incoming
    * wave probed through the stream-capable plan, ordered for the oracle.
    * `IncrementalIvfSpec` proves the same core yields identical rows from
    * a real MemoryStream across micro-batches with zero state.
    */
  def stream(spark: SparkSession, dir: String, layout: Layout): DataFrame = {
    val path = ensure(spark, dir, layout)
    streamProbe(embDouble(spark, dir).where(s"vec_id % $IvfSplitMod = 0"),
      IndexCommit.read(spark, path, IndexCommit.Root, None),
      open(spark, path, layout), layout)
      .orderBy("q_id", "vec_id")
  }

  // -------------------------------------------------- index maintenance

  /** Per-list data-file counts of a committed index, by `c_id=` dir —
    * the fragmentation accounting ([[graft.pipeline.IvfCompactSpec]] pins
    * N→1).
    */
  def listFileCounts(spark: SparkSession, indexPath: String): Map[String, Int] = {
    val (fs, _) = IndexCommit.fsOf(spark, indexPath)
    IndexCommit.partitions(spark, indexPath).map { d =>
      d -> fs.listStatus(new Path(s"$indexPath/$d")).count { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }.toMap
  }

  /** OPTIMIZE for a float index: rewrite every FRAGMENTED list (>1 data
    * file) to ONE sorted file, copy single-file lists and the codebook
    * VERBATIM, and publish at `dst` — the source stays fully readable until
    * the single rename, the [[SnapshotMv]] OPTIMIZE contract at index
    * granularity. Probe results are bit-identical pre/post; compaction IO
    * is proportional to the fragmented lists only.
    */
  def compact(spark: SparkSession, src: String, dst: String): Unit = {
    val (single, fragmented) = listFileCounts(spark, src).partition(_._2 <= 1)
    publish(spark, dst, Float) { tmp =>
      single.keys.foreach(d => graft.TempDirs.copyTree(spark, s"$src/$d", s"$tmp/$d"))
      graft.TempDirs.copyTree(spark, s"$src/$CodebookDir", s"$tmp/$CodebookDir")
      if (fragmented.nonEmpty)
        writeLists(IndexCommit.readPruned(spark, src, IndexCommit.Root,
            fragmented.keys.toSeq)
          .select("vec_id", "emb", "nrm", "c_id"), tmp, "append")
      val (fs, succ) = IndexCommit.fsOf(spark, s"$tmp/_SUCCESS")
      if (!fs.exists(succ)) fs.create(succ).close()
    }
  }

  /** The compaction entry's index pair: (a working copy fragmented by a
    * file-append wave, its compacted OPTIMIZE output) — exposed so the spec
    * can probe and count both sides of the artifacts the entry ships.
    */
  def compactedWorkingIndex(spark: SparkSession, dir: String): (String, String) = {
    val path = ensure(spark, dir, Float)
    val aug = graft.TempDirs.scoped("ivf-compact") + "/frag"
    graft.TempDirs.copyTree(spark, path, aug)
    appendWave(spark, aug, Float, open(spark, aug, Float),
      embDouble(spark, dir).where(s"vec_id % ${2 * IvfSplitMod} = 0"),
      merge = false)
    val opt = graft.TempDirs.scoped("ivf-compact") + "/opt"
    compact(spark, aug, opt)
    (aug, opt)
  }

  /** Re-train ([[trainedCentroids]]' Lloyd loop) and re-code `content`
    * into a fresh float index root, published atomically — exposed so the
    * spec can inspect the artifact the refresh entry ships.
    */
  private[pipeline] def refresh(spark: SparkSession, dir: String,
      content: DataFrame): String = {
    val m = Model(trainedCentroids(spark, dir, content))
    publish(spark, graft.TempDirs.scoped("ivf-refresh") + "/refreshed", Float) {
      tmp =>
        writeIndex(spark, tmp, nearestLists(content, m.cent, "vec_id", 1)
          .select("vec_id", "emb", "nrm", "c_id"), m)
    }
  }

  // ------------------------------------------------- layout internals

  private def sq8Scale(v: String): String =
    s"127.0 / greatest(array_max(transform($v, y -> abs(y))), 1e-300)"

  private val Sq8Asim =
    """round(CAST(graft_sq8_dot(qb, q_qb) AS DOUBLE)
      |  / (s * q_s) / (nrm * q_nrm), 6) AS asim""".stripMargin

  /** Probes tagged with the query-side SQ8 scale and packed bytes. */
  private def sq8Queries(probes: DataFrame): DataFrame = probes
    .selectExpr("q_id", "q_emb", "q_nrm", "c_id", s"${sq8Scale("q_emb")} AS q_s")
    .selectExpr("q_id", "q_emb", "q_nrm", "c_id", "q_s",
      "graft_sq8_pack(q_emb, q_s) AS q_qb")

  /** The [[PqM]] subspace slices of array column `v` as (m, sub) rows. */
  private[pipeline] def subsOf(v: String): String = (0 until PqM)
    .map(i => s"slice($v, ${i * PqSubDim + 1}, $PqSubDim)")
    .mkString("posexplode(array(", ", ", ")) AS (m, sub)")

  /** The packed codes unpacked with exact integer arithmetic. */
  private val unpack = (0 until PqM)
    .map(i => s"CAST((pcode DIV ${1L << (4 * i)}) % $PqK AS BIGINT)")
    .mkString(", ")

  /** The PQ encode: the nearest sub-code per (vector, subspace) of `subs`
    * (vec_id, …, m, sub) against `pqc` — term-by-term squared L2 so both
    * engines fold identically — as unpacked (vec_id, …, m, code) rows.
    */
  private[pipeline] def argmin(subs: DataFrame, pqc: DataFrame): DataFrame = {
    val keep = subs.columns.filter(_ != "sub").toSeq
    subs.join(broadcast(pqc), "m")
      .selectExpr(keep ++ Seq("p_id AS code",
        s"""round(graft_dot(sub, sub) - 2 * graft_dot(sub, p_sub)
           |  + graft_dot(p_sub, p_sub), 6) AS d2""".stripMargin): _*)
      .withColumn("prk", expr(
        "row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC)"))
      .where("prk = 1")
      .select((keep :+ "code").map(col): _*)
  }

  /** The [[PqM]] 4-bit codes of each (vec_id, nrm, c_id) packed into ONE
    * integer, pcode = Σ code_m·16^m. Packing is storage, not semantics:
    * the probe unpacks exactly, so the oracle replays from unpacked
    * (m, code) pairs.
    */
  private def pack(codes: DataFrame): DataFrame = {
    val caseM = (0 until PqM)
      .map(i => s"WHEN $i THEN ${1L << (4 * i)}L").mkString("CASE m ", " ", " END")
    codes.groupBy("vec_id", "nrm", "c_id")
      .agg(expr(s"CAST(sum(code * ($caseM)) AS INT)").as("pcode"))
  }

  /** The ADC lookup table of the `queries` batch (vec_id, emb, nrm) over
    * the raw sub-codebook `pqc`: Q×M×K quantized partial dots with the
    * query norm and the code norms.
    */
  private[pipeline] def pqLut(queries: DataFrame, pqc: DataFrame): DataFrame =
    queries.selectExpr("vec_id AS q_id", "nrm AS q_nrm", subsOf("emb"))
      .join(broadcast(pqc), "m")
      .selectExpr("q_id", "q_nrm", "m", "p_id AS code",
        s"CAST(floor(graft_dot(sub, p_sub) * $QScale.0 + 0.5) AS BIGINT) AS pq",
        "pcq")

  /** Raw-code ADC: unpacked (…, m, code) candidate rows read through the
    * broadcast `lut` on the `on` keys, summed per (q_id, vec_id) into the
    * approximate cosine `asim` against the reconstructed vector.
    * Quantized BIGINT sums are order-free, so both engines agree.
    */
  private[pipeline] def adc(codes: DataFrame, lut: DataFrame,
      on: Seq[String]): DataFrame =
    codes.join(broadcast(lut), on)
      .where(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(max("q_nrm").as("q_nrm"), sum("pq").as("adcq"), sum("pcq").as("rq"))
      .selectExpr("q_id", "vec_id",
        s"""round((CAST(adcq AS DOUBLE) / $QScale.0)
           |  / (q_nrm * sqrt(CAST(rq AS DOUBLE) / $QScale.0)), 6) AS asim""".stripMargin)

  /** The raw PQ sub-codebook: the first [[PqK]] vectors' [[PqM]] subspace
    * slices (the [[pqTopK]] seeded convention) with the quantized code
    * norm. The `p_` prefix keeps code ids and list ids (c_id) apart.
    */
  private[pipeline] def pqCodebook(emb: DataFrame): DataFrame =
    emb.where(s"vec_id < $PqK").selectExpr("vec_id", subsOf("emb"))
      .selectExpr("m", "vec_id AS p_id", "sub AS p_sub",
        s"CAST(floor(graft_dot(sub, sub) * $QScale.0 + 0.5) AS BIGINT) AS pcq")

  /** The residual sub-codebook: [[PqK]] seed vectors' residuals against
    * their own nearest coarse centroid, rotated by `perm`, sliced into
    * [[PqM]] subspaces. Seeds are ids [`nc`, `nc`+[[PqK]]): the first `nc`
    * vectors ARE the centroids, whose zero residuals would collapse ADC to
    * coarse-only ranking (measured recall 32% at sf0.1 before the offset).
    */
  private def pqCodebookRes(emb: DataFrame, cent: DataFrame, nc: Int,
      perm: Seq[Int]): DataFrame =
    assignOne(emb.where(s"vec_id >= $nc AND vec_id < ${nc + PqK}"), cent,
        "vec_id", "c_id", "c_emb", "c_nrm", "csim", "crk")
      .join(broadcast(cent.select("c_id", "c_emb")), "c_id")
      .selectExpr("vec_id", "zip_with(emb, c_emb, (x, y) -> x - y) AS res")
      .selectExpr("vec_id", s"${permuteExpr(perm, "res")} AS res")
      .selectExpr("vec_id", subsOf("res"))
      // re-index seed ids to codes 0..PqK-1: pcode packs 4-bit cells
      .selectExpr("m", s"vec_id - $nc AS p_id", "sub AS p_sub")

  /** Reorder an array column by a 0-based source-index permutation —
    * identity when `perm` is empty (a permutation IS orthogonal: norms
    * are untouched).
    */
  private def permuteExpr(perm: Seq[Int], v: String): String =
    if (perm.isEmpty) v
    else perm.map(i => s"element_at($v, ${i + 1})").mkString("array(", ", ", ")")

  /** The learned OPQ rotation, restricted to PERMUTATION matrices — Ge et
    * al. 2013's parametric allocation: make the [[PqM]] subspaces carry
    * balanced residual energy so each 4-bit sub-quantizer works equally
    * hard, learnable with one combinable aggregation and bit-replayable in
    * the DuckDB oracle (unlike full OPQ's SVD alternation). Dims are
    * ranked by [[opqEnergies]] (desc, dim asc) and dealt boustrophedon
    * across the subspaces. Returns target→source: permuted[j] =
    * res[perm(j)].
    */
  private[pipeline] def opqPermutation(hist: DataFrame,
      cent: DataFrame): Seq[Int] = {
    val ranked = opqEnergies(hist, cent).zipWithIndex
      .sortBy { case (e, d) => (-e, d) }
    val assign = ranked.zipWithIndex.map { case ((_, dim), r) =>
      val s0 = r % (2 * PqM)
      (if (s0 < PqM) s0 else 2 * PqM - 1 - s0, r, dim)
    }
    assign.sortBy(t => (t._1, t._2)).map(_._3)
  }

  /** Per-dimension residual energy e_i = Σ_v ⌊res_i²·2²⁰+0.5⌋ of `hist`
    * against `cent` (quantized-integer sums: exact in any order; ONE
    * 64-long row collected).
    */
  private[pipeline] def opqEnergies(hist: DataFrame,
      cent: DataFrame): Seq[Long] = {
    val res = assignOne(hist, cent, "vec_id", "c_id", "c_emb", "c_nrm",
        "csim", "crk")
      .join(broadcast(cent.select("c_id", "c_emb")), "c_id")
      .selectExpr("zip_with(emb, c_emb, (x, y) -> x - y) AS res")
    val sums = (0 until Dim).map(i => sum(expr(
      s"CAST(floor(element_at(res, ${i + 1}) * element_at(res, ${i + 1})" +
        s" * $QScale.0 + 0.5) AS BIGINT)")).as(s"e$i"))
    val row = res.agg(sums.head, sums.tail: _*).head()
    (0 until Dim).map(row.getLong)
  }
}
