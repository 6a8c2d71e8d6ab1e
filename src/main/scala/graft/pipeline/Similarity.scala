package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor similarity search over the `embeddings`
  * table (64-dim float vectors).
  *
  * Two paths (SURVEY-mandated pattern for the north-star extensions):
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    A broadcast of the (tiny) query set against the corpus: one pass,
  *    no shuffle of the corpus, per-partition top-k via window rank.
  *  - [[lshTopK]]: random-hyperplane LSH — the 100 TB scale path. Vectors
  *    hash to sign-pattern buckets (one cheap per-row expression); only
  *    same-bucket candidates are scored, turning O(N·Q) into
  *    O(N/2^bits · Q) with one bucket-key shuffle.
  *
  * Determinism: hyperplane coefficients are integer-derived pseudo-random
  * constants (exact in both engines); dot products fold left-to-right in both
  * engines; scores are rounded to 6 dp in the output to absorb any
  * last-ulp summation divergence.
  */
object Similarity {

  val Dim = 64

  /** Deterministic pseudo-random hyperplane coefficient in [-0.5, 0.5):
    * hp(j, i) = (((j*Dim + i + 1) * 2654435761) mod 1000003) / 1000003 - 0.5.
    * Pure integer arithmetic then one exact division — identical across
    * engines.
    */
  private def hpExpr(j: String, i: String): String =
    s"(CAST((($j * $Dim + $i + 1) * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5)"

  /** The same value computed in Scala (exact: Long arithmetic, one IEEE
    * division — bit-identical to [[hpExpr]] in either engine).
    */
  private def hpVal(j: Int, i: Int): Double =
    (((j.toLong * Dim + i + 1) * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5

  /** Hyperplane j as ONE array literal Column. The string-expression form
    * (64 constant sub-expressions per plane) made Catalyst parse and
    * constant-fold thousands of nodes per plan — a single ArrayType Literal
    * is free. Plan semantics are unchanged (same doubles, same graft_dot).
    */
  private def hpArray(j: Int): org.apache.spark.sql.Column =
    typedlit((0 until Dim).map(i => hpVal(j, i)))

  private def dotSign(emb: org.apache.spark.sql.Column, j: Int, weight: Long): org.apache.spark.sql.Column =
    when(call_function("graft_dot", emb, hpArray(j)) > 0, lit(weight)).otherwise(lit(0L))

  /** Query vectors = vec_id < 5 (a deterministic, tiny query set). */
  val QuerySetSize = 5
  val TopK = 5

  /** Cosine similarity from precomputed per-vector norms: dot left-to-right
    * fold / (nrm_a * nrm_b). Norms are computed ONCE per vector in
    * [[embDouble]], not per pair — 3× less work in pairwise scoring.
    * `a`,`b` are array<double> column names; `na`,`nb` the norm columns.
    */
  private[pipeline] def cosineExpr(a: String, b: String, na: String, nb: String): String =
    s"graft_dot($a, $b) / ($na * $nb)"

  /** DuckDB cosine with the same fold order and precomputed norms. */
  private def cosineSql(a: String, b: String, na: String, nb: String): String =
    s"""list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]))
       | / ($na * $nb)""".stripMargin

  private[pipeline] def embDouble(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "label", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
  }

  /** DuckDB emb CTE matching [[embDouble]] (shared with [[LearnedMix]]'s
    * composed oracle).
    */
  private[pipeline] val embCte: String =
    """emb AS (SELECT vec_id, label, emb,
      |        sqrt(list_sum(list_transform(emb, v -> v * v))) AS nrm
      |        FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings))""".stripMargin

  /** The (sim DESC, vec_id) top-`k` per query of scored (q_id, vec_id,
    * sim) rows, as (q_id, vec_id, sim, rk) ordered for the oracle.
    */
  private[pipeline] def rankTopK(scored: DataFrame, k: Int = TopK): DataFrame =
    scored
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)"))
      .where(s"rk <= $k")
      .selectExpr("q_id", "vec_id", "sim", "CAST(rk AS BIGINT) AS rk")
      .orderBy("q_id", "rk")

  // -------------------------------------------- DuckDB oracle fragments

  /** Codebook CTE: the first `limit` rows of `from` as (p_id, p_emb, p_nrm). */
  private def centCte(name: String, p: String = "c", from: String = "emb",
      limit: String = nCentroidsSqlExpr): String =
    s"""$name AS (SELECT vec_id AS ${p}_id, emb AS ${p}_emb, nrm AS ${p}_nrm FROM $from
       |  WHERE vec_id < $limit)""".stripMargin

  /** CTE `name`: the rows of `from` (alias `v`; columns prefixed `pre`,
    * vec_id/emb/nrm when empty) ranked by rounded cosine to codebook alias
    * `p` with p_id tiebreak — the DuckDB twin of [[nearestLists]] — and
    * kept where the rank satisfies `keep`.
    */
  private def nearestCte(name: String, out: String, sel: String, from: String,
      keep: String, v: String, pre: String = "", p: String = "c"): String = {
    val (id, e, n) =
      if (pre.isEmpty) ("vec_id", "emb", "nrm") else (s"${pre}id", s"${pre}emb", s"${pre}nrm")
    s"""$name AS (
       |  SELECT $out FROM (
       |    SELECT $sel, $p.${p}_id,
       |           row_number() OVER (PARTITION BY $v.$id ORDER BY
       |             round(${cosineSql(s"$v.$e", s"$p.${p}_emb", s"$v.$n", s"$p.${p}_nrm")}, 6) DESC,
       |             $p.${p}_id) AS ${p}rk
       |    FROM $from)
       |  WHERE ${p}rk $keep)""".stripMargin
  }

  /** Rank-1 assignment of `src` rows to codebook `centName`. */
  private def assignCte(src: String, centName: String, outName: String): String =
    nearestCte(outName, "vec_id, emb, nrm, c_id", "e.vec_id, e.emb, e.nrm",
      s"$src e, $centName c", "= 1", "e")

  /** The [[QuerySetSize]] query rows of `from` (alias e) with their
    * [[NProbe]] nearest lists, query vectors carried along.
    */
  private def queryProbesCte(from: String): String =
    nearestCte("probes", "q_id, q_emb, q_nrm, c_id",
      "e.vec_id AS q_id, e.emb AS q_emb, e.nrm AS q_nrm",
      s"$from WHERE e.vec_id < $QuerySetSize", s"<= $NProbe", "e")

  /** One Lloyd mean step over `assignName`: quantized-integer sums divided
    * once, so both engines derive bit-identical centroids.
    */
  private def meanCte(assignName: String, outName: String): String = {
    val sums = (0 until Dim)
      .map(i => s"sum(floor(emb[${i + 1}] * $QScale.0 + 0.5)::BIGINT) AS s$i")
      .mkString(", ")
    val arr = (0 until Dim)
      .map(i => s"s$i::DOUBLE / (cn * $QScale)::DOUBLE")
      .mkString("[", ", ", "]")
    s"""${outName}_m AS (
       |  SELECT c_id, count(*)::BIGINT AS cn, $sums FROM $assignName GROUP BY c_id),
       |${outName}_e AS (SELECT c_id, $arr AS c_emb FROM ${outName}_m),
       |$outName AS (SELECT c_id, c_emb,
       |             sqrt(${normSq("c_emb")}) AS c_nrm
       |             FROM ${outName}_e)""".stripMargin
  }

  private def histCte(pred: String = s"vec_id % $IvfSplitMod <> 0"): String =
    s"hist AS (SELECT vec_id, emb, nrm FROM emb\n  WHERE $pred)"

  private def qCte(pred: String, from: String = "emb"): String =
    s"q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM $from\n  WHERE $pred)"

  /** `ranked` over `from`'s (q_id, vec_id, sim) rows, then (by default)
    * the top-[[TopK]] select.
    */
  private def rankedSql(from: String, select: Boolean = true): String =
    s"""ranked AS (
       |  SELECT q_id, vec_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
       |  FROM $from)""".stripMargin + (if (select) "\n" + topKSelect else "")

  private def topKSelect: String =
    s"SELECT q_id, vec_id, sim, rk::BIGINT AS rk\nFROM ranked WHERE rk <= $TopK ORDER BY q_id, rk"

  /** The approximate top-(refine·[[rerankK]]) per query of `from` by
    * `score` — the adaptive re-rank budget as a scalar subquery over
    * `corpus`.
    */
  private def cutCte(score: String, from: String, refine: String = "",
      corpus: String = "emb", name: String = "cut"): String =
    s"""$name AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY
       |             $score DESC,
       |             vec_id ASC) AS ark
       |    FROM $from)
       |  WHERE ark <= $refine
       |    greatest($RerankKMin, (SELECT count(*) // 1000 FROM $corpus)))""".stripMargin

  /** The `cut` candidates re-scored as exact cosines against `queries`. */
  private def rerankedCte(queries: String): String =
    s"""reranked AS (
       |  SELECT c.q_id, c.vec_id,
       |         round(${cosineSql("q.q_emb", "e.emb", "q.q_nrm", "e.nrm")}, 6) AS sim
       |  FROM cut c
       |  JOIN emb e ON e.vec_id = c.vec_id
       |  JOIN $queries ON q.q_id = c.q_id)""".stripMargin

  /** Raw-code ADC similarity from the quantized (adcq, rq, q_nrm) sums. */
  private def adcSimSql: String =
    s"""round((adcq::DOUBLE / $QScale.0)
       |               / (q_nrm * sqrt(rq::DOUBLE / $QScale.0)), 6)""".stripMargin

  /** The [[PqM]] subspace slices of `from`'s vectors as (vec_id, nrm, m, sub). */
  private def subSelects(from: String = "emb"): String = (0 until PqM)
    .map(m => s"SELECT vec_id, nrm, $m AS m, emb[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS sub FROM $from")
    .mkString("\n  UNION ALL ")

  private def dotSub(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${PqSubDim + 1}), i -> $a[i] * $b[i]))"

  private def dotFull(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]))"

  private def normSq(a: String): String =
    s"list_sum(list_transform($a, v -> v * v))"

  /** The seeded PQ sub-codebook over `subs`: the first [[PqK]] vectors'
    * slices with their quantized norms.
    */
  private def pqCentCte(name: String, subs: String): String =
    s"""$name AS (SELECT m, vec_id AS c_id, sub AS c_sub,
       |                 floor(${normSq("sub")} * $QScale.0 + 0.5)::BIGINT AS cq
       |          FROM $subs WHERE vec_id < $PqK)""".stripMargin

  /** Nearest sub-code per (vector, subspace) of the `from` join (alias s
    * for slices, c for codes) — the PQ encode argmin.
    */
  private def codesCte(from: String, name: String = "codes"): String =
    s"""$name AS (
       |  SELECT vec_id, m, c_id FROM (
       |    SELECT s.vec_id, s.m, c.c_id,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |             round(${normSq("s.sub")} - 2 * ${dotSub("s.sub", "c.c_sub")}
       |               + ${normSq("c.c_sub")}, 6) ASC, c.c_id ASC) AS crk
       |    FROM $from)
       |  WHERE crk = 1)""".stripMargin

  /** The ADC lookup table: quantized query-slice × code partial dots
    * (plus the query norm and code norms when asked).
    */
  private def lutCte(from: String, nrm: Boolean = true, cq: Boolean = true,
      name: String = "lut"): String =
    s"""$name AS (
       |  SELECT s.vec_id AS q_id, ${if (nrm) "s.nrm AS q_nrm, " else ""}s.m, c.c_id,
       |         floor(${dotSub("s.sub", "c.c_sub")} * $QScale.0 + 0.5)::BIGINT AS pq""".stripMargin +
      (if (cq) ",\n         c.cq" else "") + s"\n  FROM $from)"

  /** Exact brute-force cosine top-k: broadcast the query rows, score every
    * corpus vector, keep k best per query (rank window over a key with ~N/Q
    * rows — at scale use TakeOrderedAndProject per query or aggregate top-k).
    */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = embDouble(spark, dir)
    val queries = corpus.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    rankTopK(corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
  }

  val bruteForceTopKSql: String =
    s"""WITH $embCte,
       |${qCte(s"vec_id < $QuerySetSize")},
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |         round(${cosineSql("q.q_emb", "e.emb", "q.q_nrm", "e.nrm")}, 6) AS sim
       |  FROM emb e, q WHERE e.vec_id <> q.q_id),
       |${rankedSql("scored")}""".stripMargin

  /** Exact cosine ranks at depth `k` — the VECTOR LEG the hybrid RRF
    * entry ([[Retrieval.hybridRrf]]) fuses with lexical BM25 ranks. Same
    * scoring and (sim DESC, vec_id) tie-break as [[bruteForceTopK]], rank
    * depth decoupled from [[TopK]].
    */
  private[pipeline] def cosineRanks(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val corpus = embDouble(spark, dir)
    val queries = corpus.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)"))
      .where(s"rk <= $k")
      .selectExpr("q_id", "vec_id", "CAST(rk AS BIGINT) AS rk")
  }

  /** DuckDB CTE fragment replaying [[cosineRanks]] — defines `emb`, `vq`
    * and `vec_rk(q_id, vec_id, rk)`; splice after WITH in a caller query.
    */
  private[pipeline] def cosineRanksCtes(k: Int): String =
    s"""$embCte,
       |vq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM emb
       |       WHERE vec_id < $QuerySetSize),
       |vec_rk AS (
       |  SELECT q_id, vec_id, rk::BIGINT AS rk FROM (
       |    SELECT vq.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY vq.q_id ORDER BY
       |             round(${cosineSql("vq.q_emb", "e.emb", "vq.q_nrm", "e.nrm")}, 6) DESC,
       |             e.vec_id) AS rk
       |    FROM emb e, vq WHERE e.vec_id <> vq.q_id)
       |  WHERE rk <= $k)""".stripMargin

  /** The window-free brute-force construction — the "aggregate top-k"
    * scale pattern [[bruteForceTopK]]'s scaladoc names: per-query top-k
    * kept by the bounded [[TopKAgg]] typed aggregator instead of a rank
    * window. The agg is map-side combinable, so each partition reduces
    * its candidates to ≤ k rows BEFORE the exchange — the per-query
    * shuffle carries Q·k·partials instead of every scored pair, and
    * nothing sorts N/Q-row partitions. Same output, same oracle; the
    * spec asserts the plan carries NO Window node.
    */
  def bruteForceAggTopK(spark: SparkSession, dir: String): DataFrame = {
    TopKAgg.register(spark)
    val corpus = embDouble(spark, dir)
    val queries = corpus.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim")
      .groupBy("q_id").agg(expr("graft_topk(sim, vec_id)").as("tk"))
      .selectExpr("q_id", "posexplode(tk) AS (i, p)")
      .selectExpr("q_id", "p._2 AS vec_id", "p._1 AS sim",
        "CAST(i + 1 AS BIGINT) AS rk")
      .orderBy("q_id", "rk")
  }

  /** LSH bucket id: sign bits of `NBits` hyperplane dot products. */
  val NBits = 4

  private def bucketColSpark(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until NBits).map(j => dotSign(emb, j, 1L << j)).reduce(_ + _)

  private def bucketSqlDuck(emb: String): String = {
    val bits = (0 until NBits).map { j =>
      s"""CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}),
         | i -> $emb[i] * ${hpExpr(j.toString, "(i - 1)")})) > 0
         | THEN ${1L << j} ELSE 0 END""".stripMargin
    }
    bits.mkString("(", " + ", ")")
  }

  /** LSH-bucketed ANN: score only same-bucket candidates. Bucket assignment
    * is a per-row expression; the candidate join keys on the bucket id —
    * at 100 TB this is the difference between a full cross product and a
    * shuffle-local join.
    */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = embDouble(spark, dir)
      .withColumn("bucket", bucketColSpark(col("emb")))
    val queries = bucketed.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm", "bucket")
    rankTopK(bucketed.join(broadcast(queries), Seq("bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
  }

  val lshTopKSql: String =
    s"""WITH $embCte,
       |bucketed AS (SELECT vec_id, emb, nrm, ${bucketSqlDuck("emb")} AS bucket FROM emb),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm, bucket FROM bucketed
       |      WHERE vec_id < $QuerySetSize),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |         round(${cosineSql("q.q_emb", "e.emb", "q.q_nrm", "e.nrm")}, 6) AS sim
       |  FROM bucketed e JOIN q USING (bucket) WHERE e.vec_id <> q.q_id),
       |${rankedSql("scored")}""".stripMargin

  /** Independent hash tables for the multi-table LSH variant. Table `t`
    * draws its [[NBits]] hyperplanes from the same deterministic family at
    * plane indices `t·NBits + b` — disjoint from every other table, so the
    * tables are independent trials. Standard LSH recall amplification
    * (E2LSH / FALCONN construction): a true neighbor at angle θ collides
    * in one table with p = (1 − θ/π)^NBits, and misses ALL tables with
    * (1 − p)^L — at cos 0.7, p ≈ 0.32 per 4-bit table, so 8 tables take
    * the miss rate from 68% to ~5%. Cost is L bucket keys per vector
    * (one shuffle with an L-wide explode), not L corpus copies.
    */
  val LshTables = 8

  private def tableBucketSpark(emb: org.apache.spark.sql.Column, t: Int)
      : org.apache.spark.sql.Column =
    (0 until NBits).map(b => dotSign(emb, t * NBits + b, 1L << b)).reduce(_ + _)

  private def tableBucketSqlDuck(emb: String, t: Int): String = {
    val bits = (0 until NBits).map { b =>
      val j = t * NBits + b
      s"""CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}),
         | i -> $emb[i] * ${hpExpr(j.toString, "(i - 1)")})) > 0
         | THEN ${1L << b} ELSE 0 END""".stripMargin
    }
    bits.mkString("(", " + ", ")")
  }

  /** Multi-table LSH ANN — the recall-amplified form of [[lshTopK]] (whose
    * single 4-bit table is the declared coarse demo, ~12% recall here):
    * candidates are the UNION over [[LshTables]] independent tables of
    * same-(table, bucket) vectors, deduped before the exact scoring pass.
    * At 100 TB the shape is unchanged from the single table — per-row
    * bucket expressions, one equi-join shuffle on (t, bucket) with the
    * query side broadcast, exact cosine only on the deduped candidates —
    * the L× factor rides the (vec_id, t, bucket) key stream, never the
    * vectors themselves (the explode carries ids only; embeddings join
    * back AFTER dedup).
    */
  def lshMultiTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val bucketArr = array(
      (0 until LshTables).map(t => tableBucketSpark(col("emb"), t)): _*)
    val buckets = emb.select(col("vec_id"), posexplode(bucketArr))
      .toDF("vec_id", "t", "bucket")
    val qb = buckets.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "t", "bucket")
    val cand = buckets.join(broadcast(qb), Seq("t", "bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val queries = emb.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    rankTopK(cand.join(emb.select("vec_id", "emb", "nrm"), "vec_id")
      .join(broadcast(queries), "q_id")
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
  }

  val lshMultiTopKSql: String = {
    val tableSelects = (0 until LshTables).map { t =>
      s"SELECT vec_id, $t AS t, ${tableBucketSqlDuck("emb", t)} AS bucket FROM emb"
    }.mkString("\n  UNION ALL ")
    s"""WITH $embCte,
       |bt AS (
       |  $tableSelects),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, e.vec_id
       |  FROM bt e JOIN bt q USING (t, bucket)
       |  WHERE q.vec_id < $QuerySetSize AND e.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |         round(${cosineSql("q.emb", "e.emb", "q.nrm", "e.nrm")}, 6) AS sim
       |  FROM cand c
       |  JOIN emb e ON e.vec_id = c.vec_id
       |  JOIN emb q ON q.vec_id = c.q_id),
       |${rankedSql("scored")}""".stripMargin
  }

  /** IVF-style ANN — the second scale path besides hyperplane LSH: a
    * deterministic codebook (the first nCentroids corpus vectors — a seeded
    * sample, like one k-means init step), every vector assigned to its
    * nearest centroid's inverted list (argmax cosine, deterministic ties),
    * queries probe the NProbe nearest lists and score only those members.
    * At 100 TB: assignment is a broadcast of the tiny codebook + one
    * shuffle on list id; probing reads NProbe/nCentroids of the corpus.
    *
    * CORPUS-ADAPTIVE sizing (round-11 verdict item 3): the codebook grows
    * with the corpus — `max(NCentroidsMin, min(NCentroidsMax, N / ListTarget))`
    * lists hold per-list population near [[ListTarget]] vectors, so the
    * probe reads a shrinking FRACTION (NProbe·ListTarget rows) as the
    * corpus grows instead of NProbe/16 of everything. The same formula is
    * computed in the oracle SQL via a scalar subquery over the emb CTE
    * (the adaptive-rerankK pattern), so both engines always agree; the
    * floor binds at every committed sf (≤2,000 vectors), leaving the
    * test-scale constructions — and their hashes — at 16 lists, while a
    * ×100 scale corpus (200k vectors) derives 250 lists (probe fraction
    * 4/250 = 1.6%) with no override. `SPARK_GRAFT_IVF_CENTROIDS` remains
    * a manual escape hatch for experiments; the driver's Verify never
    * sets it.
    */
  val NCentroidsMin = 16

  /** Codebook broadcastability cap: 65,536 centroids × 64 doubles ≈ 34 MB,
    * the most worth shipping as one broadcast. Past this (≳52 B vectors)
    * the next rung is a hierarchical coarse quantizer — an IVF over the
    * centroids themselves — not a bigger flat codebook.
    */
  val NCentroidsMax = 65536

  /** Target inverted-list population (vectors per list). */
  val ListTarget = 800L

  private val centroidsOverride: Option[Int] =
    sys.env.get("SPARK_GRAFT_IVF_CENTROIDS").map { s =>
      val n =
        try s.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_IVF_CENTROIDS must be a positive integer, got '$s'")
        }
      require(n > 0, s"SPARK_GRAFT_IVF_CENTROIDS must be > 0, got $n")
      n
    }

  /** Effective codebook size for a corpus of `corpusRows` vectors. */
  def nCentroids(corpusRows: Long): Int = centroidsOverride.getOrElse(
    math.max(NCentroidsMin.toLong,
      math.min(NCentroidsMax.toLong, corpusRows / ListTarget)).toInt)

  def nCentroids(spark: SparkSession, dir: String): Int =
    nCentroids(corpusStats(spark, dir)._1)

  /** The same derivation as a DuckDB scalar expression over the `emb` CTE
    * (integer division, like the adaptive-rerankK subquery) — the oracle
    * replays the identical codebook size without the value being baked
    * into the SQL string.
    */
  private def nCentroidsSqlExpr: String = centroidsOverride
    .map(_.toString)
    .getOrElse(s"greatest($NCentroidsMin, least($NCentroidsMax, " +
      s"(SELECT count(*) // $ListTarget FROM emb)))")

  /** Memoized per-corpus stats from ONE aggregate pass: (row count,
    * max vec_id, content fingerprint). The count drives [[nCentroids]]/[[rerankK]]
    * without re-running a corpus scan every time a plan is constructed
    * (round-11 advice: `rerankK(emb.count())` embedded an eager count job
    * into every ivfPqTopK plan build); the fingerprint — an order-free
    * hash-sum over (vec_id, embedding) — keys [[IvfIndex.path]] so a
    * regenerated corpus at the same path can never silently reuse a stale
    * persisted index (the round-10 hazard).
    */
  private val corpusStatsCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long, Long)]

  def corpusStats(spark: SparkSession, dir: String): (Long, Long, Long) =
    corpusStatsCache.getOrElseUpdate(dir, {
      val r = Tables.load(spark, dir, "embeddings")
        .agg(count(lit(1)), max("vec_id"),
          sum(expr("CAST(pmod(hash(vec_id, embedding), 1000003) AS BIGINT)")))
        .head()
      (r.getLong(0), r.getLong(1), math.floorMod(r.getLong(2), 1000000007L))
    })

  val NProbe = 4

  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val cent = emb.where(s"vec_id < ${nCentroids(spark, dir)}")
      .selectExpr("vec_id AS c_id", "emb AS c_emb", "nrm AS c_nrm")
    val assigned = nearestLists(emb, cent, "vec_id", 1)
      .select("vec_id", "emb", "nrm", "c_id")
    val probes = nearestLists(emb.where(s"vec_id < $QuerySetSize"), cent, "q_id", NProbe)
      .selectExpr("q_id", "emb AS q_emb", "nrm AS q_nrm", "c_id")
    rankTopK(probes.join(assigned, "c_id")
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
  }

  val ivfTopKSql: String =
    s"""WITH $embCte,
       |${centCte("cent")},
       |${assignCte("emb", "cent", "assigned")},
       |${queryProbesCte("emb e, cent c")},
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |         round(${cosineSql("p.q_emb", "a.emb", "p.q_nrm", "a.nrm")}, 6) AS sim
       |  FROM probes p JOIN assigned a USING (c_id) WHERE a.vec_id <> p.q_id),
       |${rankedSql("scored")}""".stripMargin

  // ------------------------------------------- two-level coarse quantizer

  /** Level-1 cell sizing of the hierarchical quantizer: each coarse cell
    * targets [[L1FinePerCell]] fine lists (= ListTarget·64 vectors), with
    * the same floor/cap discipline as [[nCentroids]]. At the
    * [[NCentroidsMax]] cap this derives ~1,024 level-1 cells of ~64 fine
    * lists each — the shape where the fine codebook (34 MB, too big to
    * scan per query row) is itself reached through an index.
    */
  val L1Min = 4
  val L1Max = 1024
  val L1FinePerCell = 64L
  /** Level-1 cells a query expands (the coarse analog of [[NProbe]]). */
  val L1Probe = 2

  def l1Cells(corpusRows: Long): Int = math.max(L1Min.toLong,
    math.min(L1Max.toLong, corpusRows / (ListTarget * L1FinePerCell))).toInt

  private def l1CellsSqlExpr: String =
    s"greatest($L1Min, least($L1Max, " +
      s"(SELECT count(*) // ${ListTarget * L1FinePerCell} FROM emb)))"

  /** Two-level IVF — the rung past the flat-codebook cap that the
    * [[NCentroidsMax]] scaladoc names (the coarse half of an inverted
    * multi-index; Babenko & Lempitsky 2012 reach the same regime with
    * product cells): an IVF over the CENTROIDS themselves. The fine
    * codebook is bucketed by a tiny level-1 codebook at build time; a
    * query first ranks the [[l1Cells]] coarse cells (broadcast of L1
    * rows), expands the best [[L1Probe]], and ranks ONLY those cells'
    * fine centroids (an equi join against the bucketed codebook — per
    * query ~L1Probe·[[L1FinePerCell]] centroid rows instead of all
    * [[nCentroids]]), then probes the winning [[NProbe]] inverted lists
    * exactly as [[ivfTopK]]. Corpus-side cost is IDENTICAL to flat IVF
    * (every vector still joins its one fine list); what the hierarchy
    * bounds is the QUERY-side codebook work, which is what breaks first
    * past ~52 B vectors. Recall trade: the true nearest fine list can sit
    * in an unprobed coarse cell — [[SimilaritySpec]] gates the measured
    * recall floor.
    */
  def ivf2TopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val nC = nCentroids(spark, dir)
    val l1 = l1Cells(corpusStats(spark, dir)._1)
    val cent = emb.where(s"vec_id < $nC")
      .selectExpr("vec_id AS c_id", "emb AS c_emb", "nrm AS c_nrm")
    val coarse = emb.where(s"vec_id < $l1")
      .selectExpr("vec_id AS g_id", "emb AS g_emb", "nrm AS g_nrm")
    // fine centroid → owning level-1 cell (codebook-sized, combinable)
    val centCell = assignOne(
      cent.selectExpr("c_id AS vec_id", "c_emb AS emb", "c_nrm AS nrm"),
      coarse, "c_id", "g_id", "g_emb", "g_nrm", "gsim", "grk")
      .select("c_id", "emb", "nrm", "g_id")
    // corpus → fine list: unchanged from flat IVF (build-time, once)
    val assigned = assignOne(emb, cent, "vec_id", "c_id", "c_emb", "c_nrm",
      "csim", "crk").select("vec_id", "emb", "nrm", "c_id")
    val qCells = emb.where(s"vec_id < $QuerySetSize")
      .crossJoin(broadcast(coarse))
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm", "g_id",
        s"round(${cosineExpr("emb", "g_emb", "nrm", "g_nrm")}, 6) AS gsim")
      .withColumn("grk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY gsim DESC, g_id)"))
      .where(s"grk <= $L1Probe")
      .select("q_id", "q_emb", "q_nrm", "g_id")
    val qFine = qCells.join(broadcast(centCell), "g_id")
      .selectExpr("q_id", "q_emb", "q_nrm", "c_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS fsim")
      .withColumn("frk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY fsim DESC, c_id)"))
      .where(s"frk <= $NProbe")
      .select("q_id", "q_emb", "q_nrm", "c_id")
    rankTopK(qFine.join(assigned, "c_id")
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
  }

  val ivf2TopKSql: String =
    s"""WITH $embCte,
       |${centCte("cent")},
       |${centCte("coarse", "g", limit = l1CellsSqlExpr)},
       |${nearestCte("centcell", "c_id, c_emb, c_nrm, g_id", "c.c_id, c.c_emb, c.c_nrm",
            "cent c, coarse g", "= 1", "c", "c_", "g")},
       |${assignCte("emb", "cent", "assigned")},
       |${nearestCte("qcells", "q_id, q_emb, q_nrm, g_id",
            "e.vec_id AS q_id, e.emb AS q_emb, e.nrm AS q_nrm",
            s"emb e, coarse g WHERE e.vec_id < $QuerySetSize", s"<= $L1Probe", "e", p = "g")},
       |qfine AS (
       |  SELECT q_id, q_emb, q_nrm, c_id FROM (
       |    SELECT q.q_id, q.q_emb, q.q_nrm, cc.c_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             round(${cosineSql("q.q_emb", "cc.c_emb", "q.q_nrm", "cc.c_nrm")}, 6) DESC,
       |             cc.c_id) AS frk
       |    FROM qcells q JOIN centcell cc USING (g_id))
       |  WHERE frk <= $NProbe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |         round(${cosineSql("p.q_emb", "a.emb", "p.q_nrm", "a.nrm")}, 6) AS sim
       |  FROM qfine p JOIN assigned a USING (c_id) WHERE a.vec_id <> p.q_id),
       |${rankedSql("scored")}""".stripMargin

  /** IVF with a TRAINED codebook: [[ivfTopK]]'s seeded centroids refined by
    * [[KmRounds]] Lloyd iterations (assign to nearest centroid, recompute
    * means). Cross-engine determinism of the means: per-dimension values are
    * quantized to integers (`floor(x * 2^20 + 0.5)` — floor is unambiguous
    * in both engines, unlike round-half ties), summed EXACTLY as BIGINTs
    * (order-free), and divided once — so Spark and DuckDB derive
    * bit-identical centroids, assignments, and final top-k.
    *
    * Scale: each round is one broadcast of the 16-row codebook + one
    * map-side-combinable 64-sum aggregate — no corpus shuffle; training cost
    * is rounds × scan.
    */
  val KmRounds = 2
  val QScale = 1048576L // 2^20

  /** Materialize a codebook frame to the driver and rebuild it as a local
    * relation: 16 rows × 64 doubles — parameter-server state, like real IVF
    * training. This cuts each Lloyd round's plan off from the previous
    * round's (otherwise round N's lazy plan NESTS every earlier round and
    * every downstream reference re-executes the whole chain) and replaces
    * the round-2 cache-leak pattern. Doubles round-trip the collect exactly;
    * c_nrm is recomputed from the same values — bit-identical either way.
    */
  private def materializeCodebook(spark: SparkSession, cent: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = cent.select("c_id", "c_emb")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    rows.toDF("c_id", "c_emb")
      .selectExpr("c_id", "c_emb", "sqrt(graft_dot(c_emb, c_emb)) AS c_nrm")
  }

  /** [[KmRounds]] Lloyd iterations over the whole corpus (first-K init,
    * quantized-sum means, codebook materialized between rounds) — the
    * training loop shared by [[ivfTrainedTopK]] and [[clusterMix]].
    */
  private[pipeline] def trainedCentroids(spark: SparkSession, dir: String,
      emb: DataFrame): DataFrame = {
    var cent = materializeCodebook(spark,
      emb.where(s"vec_id < ${nCentroids(spark, dir)}")
        .selectExpr("vec_id AS c_id", "emb AS c_emb"))
    for (_ <- 1 to KmRounds) {
      // combinable argmax, not a window — see [[assignOne]] (the Lloyd
      // loop re-assigns the WHOLE corpus every round, so the fat-payload
      // window shuffle would be paid KmRounds+1 times here)
      val assigned = assignOne(emb, cent, "vec_id", "c_id", "c_emb", "c_nrm",
        "csim", "crk")
      val qsums = (0 until Dim).map(i =>
        sum(expr(s"CAST(floor(element_at(emb, ${i + 1}) * $QScale.0 + 0.5) AS BIGINT)")).as(s"s$i"))
      val meanArr = (0 until Dim)
        .map(i => s"CAST(s$i AS DOUBLE) / CAST(cn * $QScale AS DOUBLE)")
        .mkString("array(", ", ", ")")
      cent = materializeCodebook(spark,
        assigned.groupBy("c_id")
          .agg(count(lit(1)).as("cn"), qsums: _*)
          .selectExpr("c_id", s"$meanArr AS c_emb"))
    }
    cent
  }

  def ivfTrainedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val cent = trainedCentroids(spark, dir, emb)
    val assigned = nearestLists(emb, cent, "vec_id", 1).select("vec_id", "emb", "nrm", "c_id")
    val probes = nearestLists(emb.where(s"vec_id < $QuerySetSize"), cent, "q_id", NProbe)
      .selectExpr("q_id", "emb AS q_emb", "nrm AS q_nrm", "c_id")
    rankTopK(probes.join(assigned, "c_id")
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
  }

  /** DuckDB CTE chain replaying [[trainedCentroids]] + the final whole-
    * corpus assignment: cent0 → (assign, mean) × [[KmRounds]] → cent2 →
    * `assigned(vec_id, emb, nrm, c_id)`. Callers compose after
    * [[embCte]]. Shared by the trained-IVF and cluster-mix oracles.
    */
  private[pipeline] val trainedAssignCtes: String =
    s"""${centCte("cent0")},
       |${assignCte("emb", "cent0", "a1")},
       |${meanCte("a1", "cent1")},
       |${assignCte("emb", "cent1", "a2")},
       |${meanCte("a2", "cent2")},
       |${assignCte("emb", "cent2", "assigned")}""".stripMargin

  val ivfTrainedTopKSql: String = {
    s"""WITH $embCte,
       |$trainedAssignCtes,
       |${queryProbesCte("emb e, cent2 c")},
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |         round(${cosineSql("p.q_emb", "a.emb", "p.q_nrm", "a.nrm")}, 6) AS sim
       |  FROM probes p JOIN assigned a USING (c_id) WHERE a.vec_id <> p.q_id),
       |${rankedSql("scored")}""".stripMargin
  }

  /** Cluster-balanced corpus mixing — the data-curation rebalance over
    * LEARNED topical clusters instead of metadata labels: k-means over
    * the document embeddings (the [[trainedCentroids]] Lloyd loop; the
    * cluster-then-curate shape of SemDeDup/DataComp pipelines), then the
    * α=1/2 temperature accept of [[CorpusOps.temperatureSample]] applied
    * per CLUSTER — group `c` keeps √(c_min/c_c) of its docs, flattening
    * topical skew a `lang`/`source` column can't see. The accept test is
    * the same sqrt-free integer form (u²·n_cluster < c_min·2³², Knuth-
    * hash u on a 2¹⁶ grid); every doc is emitted with its verdict so
    * both classes sit under the hash.
    *
    * Scale shape: training is [[KmRounds]] corpus scans with combinable
    * argmax assignment (no window), cluster counts are one map-side-
    * combinable agg broadcast back, the accept is per-row. No
    * data-sized shuffle anywhere but the presentation sort.
    */
  /** The learned k-means cluster assignment (vec_id, c_id) — the
    * [[trainedCentroids]] Lloyd loop + rank-1 assign, exposed for
    * [[LearnedMix]] (which learns mixture WEIGHTS over these clusters).
    */
  private[pipeline] def clusterAssignments(spark: SparkSession,
      dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val cent = trainedCentroids(spark, dir, emb)
    assignOne(emb, cent, "vec_id", "c_id", "c_emb", "c_nrm",
      "csim", "crk").select("vec_id", "c_id")
  }

  def clusterMix(spark: SparkSession, dir: String): DataFrame = {
    val assigned = clusterAssignments(spark, dir)
    val counts = assigned.groupBy("c_id").agg(count(lit(1)).as("n_cluster"))
    val minc = counts.agg(min("n_cluster").as("c_min"))
    assigned.join(broadcast(counts), "c_id")
      .crossJoin(broadcast(minc))
      .selectExpr("vec_id AS doc_id", "c_id", "n_cluster", "c_min",
        "((vec_id % 2147483647) * 2654435761) % 2147483647 % 65536 AS u_bucket")
      .selectExpr("doc_id", "c_id", "n_cluster", "u_bucket",
        "u_bucket * u_bucket * n_cluster < c_min * 4294967296 AS kept")
      .orderBy("doc_id")
  }

  val clusterMixSql: String =
    s"""WITH $embCte,
       |$trainedAssignCtes,
       |counts AS (SELECT c_id, count(*)::BIGINT AS n_cluster
       |           FROM assigned GROUP BY c_id),
       |m AS (SELECT min(n_cluster)::BIGINT AS c_min FROM counts),
       |u AS (SELECT a.vec_id AS doc_id, a.c_id, c.n_cluster,
       |             ((a.vec_id % 2147483647) * 2654435761) % 2147483647 % 65536 AS u_bucket
       |      FROM assigned a JOIN counts c USING (c_id))
       |SELECT doc_id, c_id, n_cluster, u_bucket,
       |       u_bucket * u_bucket * n_cluster < m.c_min * 4294967296 AS kept
       |FROM u CROSS JOIN m
       |ORDER BY doc_id""".stripMargin

  /** Embedding-cosine near-duplicate pairs, blocked on (label × banded
    * hyperplane-LSH bucket): candidates must share the label AND at least
    * one of [[NdBands]] sign-pattern band buckets; only candidates get the
    * exact cosine confirmation. This is the same band-OR construction as
    * MinHash-LSH banding ([[Dedup.minhashCandidates]]) — per-label blocks
    * are no longer all-pairs, so a dominant label cannot go quadratic.
    * (Banding trades recall for scale: a true near-dup pair colliding in no
    * band is missed — at cosine 0.4 each band matches with p≈0.16, any-of-4
    * p≈0.50; recall rises steeply with similarity, reaching ~0.97 at 0.8.)
    */
  // synthetic testdata has no true near-dups: 0.35 sits near the top of the
  // empirical within-label cosine range (26 exact pairs at sf0.01), so the
  // banded gate still surfaces real pairs after its ~0.5 recall at this sim
  val NearDupThreshold = 0.35
  val NdBands = 4
  val NdBandBits = 4

  /** Spark: array of NdBands band-bucket ids (sign bits of 4 hyperplane
    * dots each), each plane a single array-literal Column.
    */
  private def bandArrCol(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until NdBands).map { b =>
      (0 until NdBandBits).map { j =>
        dotSign(emb, b * NdBandBits + j, 1L << j)
      }.reduce(_ + _)
    }: _*)

  /** DuckDB: one SELECT per band (mirrors the Spark posexplode rows). */
  private def bandedSqlDuck: String =
    (0 until NdBands).map { b =>
      val bh = (0 until NdBandBits).map { j =>
        val h = b * NdBandBits + j
        s"""CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}),
           | i -> emb[i] * ${hpExpr(h.toString, "(i - 1)")})) > 0
           | THEN ${1 << j} ELSE 0 END""".stripMargin
      }.mkString("(", " + ", ")")
      s"SELECT vec_id, label, $b AS band, $bh AS bh FROM emb"
    }.mkString("\n  UNION ALL ")

  /** Cache-free: the banded self-join's sides are identical subplans
    * (ReuseExchange shares the shuffle) and the emb re-reads are pruned
    * parquet scans — no cached frame survives the call (round-2 verdict
    * hygiene item).
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = embDouble(spark, dir)
    val banded = e
      .withColumn("bands", bandArrCol(col("emb")))
      .selectExpr("vec_id", "label", "posexplode(bands) AS (band, bh)")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.label") === col("y.label") && col("x.band") === col("y.band") &&
          col("x.bh") === col("y.bh") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col("x.label").as("label"))
      .distinct()
    cand
      .join(e.selectExpr("vec_id AS vec_a", "emb AS emb_a", "nrm AS nrm_a"), "vec_a")
      .join(e.selectExpr("vec_id AS vec_b", "emb AS emb_b", "nrm AS nrm_b"), "vec_b")
      .selectExpr("vec_a", "vec_b", "label",
        s"round(${cosineExpr("emb_a", "emb_b", "nrm_a", "nrm_b")}, 6) AS sim")
      .where(s"sim >= $NearDupThreshold")
      .orderBy("vec_a", "vec_b")
  }

  val embeddingNearDupSql: String =
    s"""WITH $embCte,
       |banded AS (
       |  $bandedSqlDuck
       |),
       |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b, x.label AS label
       |         FROM banded x JOIN banded y
       |           ON x.label = y.label AND x.band = y.band AND x.bh = y.bh
       |          AND x.vec_id < y.vec_id)
       |SELECT c.vec_a, c.vec_b, c.label,
       |       round(${cosineSql("a.emb", "b.emb", "a.nrm", "b.nrm")}, 6) AS sim
       |FROM cand c JOIN emb a ON c.vec_a = a.vec_id
       |            JOIN emb b ON c.vec_b = b.vec_id
       |WHERE round(${cosineSql("a.emb", "b.emb", "a.nrm", "b.nrm")}, 6) >= $NearDupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC dedup: two
    * documents are duplicates when their embeddings are near-parallel, even
    * if they share no tokens (the case MinHash/SimHash structurally miss).
    * The paper's construction, re-expressed Spark-first: (1) k-means
    * clusters block the corpus — here the IVF coarse codebook
    * ([[nCentroids]], corpus-adaptive, so per-cluster population stays near
    * [[ListTarget]] whatever the corpus size); (2) pairwise cosine runs
    * ONLY within a cluster (cluster-bounded quadratic: ~ListTarget·N pairs
    * total, linear in N with a constant the codebook formula pins);
    * (3) within each near-dup pair, the vector FARTHER from its centroid
    * survives (the paper keeps low-centroid-similarity examples — they
    * carry more information for training), ties broken by vec_id. A vector
    * is dropped iff some same-cluster near-dup neighbor beats it under
    * that order, so each connected dup group keeps exactly its extremal
    * member — no iterative clustering needed.
    *
    * Plan shape at 100 TB: codebook broadcast + one vec_id window for
    * assignment, self-join shuffled on c_id (both sides cluster-
    * partitioned), and a broadcast anti-ish left join for the verdict.
    * Threshold shares [[NearDupThreshold]] with [[embeddingNearDup]] —
    * the two entries differ ONLY in blocking (label×LSH-band vs k-means
    * cluster) and keep-rule, which is the actual design choice a pipeline
    * owner makes between them.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val k = nCentroids(spark, dir)
    val cent = emb.where(s"vec_id < $k")
      .selectExpr("vec_id AS c_id", "emb AS c_emb", "nrm AS c_nrm")
    // [[assignOne]]: combinable-argmax assignment (the window form cost
    // 163 s at ×100 — the fat-payload shuffle, vs 8.5 s for the entire
    // pairwise phase). Cached: the plan reads `assigned` three times (both
    // self-join sides + verdict); harness clearCache releases it. A
    // production run reads assignments straight from the persisted IVF
    // index ([[IvfIndex.search]]) instead of recomputing them at all.
    val assigned = assignOne(emb, cent, "vec_id", "c_id", "c_emb", "c_nrm",
        "csim", "crk")
      .select("vec_id", "emb", "nrm", "c_id", "csim")
      .cache()
    val dropped = assigned.as("a").join(assigned.as("b"),
        expr("a.c_id = b.c_id AND a.vec_id <> b.vec_id"))
      .where(expr(
        s"round(${cosineExpr("a.emb", "b.emb", "a.nrm", "b.nrm")}, 6) >= $NearDupThreshold" +
          " AND (b.csim < a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))"))
      .selectExpr("a.vec_id AS vec_id").distinct()
    assigned.join(dropped.withColumn("is_dropped", lit(1)), Seq("vec_id"), "left")
      .selectExpr("vec_id", "c_id", "csim", "is_dropped IS NULL AS keep")
      .orderBy("vec_id")
  }

  val semDedupSql: String =
    s"""WITH $embCte,
       |${centCte("cent")},
       |assigned AS (
       |  SELECT vec_id, emb, nrm, c_id, csim FROM (
       |    SELECT e.vec_id, e.emb, e.nrm, c.c_id,
       |           round(${cosineSql("e.emb", "c.c_emb", "e.nrm", "c.c_nrm")}, 6) AS csim,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             round(${cosineSql("e.emb", "c.c_emb", "e.nrm", "c.c_nrm")}, 6) DESC,
       |             c.c_id) AS crk
       |    FROM emb e, cent c)
       |  WHERE crk = 1),
       |dropped AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM assigned a JOIN assigned b
       |    ON a.c_id = b.c_id AND a.vec_id <> b.vec_id
       |  WHERE round(${cosineSql("a.emb", "b.emb", "a.nrm", "b.nrm")}, 6) >= $NearDupThreshold
       |    AND (b.csim < a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id)))
       |SELECT s.vec_id, s.c_id, s.csim, d.vec_id IS NULL AS keep
       |FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
       |ORDER BY s.vec_id""".stripMargin

  // ------------------------------------------ product-quantization ANN

  /** PQ geometry: [[Dim]]=64 dims split into [[PqM]]=4 subspaces of
    * [[PqSubDim]]=16 dims, [[PqK]]=16 codes per subspace — each vector
    * compresses to 4 small ints (vs 64 doubles), the memory lever IVF/LSH
    * don't have.
    */
  val PqM = 4
  val PqSubDim = Dim / PqM
  val PqK = 16

  /** Scalar-quantization (SQ8) ANN — the storage-compression path every
    * production vector store ships (FAISS ScalarQuantizer QT_8bit):
    * each vector is stored as 64 signed bytes plus ONE per-vector scale
    * `s = 127 / max|x_i|`, a 4× shrink over float32 with no codebook to
    * train. Scoring decodes nothing: the integer dot of two quantized
    * vectors is rescaled by `1/(s_a·s_b)` and normalized by the ORIGINAL
    * norms. Cross-engine determinism is free here — quantized components
    * are exact small integers, so every product/sum is an exactly-
    * representable double in ANY fold order; only the final rescale
    * divides. At 100 TB this is not an index (it scores everything, like
    * [[pqTopK]]) but the representation the OTHER indexes store their
    * lists in — 25 TB of int8 instead of 100 TB of float32 moving through
    * every probe.
    *
    * Degenerate-vector guard (ADVICE r13): s = 127/max|x| divides by zero
    * on an all-zero vector — Spark would pack floor(NaN)=0 while DuckDB
    * keeps NaN through list_sum, desyncing the oracle. Every pack site in
    * BOTH engines therefore computes s = 127/greatest(max|x|, 1e-300):
    * real vectors are untouched (corpus |x| ≫ 1e-300), an all-zero vector
    * packs to all-zero bytes identically on both sides.
    */
  def sq8TopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val sq = emb
      .selectExpr("vec_id", "nrm",
        "127.0 / greatest(array_max(transform(emb, y -> abs(y))), 1e-300) AS s", "emb")
      .selectExpr("vec_id", "nrm", "s",
        // CAST to DOUBLE: graft_dot takes double arrays; the values stay
        // exact small integers either way
        "transform(emb, x -> CAST(floor(x * s + 0.5) AS DOUBLE)) AS qv")
    val queries = sq.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "qv AS q_qv", "s AS q_s", "nrm AS q_nrm")
    rankTopK(sq.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        "round(graft_dot(qv, q_qv) / (s * q_s) / (nrm * q_nrm), 6) AS sim"))
  }

  val sq8TopKSql: String =
    s"""WITH $embCte,
       |sc AS (SELECT vec_id, nrm, emb,
       |              ${sq8ScaleSql("emb")} AS s
       |       FROM emb),
       |sq AS (SELECT vec_id, nrm, s,
       |              list_transform(emb, x -> floor(x * s + 0.5)) AS qv
       |       FROM sc),
       |q AS (SELECT vec_id AS q_id, qv AS q_qv, s AS q_s, nrm AS q_nrm
       |      FROM sq WHERE vec_id < $QuerySetSize),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |         round(list_sum(list_transform(range(1, ${Dim + 1}),
       |                 i -> e.qv[i] * q.q_qv[i]))
       |           / (e.s * q.q_s) / (e.nrm * q.q_nrm), 6) AS sim
       |  FROM sq e, q WHERE e.vec_id <> q.q_id),
       |${rankedSql("scored")}""".stripMargin

  /** Product-quantization ANN — the third scale path, orthogonal to
    * LSH (pruning by bucket) and IVF (pruning by inverted list): PQ keeps
    * scoring ALL vectors but against a 16×-compressed representation,
    * then re-scores the adaptive top-[[rerankK]] ADC candidates exactly
    * (the [[ivfPqTopK]] refine contract — without it, solo-PQ recall
    * decayed with corpus growth and its sf0.1 gate flipped false,
    * round-12 finding).
    * Per-subspace codebooks are seeded from the first [[PqK]] corpus rows
    * (same deterministic-init convention as [[ivfTopK]]); encoding picks the
    * L2-nearest code per (vector, subspace); queries score via the classic
    * ADC lookup table — dot(q_sub, centroid) precomputed for Q×M×K cells —
    * so the per-vector score is M table lookups + adds, never a D-wide dot.
    *
    * At 100 TB: the codebook (M×K subvectors) and the LUT (Q×M×K cells)
    * both broadcast; codes are 4 bytes/vector; the only corpus-sized
    * shuffles are the encode argmin and the per-(q, vec) combine, both
    * map-side combinable by key. Cross-engine determinism: ADC partial dots
    * and code norms are quantized to BIGINT ([[QScale]]) so the 4-term sums
    * are order-free; one final division/sqrt chain is IEEE-stable.
    */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val subSlices = (0 until PqM)
      .map(m => s"slice(emb, ${m * PqSubDim + 1}, $PqSubDim)").mkString(", ")
    val subs = emb.selectExpr("vec_id", "nrm",
      s"posexplode(array($subSlices)) AS (m, sub)")
    val cent = subs.where(s"vec_id < $PqK")
      .selectExpr("m", "vec_id AS c_id", "sub AS c_sub",
        s"CAST(floor(graft_dot(sub, sub) * $QScale.0 + 0.5) AS BIGINT) AS cq")
    // encode: per (vector, subspace) argmin of squared L2 to the 16 codes —
    // term-by-term |s|² - 2·s·c + |c|² so both engines fold identically
    val codes = subs.join(broadcast(cent), "m")
      .selectExpr("vec_id", "m", "c_id",
        s"""round(graft_dot(sub, sub) - 2 * graft_dot(sub, c_sub)
           |  + graft_dot(c_sub, c_sub), 6) AS d2""".stripMargin)
      .withColumn("crk", expr(
        "row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, c_id ASC)"))
      .where("crk = 1").select("vec_id", "m", "c_id")
    // ADC lookup table: Q × M × K quantized partial dots (+ code norms)
    val lut = subs.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "nrm AS q_nrm", "m", "sub AS q_sub")
      .join(broadcast(cent), "m")
      .selectExpr("q_id", "q_nrm", "m", "c_id",
        s"CAST(floor(graft_dot(q_sub, c_sub) * $QScale.0 + 0.5) AS BIGINT) AS pq",
        "cq")
    // ADC ranks the WHOLE corpus per query; keep the adaptive top-rerankK
    // and re-score them exactly — the same refine contract as ivfPqTopK,
    // so solo-PQ recall no longer decays as probed populations grow with
    // the corpus (the round-12 sf0.1 gate fragility): the ADC cut is a
    // constant FRACTION of the corpus, and rerankK·Q full-vector reads
    // stay negligible.
    val adc = codes.join(broadcast(lut), Seq("m", "c_id"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(max("q_nrm").as("q_nrm"), sum("pq").as("adcq"), sum("cq").as("rq"))
      .selectExpr("q_id", "vec_id",
        s"""round((CAST(adcq AS DOUBLE) / $QScale.0)
           |  / (q_nrm * sqrt(CAST(rq AS DOUBLE) / $QScale.0)), 6) AS asim""".stripMargin)
      .withColumn("ark", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, vec_id ASC)"))
      .where(s"ark <= ${rerankK(corpusStats(spark, dir)._1)}")
    rankTopK(adc
      .join(emb.select("vec_id", "emb", "nrm"), "vec_id")
      .join(broadcast(emb.where(s"vec_id < $QuerySetSize")
        .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm2")), "q_id")
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm2", "nrm")}, 6) AS sim"))
  }

  val pqTopKSql: String =
    s"""WITH $embCte,
       |subs AS (
       |  ${subSelects()}),
       |${pqCentCte("cent", "subs")},
       |${codesCte("subs s JOIN cent c USING (m)")},
       |${lutCte(s"subs s JOIN cent c USING (m) WHERE s.vec_id < $QuerySetSize")},
       |scored AS (
       |  SELECT l.q_id, c.vec_id, max(l.q_nrm) AS q_nrm,
       |         sum(l.pq)::BIGINT AS adcq, sum(l.cq)::BIGINT AS rq
       |  FROM codes c JOIN lut l ON l.m = c.m AND l.c_id = c.c_id
       |  WHERE c.vec_id <> l.q_id GROUP BY l.q_id, c.vec_id),
       |${cutCte(adcSimSql, "scored")},
       |reranked AS (
       |  SELECT c.q_id, c.vec_id,
       |         round(${cosineSql("q.emb", "e.emb", "q.nrm", "e.nrm")}, 6) AS sim
       |  FROM cut c
       |  JOIN emb e ON e.vec_id = c.vec_id
       |  JOIN emb q ON q.vec_id = c.q_id),
       |${rankedSql("reranked")}""".stripMargin

  // ------------------------------------------------------------- IVF-PQ

  /** Floor of the ADC candidates kept per query for the exact re-rank —
    * 10·[[TopK]], the usual production refine factor: PQ is deliberately
    * lossy (its solo recall here is ~36%), so the ADC pre-cut must keep
    * enough candidates that the exact re-rank can recover the true
    * neighbors the codes mis-rank. Measured on this corpus: recall@5 44%
    * at 3·TopK vs 84% at 10·TopK — the re-rank budget, not the codebook,
    * is the quality knob, and 50·Q full-vector reads stay negligible.
    *
    * The EFFECTIVE budget is `greatest(RerankKMin, corpus/1000)` — computed
    * from the corpus itself in BOTH constructions (Spark `count()`, a
    * scalar subquery in the oracle SQL), so the two stay replay-identical
    * at every scale without a per-corpus constant. A fixed 50 starved the
    * re-rank on the ×100 perturbed corpus (round-11 measurement: recall@5
    * fell to 64% at 200k vectors because probed-list populations grow
    * linearly while the ADC cut stayed flat); proportional K restores the
    * FAISS-style contract that re-rank reads stay a constant FRACTION of
    * the probed candidates, and K·Q full-vector reads remain negligible
    * (200·5 rows at ×100).
    */
  // `final` makes this a compile-time constant, inlined at use sites —
  // pqTopKSql (defined ABOVE in initialization order) interpolates it, and
  // a plain val would still be 0 there when that initializer runs.
  final val RerankKMin = 50

  /** Effective re-rank budget for a corpus of `corpusRows` vectors. */
  def rerankK(corpusRows: Long): Long =
    math.max(RerankKMin.toLong, corpusRows / 1000L)

  /** IVF-PQ with exact re-rank — the billion-scale production composition
    * (what FAISS's IndexIVFPQ + refine does): the coarse quantizer prunes
    * the corpus to [[NProbe]]/[[nCentroids]] inverted lists, PQ codes
    * approximate distances WITHIN the probed lists from the compact
    * code+LUT representation (no full-vector reads), the top-[[rerankK]]
    * ADC candidates are then re-scored with exact cosine and the final
    * top-[[TopK]] re-ranked. At 100 TB the full vectors are touched only
    * for rerankK·Q rows (a key join against candidate ids) — everything
    * before that moves 4-byte-per-subspace codes through one list-id
    * shuffle. Both quantizers reuse the entries' deterministic seeded
    * codebooks, so the oracle replays the identical index.
    */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    // coarse quantizer (g_ prefix: inverted-list id; shared w/ ivfTopK)
    val gcent = emb.where(s"vec_id < ${nCentroids(spark, dir)}")
      .selectExpr("vec_id AS g_id", "emb AS g_emb", "nrm AS g_nrm")
    def nearestCoarse(src: DataFrame, idAs: String, keep: Int): DataFrame =
      if (keep == 1) assignOne(src, gcent, idAs, "g_id", "g_emb", "g_nrm", "gsim", "grk")
      else src.crossJoin(broadcast(gcent))
        .selectExpr(s"vec_id AS $idAs", "emb", "nrm", "g_id",
          s"round(${cosineExpr("emb", "g_emb", "nrm", "g_nrm")}, 6) AS gsim")
        .withColumn("grk", expr(
          s"row_number() OVER (PARTITION BY $idAs ORDER BY gsim DESC, g_id)"))
        .where(s"grk <= $keep")
    val lists = nearestCoarse(emb, "vec_id", 1).select("vec_id", "g_id")
    // PQ encode (same construction as pqTopK: seeded sub-codebooks)
    val subSlices = (0 until PqM)
      .map(m => s"slice(emb, ${m * PqSubDim + 1}, $PqSubDim)").mkString(", ")
    val subs = emb.selectExpr("vec_id", "nrm",
      s"posexplode(array($subSlices)) AS (m, sub)")
    val cent = subs.where(s"vec_id < $PqK")
      .selectExpr("m", "vec_id AS c_id", "sub AS c_sub",
        s"CAST(floor(graft_dot(sub, sub) * $QScale.0 + 0.5) AS BIGINT) AS cq")
    val codes = subs.join(broadcast(cent), "m")
      .selectExpr("vec_id", "m", "c_id",
        s"""round(graft_dot(sub, sub) - 2 * graft_dot(sub, c_sub)
           |  + graft_dot(c_sub, c_sub), 6) AS d2""".stripMargin)
      .withColumn("crk", expr(
        "row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, c_id ASC)"))
      .where("crk = 1").select("vec_id", "m", "c_id")
    val lut = subs.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "nrm AS q_nrm", "m", "sub AS q_sub")
      .join(broadcast(cent), "m")
      .selectExpr("q_id", "q_nrm", "m", "c_id",
        s"CAST(floor(graft_dot(q_sub, c_sub) * $QScale.0 + 0.5) AS BIGINT) AS pq",
        "cq")
    // candidate set = probed lists only; ADC-score candidates from codes
    val probes = nearestCoarse(emb.where(s"vec_id < $QuerySetSize"), "q_id", NProbe)
      .select("q_id", "g_id")
    val cand = probes.join(lists, "g_id")
      .where(col("vec_id") =!= col("q_id")).select("q_id", "vec_id")
    val adc = cand
      .join(codes, "vec_id")
      .join(broadcast(lut), Seq("q_id", "m", "c_id"))
      .groupBy("q_id", "vec_id")
      .agg(max("q_nrm").as("q_nrm"), sum("pq").as("adcq"), sum("cq").as("rq"))
      .selectExpr("q_id", "vec_id",
        s"""round((CAST(adcq AS DOUBLE) / $QScale.0)
           |  / (q_nrm * sqrt(CAST(rq AS DOUBLE) / $QScale.0)), 6) AS adc_sim""".stripMargin)
      .withColumn("ark", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY adc_sim DESC, vec_id ASC)"))
      .where(s"ark <= ${rerankK(corpusStats(spark, dir)._1)}")
    // exact re-rank of the rerankK survivors (the only full-vector reads)
    val qv = emb.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    rankTopK(adc.select("q_id", "vec_id")
      .join(emb.select("vec_id", "emb", "nrm"), "vec_id")
      .join(broadcast(qv), "q_id")
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
  }

  val ivfPqTopKSql: String =
    s"""WITH $embCte,
       |${centCte("gcent", "g")},
       |${nearestCte("lists", "vec_id, g_id", "e.vec_id", "emb e, gcent g", "= 1", "e", p = "g")},
       |${nearestCte("probes", "q_id, g_id", "e.vec_id AS q_id",
            s"emb e, gcent g WHERE e.vec_id < $QuerySetSize", s"<= $NProbe", "e", p = "g")},
       |subs AS (
       |  ${subSelects()}),
       |${pqCentCte("cent", "subs")},
       |${codesCte("subs s JOIN cent c USING (m)")},
       |${lutCte(s"subs s JOIN cent c USING (m) WHERE s.vec_id < $QuerySetSize")},
       |cand AS (
       |  SELECT p.q_id, l.vec_id
       |  FROM probes p JOIN lists l USING (g_id) WHERE l.vec_id <> p.q_id),
       |adc AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT s.q_id, s.vec_id,
       |           row_number() OVER (PARTITION BY s.q_id ORDER BY
       |             round((s.adcq::DOUBLE / $QScale.0)
       |               / (s.q_nrm * sqrt(s.rq::DOUBLE / $QScale.0)), 6) DESC,
       |             s.vec_id ASC) AS ark
       |    FROM (
       |      SELECT n.q_id, n.vec_id, max(l.q_nrm) AS q_nrm,
       |             sum(l.pq)::BIGINT AS adcq, sum(l.cq)::BIGINT AS rq
       |      FROM cand n
       |      JOIN codes c ON c.vec_id = n.vec_id
       |      JOIN lut l ON l.q_id = n.q_id AND l.m = c.m AND l.c_id = c.c_id
       |      GROUP BY n.q_id, n.vec_id) s)
       |  WHERE ark <= greatest($RerankKMin, (SELECT count(*) // 1000 FROM emb))),
       |reranked AS (
       |  SELECT a.q_id, a.vec_id,
       |         round(${cosineSql("q.emb", "e.emb", "q.nrm", "e.nrm")}, 6) AS sim
       |  FROM adc a
       |  JOIN emb e ON e.vec_id = a.vec_id
       |  JOIN emb q ON q.vec_id = a.q_id),
       |${rankedSql("reranked")}""".stripMargin

  // -------------------------------------------------------- recall gate

  /** Minimum recall@[[TopK]] (percent) of each approximate index vs the
    * brute-force truth. Measured on the synthetic embeddings: LSH 12%
    * (coarse 4-bit single-table demo), multi-table LSH 56% (8 tables),
    * IVF 92%, trained IVF 88%, PQ 36% — gates sit under those with margin
    * but high enough that a silently quality-degrading "optimization"
    * flips the row (round-5 verdict item 4).
    */
  val RecallGatePct: Seq[(String, Int)] = Seq(
    "lsh" -> 8, "lsh_multi" -> 40, // single-table 12% / 8-table 56% measured
    "ivf" -> 80, "ivf_trained" -> 80,
    // pq: with the adaptive exact re-rank (round-13) 60% sf0.01 / 64%
    // sf0.1 — scale-stable where raw ADC decayed to 20% at sf0.1
    "pq" -> 48,
    "ivfpq" -> 72, // measured 84% at sf0.01 (rerankK floor); margin matches ivf
    "sq8" -> 90, // int8 storage barely moves top-k (measured 96% at sf0.01)
    "ivf_sq8" -> 80) // quantized lists + exact re-rank tracks ivf (measured 92% sf0.01 / 100% sf0.1)

  /** Retrieval-quality gate: recall of every approximate ANN entry against
    * [[bruteForceTopK]] truth, as EXACT integers (hits, truth) plus a
    * thresholded boolean. The hash oracle recomputes the same constructions
    * in DuckDB (each already individually hash-matched), so hits/truth are
    * bit-identical; the `ok` gate is where the quality contract lives —
    * the `x_sketch_stats` tolerance-gate pattern applied to retrieval.
    */
  def recallGate(spark: SparkSession, dir: String): DataFrame = {
    val bf = bruteForceTopK(spark, dir).select("q_id", "vec_id")
    val truth = bf.agg(count(lit(1)).as("truth"))
    val approx = Map[String, DataFrame](
      "lsh" -> lshTopK(spark, dir),
      "lsh_multi" -> lshMultiTopK(spark, dir),
      "ivf" -> ivfTopK(spark, dir),
      "ivf_trained" -> ivfTrainedTopK(spark, dir),
      "pq" -> pqTopK(spark, dir),
      "ivfpq" -> ivfPqTopK(spark, dir),
      "sq8" -> sq8TopK(spark, dir),
      "ivf_sq8" -> ivfSq8TopK(spark, dir))
    val tagged = RecallGatePct.map { case (name, thr) =>
      approx(name).selectExpr(s"'$name' AS method", "q_id", "vec_id",
        s"CAST($thr AS BIGINT) AS thr_pct")
    }.reduce(_.unionByName(_))
    // methods frame keeps a method visible even at 0 hits
    val methods = RecallGatePct.map { case (name, thr) =>
      s"('$name', CAST($thr AS BIGINT))"
    }.mkString("VALUES ", ", ", "")
    val hits = tagged.join(bf, Seq("q_id", "vec_id"))
      .groupBy("method", "thr_pct").agg(count(lit(1)).as("hits"))
    spark.sql(s"SELECT col1 AS method, col2 AS thr_pct FROM ($methods)")
      .join(hits, Seq("method", "thr_pct"), "left")
      .crossJoin(broadcast(truth))
      .selectExpr("method",
        "coalesce(hits, CAST(0 AS BIGINT)) AS hits", "truth", "thr_pct",
        "coalesce(hits, CAST(0 AS BIGINT)) * 100 >= thr_pct * truth AS ok")
      .orderBy("method")
  }

  def recallGateSql: String = {
    val methodCtes = Seq(
      "lsh" -> lshTopKSql, "lsh_multi" -> lshMultiTopKSql,
      "ivf" -> ivfTopKSql,
      "ivf_trained" -> ivfTrainedTopKSql, "pq" -> pqTopKSql,
      "ivfpq" -> ivfPqTopKSql, "sq8" -> sq8TopKSql,
      "ivf_sq8" -> ivfSq8TopKSql)
      .map { case (n, sql) => s"ap_$n AS (SELECT q_id, vec_id FROM ($sql))" }
      .mkString(",\n")
    val thrRows = RecallGatePct
      .map { case (n, t) => s"('$n', $t::BIGINT)" }.mkString(", ")
    val tagged = RecallGatePct.map { case (n, _) =>
      s"SELECT '$n' AS method, q_id, vec_id FROM ap_$n"
    }.mkString("\nUNION ALL\n")
    s"""WITH bf AS (SELECT q_id, vec_id FROM ($bruteForceTopKSql)),
       |$methodCtes,
       |thr(method, thr_pct) AS (VALUES $thrRows),
       |tagged AS ($tagged),
       |hits AS (
       |  SELECT method, count(*)::BIGINT AS hits
       |  FROM tagged JOIN bf USING (q_id, vec_id) GROUP BY method),
       |truth AS (SELECT count(*)::BIGINT AS truth FROM bf)
       |SELECT t.method, COALESCE(h.hits, 0)::BIGINT AS hits, truth.truth,
       |       t.thr_pct,
       |       COALESCE(h.hits, 0) * 100 >= t.thr_pct * truth.truth AS ok
       |FROM thr t LEFT JOIN hits h USING (method) CROSS JOIN truth
       |ORDER BY method""".stripMargin
  }

  /** Filtered ANN — exact top-k restricted to a metadata predicate (same
    * label as the query): the production vector-search shape where the
    * filter must live INSIDE the search, not after it (post-filtering an
    * approximate candidate list silently returns fewer than k). The label
    * equality rides the join condition, so the candidate set is
    * label-local before any scoring happens — at 100 TB the predicate
    * PRUNES the scan ~|labels|-fold instead of discarding scored results,
    * and composing it with the LSH/IVF bucket key (join on
    * (bucket, label)) is the same one-line change in those entries.
    */
  def filteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = embDouble(spark, dir)
    val queries = corpus.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "label AS q_label",
        "emb AS q_emb", "nrm AS q_nrm")
    rankTopK(corpus.join(broadcast(queries),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
  }

  val filteredTopKSql: String =
    s"""WITH $embCte,
       |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb, nrm AS q_nrm
       |      FROM emb WHERE vec_id < $QuerySetSize),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |         round(${cosineSql("q.q_emb", "e.emb", "q.q_nrm", "e.nrm")}, 6) AS sim
       |  FROM emb e, q
       |  WHERE e.label = q.q_label AND e.vec_id <> q.q_id),
       |${rankedSql("scored")}""".stripMargin

  // ------------------------------------------- incremental IVF index

  /** Wave split for the incremental-ANN entries (same shape as
    * [[graft.pipeline.Dedup.IncrSplitMod]] for the dedup index family):
    * historical corpus = `vec_id % IvfSplitMod != 0`; wave 1 =
    * `vec_id % (2·IvfSplitMod) == 0`; wave 2 =
    * `vec_id % (2·IvfSplitMod) == IvfSplitMod`. The persisted index
    * itself is [[IvfIndex]].
    */
  final val IvfSplitMod = 4

  /** The shared coarse codebook: the first `nc` corpus vectors (same
    * seeded rule as [[ivfTopK]]/[[ivfPqTopK]]) — a frozen training
    * artifact that [[IvfIndex.ensure]] persists with the index.
    */
  private[pipeline] def coarseCent(emb: DataFrame, nc: Int): DataFrame =
    emb.where(s"vec_id < $nc")
      .selectExpr("vec_id AS c_id", "emb AS c_emb", "nrm AS c_nrm")

  /** Rank-1 centroid assignment as a MAP-SIDE-COMBINABLE argmax, shared by
    * every keep=1 site in the ANN family: a row_number window over the N×K
    * crossJoin shuffles all N×K candidate rows WITH the 64-double vector
    * riding along (×100 measured: the window form cost `sim_ivf_topk`
    * 122 s, ~27 GB exchanged); `max(struct(csim, -cid))` carries only the
    * score pair, collapses to one row per vector BEFORE the exchange
    * (each vector's K candidate rows are partition-local to the broadcast
    * join), and the vectors rejoin by key. Identical semantics to
    * `ORDER BY csim DESC, cid ASC` rank-1 — struct comparison is
    * lexicographic and `-cid` turns min-id tiebreak into max. Output
    * schema matches the window form (id, emb, nrm, cid, sim, rk=1).
    */
  private[pipeline] def assignOne(src: DataFrame, cent: DataFrame, idAs: String,
      cid: String, cemb: String, cnrm: String, simAs: String,
      rkAs: String): DataFrame = {
    val best = src.crossJoin(broadcast(cent))
      .selectExpr("vec_id",
        s"named_struct('s', round(${cosineExpr("emb", cemb, "nrm", cnrm)}, 6), " +
          s"'nci', -$cid) AS sc")
      .groupBy("vec_id").agg(max("sc").as("sc"))
      .selectExpr("vec_id", s"sc.s AS $simAs", s"-sc.nci AS $cid")
    src.join(best, Seq("vec_id"))
      .selectExpr(s"vec_id AS $idAs", "emb", "nrm", cid, simAs,
        s"CAST(1 AS INT) AS $rkAs")
  }

  /** `src` rows tagged with their `keep` nearest coarse centroids
    * (rank-1 = list assignment; rank ≤ [[NProbe]] = probe set). Rounded
    * cosine with c_id tiebreak, so both engines agree exactly. keep=1
    * routes through [[assignOne]] (combinable aggregate — the corpus-sized
    * case); the window form only ever ranks query batches (Q×K rows).
    */
  private[pipeline] def nearestLists(src: DataFrame, cent: DataFrame, idAs: String,
      keep: Int): DataFrame =
    if (keep == 1) assignOne(src, cent, idAs, "c_id", "c_emb", "c_nrm", "csim", "crk")
    else src.crossJoin(broadcast(cent))
      .selectExpr(s"vec_id AS $idAs", "emb", "nrm", "c_id",
        s"round(${cosineExpr("emb", "c_emb", "nrm", "c_nrm")}, 6) AS csim")
      .withColumn("crk", expr(
        s"row_number() OVER (PARTITION BY $idAs ORDER BY csim DESC, c_id)"))
      .where(s"crk <= $keep")

  /** Index-backed semantic decontamination — the production twin
    * [[CorpusOps.decontaminateSemantic]]'s scaladoc promises: at 100 TB
    * you don't brute-force eval×corpus, you probe the PERSISTED float
    * IVF index with the benchmark rows and exact-score only the touched
    * lists. Flagged docs are exactly the indexed-split candidates whose
    * probe cosine clears [[CorpusOps.SemanticTau]] (per doc: nearest
    * eval item, smaller-id tie-break) — IO is probe-proportional, and
    * clean docs outside the probed lists are never read. Approximate by
    * construction (a contaminated doc in an unprobed list is missed —
    * the spec measures recall against the exact entry and gates ≥ 75%);
    * the oracle replays the probe from scratch, so the hash is still
    * exact. Probe depth is [[DeconProbes]], deeper than the search
    * family's [[NProbe]]: a missed contamination costs more than extra
    * list IO, so the recall/IO dial sits recall-ward here (measured
    * 0.50 → 0.82/0.89 going 4 → 10 on the near-uniform synthetic
    * geometry; real clustered embeddings route far better). ALL
    * near-enough candidates matter here, not the k best, so the float
    * scores are thresholded instead of ranked.
    */
  val DeconProbes = 10

  def decontaminateSemanticIndexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val path = IvfIndex.ensure(spark, dir, IvfIndex.Float)
    val m = IvfIndex.open(spark, path, IvfIndex.Float)
    val evalQ = emb.where(s"vec_id % ${CorpusOps.EvalEvery} = 0 AND " +
      s"vec_id < ${CorpusOps.EvalEvery * CorpusOps.SemanticEvalCap}")
    val probes = IvfIndex.probesOf(evalQ, m.cent, DeconProbes)
    IvfIndex.Float.score(IvfIndex.touchedLists(spark, probes, path), probes,
        evalQ, m, 0)
      .where(s"vec_id % ${CorpusOps.EvalEvery} != 0 AND " +
        s"sim >= ${CorpusOps.SemanticTau}")
      .selectExpr("vec_id AS doc_id",
        "named_struct('sim', sim, 'neg', -q_id) AS c")
      .groupBy("doc_id")
      .agg(max("c").as("m"))
      .selectExpr("doc_id", "-m.neg AS nearest_eval", "m.sim AS max_sim")
      .orderBy("doc_id")
  }

  val decontaminateSemanticIndexedSql: String = {
    def assign(src: String, idAs: String, keep: String): String =
      s"""SELECT $idAs, c_id FROM (
         |    SELECT s.vec_id AS $idAs, c.c_id,
         |           row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |             round(${cosineSql("s.emb", "c.c_emb", "s.nrm", "c.c_nrm")}, 6) DESC,
         |             c.c_id) AS crk
         |    FROM $src s, cent c)
         |  WHERE $keep""".stripMargin
    s"""WITH $embCte,
       |${centCte("cent")},
       |${histCte()},
       |lists AS (${assign("hist", "vec_id", "crk = 1")}),
       |vq AS (SELECT vec_id, emb, nrm FROM emb
       |       WHERE vec_id % ${CorpusOps.EvalEvery} = 0
       |         AND vec_id < ${CorpusOps.EvalEvery * CorpusOps.SemanticEvalCap}),
       |probes AS (${assign("vq", "eval_id", s"crk <= $DeconProbes")}),
       |cand AS (
       |  SELECT l.vec_id AS doc_id, p.eval_id,
       |         round(${cosineSql("q.emb", "e.emb", "q.nrm", "e.nrm")}, 6) AS sim
       |  FROM probes p
       |  JOIN lists l USING (c_id)
       |  JOIN emb e ON e.vec_id = l.vec_id
       |  JOIN vq q ON q.vec_id = p.eval_id
       |  WHERE l.vec_id % ${CorpusOps.EvalEvery} <> 0),
       |m AS (
       |  SELECT doc_id, eval_id, sim,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY sim DESC, eval_id ASC) AS rk
       |  FROM cand WHERE sim >= ${CorpusOps.SemanticTau})
       |SELECT doc_id, eval_id AS nearest_eval, sim AS max_sim
       |FROM m WHERE rk = 1 ORDER BY doc_id""".stripMargin
  }

  /** DuckDB CTE fragment replaying the INDEXED vector leg of
    * [[Retrieval.hybridRrfIndexed]] (the float-index probe of the
    * `vec_id < QuerySetSize` queries at rank depth `k`) — defines `emb`,
    * `cent`, `hist`, `lists`, `vq`, `probes` and `vec_rk(q_id, vec_id,
    * rk)`; splice after WITH in a caller query.
    */
  private[pipeline] def ivfRanksCtes(k: Int): String =
    s"""${ivfListsCtes()},
       |vq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM emb
       |       WHERE vec_id < $QuerySetSize),
       |${nearestCte("probes", "q_id, c_id", "vq.q_id", "vq, cent c", s"<= $NProbe", "vq", "q_")},
       |vec_rk AS (
       |  SELECT q_id, vec_id, rk::BIGINT AS rk FROM (
       |    SELECT p.q_id, l.vec_id,
       |           row_number() OVER (PARTITION BY p.q_id ORDER BY
       |             round(${cosineSql("vq.q_emb", "e.emb", "vq.q_nrm", "e.nrm")}, 6) DESC,
       |             l.vec_id) AS rk
       |    FROM probes p
       |    JOIN lists l USING (c_id)
       |    JOIN emb e ON e.vec_id = l.vec_id
       |    JOIN vq ON vq.q_id = p.q_id
       |    WHERE l.vec_id <> p.q_id)
       |  WHERE rk <= $k)""".stripMargin

  /** Wave-`rem` query vectors: the first [[QuerySetSize]] wave members. */
  private[pipeline] def waveQueries(emb: DataFrame, rem: Int): DataFrame =
    emb.where(wavePred(rem))

  private def wavePred(rem: Int): String = s"vec_id % ${2 * IvfSplitMod} = $rem" +
    s" AND vec_id < ${2L * IvfSplitMod * QuerySetSize + rem}"

  /** Wave-1 queries for `dir` — the probe input the scale harness holds
    * fixed while swapping indexes underneath (`graft.tools.Scale
    * ivfprobe`). The codebook is NOT derived here: with adaptive sizing
    * it belongs to the index ([[IvfIndex.open]]), not the query batch.
    */
  def ivfProbeInputs(spark: SparkSession, dir: String): DataFrame =
    waveQueries(embDouble(spark, dir), 0)

  /** The corpus float vectors (vec_id, label, emb, nrm) — the exact
    * re-rank input of the approximate layouts, exposed for the scale
    * harness and the specs.
    */
  def corpusFloats(spark: SparkSession, dir: String): DataFrame =
    embDouble(spark, dir)

  /** Q — the committed compaction entry: file-append wave 1 into a
    * working copy (fragmenting its touched lists), OPTIMIZE into a fresh
    * root ([[IvfIndex.compact]]), probe wave-2 queries against the
    * COMPACTED index. Identical append semantics to
    * `sim_incremental_ivf_append`, so the recompute-from-scratch oracle is
    * shared verbatim — a compaction that dropped, duplicated, or re-listed
    * any vector breaks the hash. [[graft.pipeline.IvfCompactSpec]]
    * additionally pins probe equality pre/post-compaction and the N→1
    * files-per-list collapse.
    */
  def incrementalIvfCompact(spark: SparkSession, dir: String): DataFrame = {
    val (_, opt) = IvfIndex.compactedWorkingIndex(spark, dir)
    IvfIndex.probe(spark, dir, opt, IvfIndex.Float,
      waveQueries(embDouble(spark, dir), IvfSplitMod))
  }

  // ------------------------------- index refresh under distribution drift

  /** Drift of the refresh surface: an incoming wave whose embedding
    * model has shifted — each vector translated by a common anchor,
    * `d = v + DriftShift·1⃗` (the shift is 2⁻³, binary-exact, so both
    * engines derive identical drifted vectors). Strength calibrated on
    * the unit-norm synthetic embeddings (anchor norm ‖0.125·1⃗‖ = 1 ≈
    * ‖v‖): strong enough that the wave sits OFF the frozen-centroid
    * geometry (its assignments split on anchor-vs-residual boundary
    * noise the query's probe ranking does not share), weak enough that
    * within-wave neighbor structure survives for a RETRAINED codebook to
    * capture — the regime where frozen routing measurably loses recall
    * and Lloyd re-training recovers it (a 4× stronger shift re-
    * concentrates everything into one probed list and recall snaps back;
    * measured in the builder's parameter scan).
    */
  val DriftShift = 0.125

  private def driftDF(src: DataFrame): DataFrame = src
    .selectExpr("vec_id",
      s"transform(emb, x -> x + CAST($DriftShift AS DOUBLE)) AS emb")
    .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")

  /** Q — `sim_ivf_refresh` (r15 verdict item 8): quantify what frozen
    * centroids cost under distribution drift, then run the refresh a
    * production index operator would:
    *
    *  1. the DRIFTED wave-1 ([[driftDF]]) is appended to a working copy
    *     of the persisted float index using the FROZEN codebook — the
    *     status-quo ingest path ([[IvfIndex.appendWave]]);
    *  2. drifted wave-2 queries probe the stale index → top-k; recall is
    *     measured against the EXACT brute-force truth over the index
    *     content (hist ∪ drifted wave);
    *  3. the refresh: centroids are RE-TRAINED on the current content
    *     ([[trainedCentroids]]' Lloyd loop — the same machinery as
    *     `sim_ivf_trained`), every stored vector is RE-CODED
    *     (re-assigned) and written into a NEW root published atomically
    *     ([[IvfIndex.refresh]]: the stale index stays fully readable
    *     until one rename);
    *  4. the same queries probe the refreshed index → the after row.
    *
    * Output: one row per phase with EXACT integers
    * `(phase, hits, truth)` — recall numerator/denominator against the
    * shared brute truth, both phases under the hash (a refresh that
    * lost/duplicated a vector, kept stale assignments, or drifted the
    * Lloyd trajectory breaks it). Measured: stale 14/25 → refreshed
    * 25/25 at sf0.01 (16/25 → 25/25 at sf0.001, 17/25 → 25/25 at
    * sf0.1) — the drifted wave routes badly through frozen first-K
    * centroids and fully recovers once Lloyd means cover its region.
    * IvfRefreshSpec pins refreshed > stale and the atomic-publication
    * layout.
    *
    * At 100 TB: the stale append is O(batch + touched lists); the
    * refresh is the expensive path by design — [[KmRounds]] combinable
    * scans + one full re-code shuffle, the cost a deployment pays
    * OFFLINE when drift telemetry (this entry's recall rows) says the
    * codebook no longer fits; publication cost is one rename.
    */
  def ivfRefresh(spark: SparkSession, dir: String): DataFrame = {
    val path = IvfIndex.ensure(spark, dir, IvfIndex.Float)
    val emb = embDouble(spark, dir)
    val wave = driftDF(emb.where(s"vec_id % ${2 * IvfSplitMod} = 0"))
    val queries = driftDF(waveQueries(emb, IvfSplitMod))

    // 1. stale path: frozen-codebook append into a working copy
    val aug = graft.TempDirs.scoped("ivf-refresh") + "/stale"
    graft.TempDirs.copyTree(spark, path, aug)
    IvfIndex.appendWave(spark, aug, IvfIndex.Float,
      IvfIndex.open(spark, aug, IvfIndex.Float), wave)

    // shared exact truth over the index content
    val content = emb.where(s"vec_id % $IvfSplitMod <> 0")
      .select("vec_id", "emb", "nrm").unionByName(wave)
      // consumed by the truth cross-score, Lloyd training (KmRounds + 1
      // assignment passes), and the re-code write — compute once
      .localCheckpoint()
    val truth = content
      .join(broadcast(queries.selectExpr("vec_id AS q_id", "emb AS q_emb",
        "nrm AS q_nrm")))
      .where("vec_id <> q_id")
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)"))
      .where(s"rk <= $TopK")
      .select("q_id", "vec_id")

    val stale = IvfIndex.probe(spark, dir, aug, IvfIndex.Float, queries)

    // 3. the refresh: re-train on current content, re-code, publish new
    //    root atomically
    val refreshed = IvfIndex.probe(spark, dir,
      IvfIndex.refresh(spark, dir, content), IvfIndex.Float, queries)

    val truthN = truth.agg(count(lit(1)).as("truth"))
    def recallRow(phase: String, topk: DataFrame): DataFrame =
      topk.select("q_id", "vec_id").join(truth, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("h"))
        .crossJoin(broadcast(truthN))
        .selectExpr(s"'$phase' AS phase", "CAST(h AS BIGINT) AS hits",
          "CAST(truth AS BIGINT) AS truth")
    recallRow("refreshed", refreshed)
      .unionByName(recallRow("stale", stale))
      .orderBy("phase")
  }

  /** DuckDB replay — no persisted state, so both phases are recomputed
    * from the embeddings table: the drift mix, the frozen-codebook
    * assignment of the augmented content, the Lloyd re-train over the
    * SAME content (quantized-sum means, the [[trainedAssignCtes]]
    * pattern re-rooted at the drifted corpus), both probe pipelines, the
    * brute truth, and the two recall rows.
    */
  val ivfRefreshSql: String = {
    val w = 2 * IvfSplitMod
    val drift = s"list_transform(emb, x -> x + $DriftShift::DOUBLE)"
    def probeCte(centName: String, outName: String): String =
      nearestCte(outName, "q_id, c_id", "q.q_id", s"dq q, $centName c",
        s"<= $NProbe", "q", "q_")
    def topkCte(probeName: String, listName: String, outName: String): String =
      s"""$outName AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT p.q_id, l.vec_id,
         |           row_number() OVER (PARTITION BY p.q_id ORDER BY
         |             round(${cosineSql("q.q_emb", "l.emb", "q.q_nrm", "l.nrm")}, 6) DESC,
         |             l.vec_id) AS rk
         |    FROM $probeName p
         |    JOIN $listName l USING (c_id)
         |    JOIN dq q ON q.q_id = p.q_id
         |    WHERE l.vec_id <> p.q_id)
         |  WHERE rk <= $TopK)""".stripMargin
    s"""WITH $embCte,
       |dwave AS (
       |  SELECT vec_id, emb, sqrt(${normSq("emb")})
       |           AS nrm
       |  FROM (SELECT vec_id, $drift AS emb FROM emb WHERE vec_id % $w = 0)),
       |content AS MATERIALIZED (
       |  SELECT vec_id, emb, nrm FROM emb WHERE vec_id % $IvfSplitMod <> 0
       |  UNION ALL SELECT vec_id, emb, nrm FROM dwave),
       |dq AS (
       |  SELECT vec_id AS q_id, emb AS q_emb,
       |         sqrt(${normSq("emb")}) AS q_nrm
       |  FROM (SELECT vec_id, $drift AS emb FROM emb
       |        WHERE ${wavePred(IvfSplitMod)})),
       |${centCte("centf")},
       |${assignCte("content", "centf", "lists_stale")},
       |${centCte("centr0", from = "content")},
       |${assignCte("content", "centr0", "ra1")},
       |${meanCte("ra1", "centr1")},
       |${assignCte("content", "centr1", "ra2")},
       |${meanCte("ra2", "centr2")},
       |${assignCte("content", "centr2", "lists_ref")},
       |${probeCte("centf", "probes_stale")},
       |${probeCte("centr2", "probes_ref")},
       |${topkCte("probes_stale", "lists_stale", "topk_stale")},
       |${topkCte("probes_ref", "lists_ref", "topk_ref")},
       |truth AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, c.vec_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             round(${cosineSql("q.q_emb", "c.emb", "q.q_nrm", "c.nrm")}, 6) DESC,
       |             c.vec_id) AS rk
       |    FROM dq q, content c WHERE c.vec_id <> q.q_id)
       |  WHERE rk <= $TopK),
       |tn AS (SELECT count(*)::BIGINT AS truth FROM truth),
       |rows AS (
       |  SELECT 'refreshed' AS phase,
       |         (SELECT count(*) FROM topk_ref t
       |          JOIN truth USING (q_id, vec_id))::BIGINT AS hits
       |  UNION ALL
       |  SELECT 'stale',
       |         (SELECT count(*) FROM topk_stale t
       |          JOIN truth USING (q_id, vec_id))::BIGINT)
       |SELECT phase, hits, tn.truth FROM rows, tn ORDER BY phase""".stripMargin
  }

  // ---------------------------------------------- persisted-index oracles

  /** `emb`, the coarse codebook (`cent`, or `gcent` with g_ columns when
    * the PQ sub-codes own c_id), `hist` = the index CONTENT (DuckDB has no
    * persisted index, so `histPred` names it) and `lists` = its rank-1
    * assignment: the head every persisted-index oracle replays.
    */
  private def ivfListsCtes(histPred: String = s"vec_id % $IvfSplitMod <> 0",
      p: String = "c"): String =
    s"""$embCte,
       |${centCte(codebookName(p), p)},
       |${histCte(histPred)},
       |${listsCte(p)}""".stripMargin

  private def codebookName(p: String): String = if (p == "c") "cent" else "gcent"

  private def listsCte(p: String = "c", src: String = "hist"): String =
    nearestCte("lists", s"vec_id, ${p}_id", "h.vec_id",
      s"$src h, ${codebookName(p)} $p", "= 1", "h", p = p)

  /** The `q` queries' [[NProbe]] nearest lists. */
  private def probesCte(p: String = "c"): String =
    nearestCte("probes", s"q_id, ${p}_id", "q.q_id", s"q, ${codebookName(p)} $p",
      s"<= $NProbe", "q", "q_", p)

  /** The exact-probe join of the `q` queries over the float lists. */
  private val floatProbeSelect: String =
    s"""SELECT p.q_id, l.vec_id,
       |       round(${cosineSql("q.q_emb", "e.emb", "q.q_nrm", "e.nrm")}, 6) AS sim
       |FROM probes p
       |JOIN lists l USING (c_id)
       |JOIN emb e ON e.vec_id = l.vec_id
       |JOIN q ON q.q_id = p.q_id
       |WHERE l.vec_id <> p.q_id""".stripMargin

  val streamIncrementalIvfSql: String =
    s"""WITH ${ivfListsCtes()},
       |${qCte(s"vec_id % $IvfSplitMod = 0")},
       |${probesCte()}
       |$floatProbeSelect
       |ORDER BY p.q_id, l.vec_id""".stripMargin

  /** Oracle for the float incremental entries: the same construction from
    * scratch over the `histPred` content (historical corpus for the probe
    * leg; historical ∪ wave 1 for the append leg), wave-`rem` queries.
    */
  private def incrementalIvfSql(histPred: String, rem: Int): String =
    s"""WITH ${ivfListsCtes(histPred)},
       |${qCte(wavePred(rem))},
       |${probesCte()},
       |scored AS (
       |  $floatProbeSelect),
       |${rankedSql("scored")}""".stripMargin

  private val AppendContent =
    s"vec_id % $IvfSplitMod <> 0 OR vec_id % ${2 * IvfSplitMod} = 0"

  val incrementalIvfSqlProbe: String =
    incrementalIvfSql(s"vec_id % $IvfSplitMod <> 0", 0)

  val incrementalIvfSqlAppend: String =
    incrementalIvfSql(AppendContent, IvfSplitMod)

  /** SQ8 quantization of the `lists` rows: per-vector scale `s` and the
    * exact-integer `floor(x·s + 0.5)` components (the [[sq8TopKSql]]
    * arithmetic).
    */
  private def sq8Ctes(l: String, e: String, from: String): String =
    s"""sc AS (SELECT $l.vec_id, $l.c_id, $e.nrm, $e.emb,
       |              ${sq8ScaleSql(s"$e.emb")} AS s
       |       FROM $from),
       |sq AS (SELECT vec_id, c_id, nrm, s,
       |              list_transform(emb, x -> floor(x * s + 0.5)) AS qv
       |       FROM sc)""".stripMargin

  private def sq8ScaleSql(v: String): String =
    s"127.0 / greatest(list_max(list_transform($v, y -> abs(y))), 1e-300)"

  private def sq8AsimSql(q: String): String =
    s"""round(list_sum(list_transform(range(1, ${Dim + 1}),
       |                 i -> s.qv[i] * $q.q_qv[i]))
       |           / (s.s * $q.q_s) / (s.nrm * $q.q_nrm), 6) AS asim""".stripMargin

  val streamIncrementalIvfSq8Sql: String =
    s"""WITH ${ivfListsCtes()},
       |${sq8Ctes("l", "e", "lists l JOIN emb e USING (vec_id)")},
       |${qCte(s"vec_id % $IvfSplitMod = 0")},
       |qq AS (SELECT q_id, q_emb, q_nrm, q_s,
       |              list_transform(q_emb, x -> floor(x * q_s + 0.5)) AS q_qv
       |       FROM (SELECT *,
       |               ${sq8ScaleSql("q_emb")} AS q_s
       |             FROM q)),
       |${probesCte()}
       |SELECT p.q_id, s.vec_id,
       |       ${sq8AsimSql("x")}
       |FROM probes p
       |JOIN sq s USING (c_id)
       |JOIN qq x ON x.q_id = p.q_id
       |WHERE s.vec_id <> p.q_id
       |ORDER BY p.q_id, s.vec_id""".stripMargin

  /** DuckDB replay of the SQ8-index probe over lists of `src` (the
    * persisted index's `hist` content, or the whole corpus for the
    * in-plan [[ivfSq8TopK]]): SQ8 quantization, approximate top-rerankK
    * per query of the `qPred` query set, exact re-rank, top-[[TopK]].
    */
  private def ivfSq8Sql(hist: String, src: String, qPred: String): String =
    s"""WITH $embCte,
       |${centCte("cent")},
       |$hist${listsCte(src = src)},
       |${sq8Ctes("l", "e", "lists l JOIN emb e USING (vec_id)")},
       |${qCte(qPred)},
       |qs AS (SELECT q_id, q_emb, q_nrm,
       |              ${sq8ScaleSql("q_emb")} AS q_s
       |       FROM q),
       |qq AS (SELECT q_id, q_emb, q_nrm, q_s,
       |              list_transform(q_emb, x -> floor(x * q_s + 0.5)) AS q_qv
       |       FROM qs),
       |${probesCte()},
       |approx AS (
       |  SELECT p.q_id, s.vec_id,
       |         ${sq8AsimSql("qq")}
       |  FROM probes p
       |  JOIN sq s USING (c_id)
       |  JOIN qq ON qq.q_id = p.q_id
       |  WHERE s.vec_id <> p.q_id),
       |${cutCte("asim", "approx")},
       |${rerankedCte("qq q")},
       |${rankedSql("reranked")}""".stripMargin

  val incrementalIvfSq8Sql: String = ivfSq8Sql(
    s"${histCte(s"vec_id % $IvfSplitMod <> 0")},\n", "hist", wavePred(0))

  val incrementalIvfSq8AppendSql: String = ivfSq8Sql(
    s"${histCte(AppendContent)},\n", "hist", wavePred(IvfSplitMod))

  /** Full-corpus SQ8-IVF construction for the recall gate: the same
    * quantized-lists + exact-re-rank scoring as the persisted index,
    * built in-plan over the whole corpus so its recall is measured
    * against [[bruteForceTopK]] truth on equal footing with the other
    * families.
    */
  def ivfSq8TopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val m = IvfIndex.Model(coarseCent(emb, nCentroids(spark, dir)))
    val queries = emb.where(s"vec_id < $QuerySetSize")
    val probes = IvfIndex.probesOf(queries, m.cent)
    IvfIndex.topK(IvfIndex.Sq8,
      IvfIndex.Sq8.encode(nearestLists(emb, m.cent, "vec_id", 1), m),
      probes, queries, m, emb, rerankK(corpusStats(spark, dir)._1))
  }

  val ivfSq8TopKSql: String =
    ivfSq8Sql("", "emb", s"vec_id < $QuerySetSize")

  /** Refine multiplier of the PQ-index probe over the family's adaptive
    * [[rerankK]]: PQ codes are ~16× lossier than SQ8 bytes (2-byte codes
    * vs 64), so the ADC pre-cut must keep proportionally more candidates
    * for the exact re-rank to recover code-mis-ranked true neighbors —
    * the FAISS refine `k_factor` knob. Measured on this corpus: recall
    * 60%/48% at ×1 (below the 72% gate) vs ≥ the gate at ×4, while
    * 4·rerankK·Q full-vector reads stay negligible at every scale.
    */
  final val PqIdxRefine = 4

  /** Refine multiplier of the residual probe: ×2 reaches the family's
    * 72% recall gate (measured 72%/72% at sf0.01/sf0.1) — half the
    * raw-code layout's ×[[PqIdxRefine]]; the spec gates this.
    */
  final val PqResRefine = 2

  /** DuckDB CTE chain replaying the PQ-index probe from scratch up to the
    * ADC table: coarse assignment of the `histPred` content, PQ encode
    * (codes as (vec_id, m, c_id) rows — the 16-bit packing is Spark-side
    * storage the unpack inverts exactly), the `qPred` queries' probes and
    * LUT.
    */
  private def ivfPqCtes(histPred: String, qPred: String, qNrm: Boolean): String =
    s"""${ivfListsCtes(histPred, "g")},
       |subs AS (
       |  ${subSelects()}),
       |${pqCentCte("pcent", "subs")},
       |${codesCte("subs s\n    JOIN hist h ON h.vec_id = s.vec_id\n    JOIN pcent c USING (m)")},
       |${qCte(qPred)},
       |${probesCte("g")},
       |${lutCte("subs s\n  JOIN q ON q.q_id = s.vec_id\n  JOIN pcent c USING (m)", qNrm)}""".stripMargin

  val streamIncrementalIvfPqSql: String =
    s"""WITH ${ivfPqCtes(s"vec_id % $IvfSplitMod <> 0", s"vec_id % $IvfSplitMod = 0", qNrm = false)},
       |adcs AS (
       |  SELECT n.q_id, n.vec_id,
       |         sum(l.pq)::BIGINT AS adcq, sum(l.cq)::BIGINT AS rq
       |  FROM (SELECT p.q_id, ls.vec_id
       |        FROM probes p JOIN lists ls USING (g_id)
       |        WHERE ls.vec_id <> p.q_id) n
       |  JOIN codes c ON c.vec_id = n.vec_id
       |  JOIN lut l ON l.q_id = n.q_id AND l.m = c.m AND l.c_id = c.c_id
       |  GROUP BY n.q_id, n.vec_id)
       |SELECT a.q_id, a.vec_id,
       |       round((a.adcq::DOUBLE / $QScale.0)
       |         / (q.q_nrm * sqrt(a.rq::DOUBLE / $QScale.0)), 6) AS asim
       |FROM adcs a JOIN q ON q.q_id = a.q_id
       |ORDER BY a.q_id, a.vec_id""".stripMargin

  /** The PQ-index probe replay: ADC over the probed lists, adaptive
    * ×[[PqIdxRefine]] cut, exact re-rank. Ends in `ranked(q_id, vec_id,
    * sim, rk)` plus `hist`/`q` for callers that need them (the recall
    * gate).
    */
  private def ivfPqIncrCtes(histPred: String, rem: Int): String =
    s"""${ivfPqCtes(histPred, wavePred(rem), qNrm = true)},
       |cand AS (
       |  SELECT p.q_id, l.vec_id
       |  FROM probes p JOIN lists l USING (g_id) WHERE l.vec_id <> p.q_id),
       |adcs AS (
       |  SELECT n.q_id, n.vec_id, max(l.q_nrm) AS q_nrm,
       |         sum(l.pq)::BIGINT AS adcq, sum(l.cq)::BIGINT AS rq
       |  FROM cand n
       |  JOIN codes c ON c.vec_id = n.vec_id
       |  JOIN lut l ON l.q_id = n.q_id AND l.m = c.m AND l.c_id = c.c_id
       |  GROUP BY n.q_id, n.vec_id),
       |${cutCte(adcSimSql, "adcs", s"$PqIdxRefine *")},
       |${rerankedCte("q")},
       |${rankedSql("reranked", select = false)}""".stripMargin

  val incrementalIvfPqSql: String =
    s"""WITH ${ivfPqIncrCtes(s"vec_id % $IvfSplitMod <> 0", 0)}
       |$topKSelect""".stripMargin

  val incrementalIvfPqAppendSql: String =
    s"""WITH ${ivfPqIncrCtes(AppendContent, IvfSplitMod)}
       |$topKSelect""".stripMargin

  /** From-scratch replay of the RESIDUAL-coded probe: coarse assignment,
    * residual codebook/encode (centered slices), raw-query LUT, the
    * per-(query, list) coarse term, stored-norm ADC, refine-×[[PqResRefine]]
    * cut, exact re-rank. With `opq` the permutation is learned IN-QUERY —
    * per-dim quantized residual energies, (energy DESC, dim ASC) ranking,
    * boustrophedon deal — and applied to codebook seeds, stored vectors,
    * and the query LUT slices alike.
    */
  private def ivfPqResSql(histPred: String, rem: Int, opq: Boolean): String = {
    // full residual of the rows selected by assignName against their
    // centroid — feeds BOTH the energy statistic and the permuted slices
    def resFull(assignName: String, outName: String): String =
      s"""$outName AS MATERIALIZED (
         |  SELECT a.vec_id, e.nrm,
         |         list_transform(range(1, ${Dim + 1}),
         |           i -> e.emb[i] - g.g_emb[i]) AS res
         |  FROM $assignName a
         |  JOIN emb e ON e.vec_id = a.vec_id
         |  JOIN gcent g ON g.g_id = a.g_id)""".stripMargin
    // residual subspace m of the rows of assignName: a slice of
    // e − g, or with opq the permuted res[p[m·SubDim + i]]
    def resSubs(assignName: String, outName: String): String = {
      val full = s"rfull_${outName.stripPrefix("rsubs_")}"
      val head = if (opq) s"${resFull(assignName, full)},\n" else ""
      head + (0 until PqM).map { m =>
        val off = m * PqSubDim
        if (opq)
          s"""SELECT r.vec_id, r.nrm, $m AS m,
             |       list_transform(range(1, ${PqSubDim + 1}),
             |         i -> r.res[pt.p[$off + i]]) AS sub
             |FROM $full r, permt pt""".stripMargin
        else
          s"""SELECT a.vec_id, e.nrm, $m AS m,
             |       list_transform(range(1, ${PqSubDim + 1}),
             |         i -> e.emb[$off + i] - g.g_emb[$off + i]) AS sub
             |FROM $assignName a
             |JOIN emb e ON e.vec_id = a.vec_id
             |JOIN gcent g ON g.g_id = a.g_id""".stripMargin
      }.mkString(s"$outName AS (\n", "\n  UNION ALL ", ")")
    }
    val qSubSelects =
      if (!opq) subSelects()
      else (0 until PqM).map { m =>
        val off = m * PqSubDim
        s"""SELECT vec_id, nrm, $m AS m,
           |       list_transform(range(1, ${PqSubDim + 1}),
           |         i -> e.emb[pt.p[$off + i]]) AS sub
           |FROM emb e, permt pt""".stripMargin
      }.mkString("\n  UNION ALL ")
    val rotation =
      if (!opq) ""
      else s"""${nearestCte("permlists", "vec_id, g_id", "e.vec_id",
                s"emb e, gcent g WHERE e.vec_id % $IvfSplitMod <> 0", "= 1", "e", p = "g")},
         |${resFull("permlists", "rfull_t")},
         |ren AS (SELECT i, sum(floor(res[i] * res[i] * $QScale.0 + 0.5))::BIGINT AS en
         |        FROM rfull_t, range(1, ${Dim + 1}) t(i) GROUP BY i),
         |rrk AS (SELECT i, row_number() OVER (ORDER BY en DESC, i ASC) - 1 AS r
         |        FROM ren),
         |rasg AS (SELECT i, r,
         |               CASE WHEN r % ${2 * PqM} < $PqM THEN r % ${2 * PqM}
         |                    ELSE ${2 * PqM - 1} - (r % ${2 * PqM}) END AS sub
         |        FROM rrk),
         |permt AS MATERIALIZED (SELECT list(i ORDER BY sub, r) AS p FROM rasg),
         |""".stripMargin
    s"""WITH ${ivfListsCtes(histPred, "g")},
       |${rotation}nc AS (SELECT count(*)::BIGINT AS n FROM gcent),
       |${nearestCte("cbassign", "vec_id, g_id", "e.vec_id",
            s"emb e, gcent g\n WHERE e.vec_id >= (SELECT n FROM nc)\n AND e.vec_id < (SELECT n FROM nc) + $PqK",
            "= 1", "e", p = "g")},
       |${resSubs("cbassign", "rsubs_cb")},
       |pcentr AS (SELECT m, vec_id - (SELECT n FROM nc) AS c_id, sub AS c_sub
       |           FROM rsubs_cb),
       |${resSubs("lists", "rsubs_h")},
       |${codesCte("rsubs_h s\n    JOIN pcentr c USING (m)")},
       |${qCte(wavePred(rem))},
       |qsubs AS (
       |  $qSubSelects),
       |${probesCte("g")},
       |${lutCte("qsubs s\n  JOIN q ON q.q_id = s.vec_id\n  JOIN pcentr c USING (m)", cq = false)},
       |qc AS (
       |  SELECT p.q_id, p.g_id,
       |         floor(${dotFull("q.q_emb", "g.g_emb")} * $QScale.0 + 0.5)::BIGINT AS qcq
       |  FROM probes p
       |  JOIN q ON q.q_id = p.q_id
       |  JOIN gcent g ON g.g_id = p.g_id),
       |cand AS (
       |  SELECT p.q_id, p.g_id, l.vec_id, h.nrm
       |  FROM probes p
       |  JOIN lists l USING (g_id)
       |  JOIN hist h ON h.vec_id = l.vec_id
       |  WHERE l.vec_id <> p.q_id),
       |adcs AS (
       |  SELECT n.q_id, n.vec_id, max(l.q_nrm) AS q_nrm, max(n.nrm) AS nrm,
       |         max(qc.qcq) AS qcq, sum(l.pq)::BIGINT AS adcq
       |  FROM cand n
       |  JOIN codes c ON c.vec_id = n.vec_id
       |  JOIN lut l ON l.q_id = n.q_id AND l.m = c.m AND l.c_id = c.c_id
       |  JOIN qc ON qc.q_id = n.q_id AND qc.g_id = n.g_id
       |  GROUP BY n.q_id, n.vec_id),
       |${cutCte(s"round(((qcq + adcq)::DOUBLE / $QScale.0)\n / (q_nrm * nrm), 6)", "adcs", s"$PqResRefine *")},
       |${rerankedCte("q")},
       |${rankedSql("reranked")}""".stripMargin
  }

  val incrementalIvfPqResSql: String =
    ivfPqResSql(s"vec_id % $IvfSplitMod <> 0", 0, opq = false)

  val incrementalIvfPqResAppendSql: String =
    ivfPqResSql(AppendContent, IvfSplitMod, opq = false)

  val incrementalIvfPqOpqSql: String =
    ivfPqResSql(s"vec_id % $IvfSplitMod <> 0", 0, opq = true)

  /** Recall floor (percent) of the persisted PQ layout — the in-plan
    * ivfpq gate's threshold ([[RecallGatePct]]): the stored-code layout
    * must not retrieve worse than the same construction computed
    * in-query.
    */
  val IvfPqIdxRecallPct = 72

  /** Retrieval-quality gate for the PERSISTED PQ layout, apples to
    * apples: truth = exact top-[[TopK]] of the wave-1 queries over the
    * INDEX CONTENT (the historical corpus — the only population the
    * index can return), hits = the persisted PQ probe's intersection with
    * that truth, thresholded at [[IvfPqIdxRecallPct]]. Exact integers + a
    * boolean, hash-oracled like [[recallGate]].
    */
  def ivfPqIdxRecallGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val hist = emb.where(s"vec_id % $IvfSplitMod <> 0")
    val q = waveQueries(emb, 0)
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    val bf = hist.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)"))
      .where(s"rk <= $TopK").select("q_id", "vec_id")
    val hits = IvfIndex.search(spark, dir, IvfIndex.Pq).select("q_id", "vec_id")
      .join(bf, Seq("q_id", "vec_id"))
      .agg(count(lit(1)).as("hits"))
    val truth = bf.agg(count(lit(1)).as("truth"))
    hits.crossJoin(broadcast(truth))
      .selectExpr("'ivf_pq_idx' AS method", "hits", "truth",
        s"CAST($IvfPqIdxRecallPct AS BIGINT) AS thr_pct",
        s"hits * 100 >= $IvfPqIdxRecallPct * truth AS ok")
  }

  val ivfPqIdxRecallGateSql: String =
    s"""WITH ${ivfPqIncrCtes(s"vec_id % $IvfSplitMod <> 0", 0)},
       |bf AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, h.vec_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             round(${cosineSql("q.q_emb", "h.emb", "q.q_nrm", "h.nrm")}, 6) DESC,
       |             h.vec_id ASC) AS rk
       |    FROM hist h, q WHERE h.vec_id <> q.q_id)
       |  WHERE rk <= $TopK),
       |pk AS (SELECT q_id, vec_id FROM ranked WHERE rk <= $TopK),
       |h2 AS (SELECT count(*)::BIGINT AS hits FROM pk JOIN bf USING (q_id, vec_id)),
       |t AS (SELECT count(*)::BIGINT AS truth FROM bf)
       |SELECT 'ivf_pq_idx' AS method, h2.hits, t.truth,
       |       $IvfPqIdxRecallPct::BIGINT AS thr_pct,
       |       h2.hits * 100 >= $IvfPqIdxRecallPct * t.truth AS ok
       |FROM h2 CROSS JOIN t""".stripMargin

  // ------------------------- recall gate on a derived ×10 corpus

  /** ×10 in-process corpus replication for [[recallGateX10]] — the Scale
    * harness's replication protocol (key-shifted copies with copy-graded
    * perturbation, NOTES_r2/r11) re-expressed in CROSS-ENGINE-EXACT
    * arithmetic so recall at 10× the corpus becomes a hash-checked
    * invariant instead of a notes-table claim (round-11 verdict item 7).
    * Differences from `Scale gen` forced by oracle replayability:
    * Spark's `hash()` (murmur3) does not exist in DuckDB, so the noise is
    * integer-arithmetic pseudo-random (the [[hpExpr]] precedent):
    * `amp(c) · (((v0·2654435761 + c·40503 + i·97003) mod 1000003)/1000003
    * · 2 − 1)` with `amp(c) = 0.03 + 0.29·((c·37) mod 97)/96` spanning
    * cosine-to-original ≈0.99 (genuine near-neighbor) down to ≈0.6
    * (distractor); each noisy component is then quantized to the 2^-20
    * grid (floor — the k-means QScale trick) so both engines hold
    * bit-identical doubles before any fold.
    */
  val X10Copies = 10

  private def emb10(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val vBase = corpusStats(spark, dir)._2 + 1
    // widen the single-file base scan BEFORE the ×10 explode + per-row
    // vector derivation (BatchSizing: row-derived floor, no-op on a wide
    // scan): the caller caches this frame, and an unwidened cache holds
    // ONE partition — every downstream probe/topk job over the ×10
    // corpus then runs its 50k-row vector math as a chain of SINGLE-TASK
    // jobs (JobDiag: seven ~1.3 s one-task jobs at sf0.1)
    graft.BatchSizing.widen(
        Tables.load(spark, dir, "embeddings"),
        corpusStats(spark, dir)._1)
      .selectExpr("vec_id AS v0",
        s"explode(sequence(0, ${X10Copies - 1})) AS c",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS e0")
      .selectExpr(s"v0 + c * ${vBase}L AS vec_id",
        s"""CASE WHEN c = 0 THEN e0 ELSE transform(sequence(1, $Dim), i ->
           |  floor((element_at(e0, i)
           |    + (0.03 + 0.29 * CAST((c * 37) % 97 AS DOUBLE) / 96.0)
           |    * (CAST((v0 * 2654435761L + c * 40503 + i * 97003) % 1000003 AS DOUBLE)
           |       / 1000003.0 * 2.0 - 1.0))
           |  * 1048576.0 + 0.5) / 1048576.0) END AS emb""".stripMargin)
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
  }

  /** The emb10 corpus as a DuckDB CTE chain ending in `embx` (vec_id,
    * emb, nrm) — byte-for-byte the same vectors as [[emb10]].
    */
  private val emb10Cte: String =
    s"""e0 AS (SELECT vec_id AS v0, embedding::DOUBLE[] AS e0 FROM embeddings),
       |vb AS (SELECT max(v0) + 1 AS v FROM e0),
       |reps AS (SELECT v0, unnest(range(0, $X10Copies)) AS c, e0 FROM e0),
       |embq AS (
       |  SELECT v0 + c * (SELECT v FROM vb) AS vec_id,
       |         CASE WHEN c = 0 THEN e0 ELSE list_transform(range(1, ${Dim + 1}), i ->
       |           floor((e0[i]
       |             + (0.03 + 0.29 * ((c * 37) % 97)::DOUBLE / 96.0)
       |             * (((v0 * 2654435761 + c * 40503 + i * 97003) % 1000003)::DOUBLE
       |                / 1000003.0 * 2.0 - 1.0))
       |           * 1048576.0 + 0.5) / 1048576.0) END AS emb
       |  FROM reps),
       |embx AS (SELECT vec_id, emb,
       |         sqrt(list_sum(list_transform(emb, v -> v * v))) AS nrm
       |         FROM embq)""".stripMargin

  /** Minimum recall@[[TopK]] (percent) of IVF at the ×10 corpus. */
  val RecallGateX10Pct = 60

  /** Retrieval quality AT SCALE as a committed, hash-oracled entry: IVF
    * (corpus-adaptively sized codebook, the committed formula — no env
    * override) vs brute-force truth on the ×10 derived corpus. A quality
    * regression in the index construction at scale — where probed lists
    * hold real neighbor/distractor mixtures rather than sf-toy ones —
    * now flips a hash-checked row instead of only a NOTES table.
    */
  def recallGateX10(spark: SparkSession, dir: String): DataFrame = {
    val emb = emb10(spark, dir).cache()
    val nc = nCentroids(corpusStats(spark, dir)._1 * X10Copies)
    def topk(cand: DataFrame): DataFrame = cand
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)"))
      .where(s"rk <= $TopK").select("q_id", "vec_id")
    val queries = emb.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    val bf = topk(emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
      .cache()
    val cent = coarseCent(emb, nc)
    val assigned = nearestLists(emb, cent, "vec_id", 1)
      .select("vec_id", "emb", "nrm", "c_id")
    val qv = emb.where(s"vec_id < $QuerySetSize")
    val probes = IvfIndex.probesOf(qv, cent)
    val ivf = topk(probes.join(assigned, "c_id")
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim"))
    // the SQ8-stored layout at the same ×10 scale: quantized lists over
    // the same assignment, integer-dot probe, adaptive exact re-rank —
    // recall-at-scale of the quantized index is a gate too, not only the
    // float layout's (round-13, completing verdict item 4's evidence)
    val rerank = rerankK(corpusStats(spark, dir)._1 * X10Copies)
    def layoutTopK(layout: IvfIndex.Layout, m: IvfIndex.Model): DataFrame =
      IvfIndex.topK(layout, layout.encode(assigned, m), probes, qv, m, emb,
        rerank).select("q_id", "vec_id")
    val sq8 = layoutTopK(IvfIndex.Sq8, IvfIndex.Model(cent))
    // the PQ-coded layout at the same ×10 scale: codes over the same
    // assignment, ADC probe, ×PqIdxRefine adaptive exact re-rank —
    // recall-at-scale is now a hash-checked gate for ALL THREE list
    // layouts (round-14, completing the storage-ladder evidence)
    val pq = layoutTopK(IvfIndex.Pq, IvfIndex.Pq.train(emb, cent, nc))
    val truth = bf.agg(count(lit(1)).as("truth"))
    def gateRow(hits: DataFrame, name: String): DataFrame = hits
      .join(bf, Seq("q_id", "vec_id"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(truth))
      .selectExpr(s"'$name' AS method", "hits", "truth",
        s"CAST($RecallGateX10Pct AS BIGINT) AS thr_pct",
        s"hits * 100 >= $RecallGateX10Pct * truth AS ok")
    gateRow(ivf, "ivf_x10").unionByName(gateRow(sq8, "ivf_sq8_x10"))
      .unionByName(gateRow(pq, "ivf_pq_x10"))
      .orderBy("method")
  }

  val recallGateX10Sql: String = {
    val ncSql = centroidsOverride.map(_.toString).getOrElse(
      s"greatest($NCentroidsMin, least($NCentroidsMax, " +
        s"(SELECT count(*) // $ListTarget FROM embx)))")
    // exact re-rank of a cut's candidates to top-k (the recall-gate form)
    def exactTopK(name: String, cut: String): String =
      s"""$name AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT c.q_id, c.vec_id,
         |           row_number() OVER (PARTITION BY c.q_id ORDER BY
         |             round(${cosineSql("qx.q_emb", "e.emb", "qx.q_nrm", "e.nrm")}, 6) DESC,
         |             c.vec_id ASC) AS rk
         |    FROM $cut c
         |    JOIN embx e ON e.vec_id = c.vec_id
         |    JOIN q qx ON qx.q_id = c.q_id)
         |  WHERE rk <= $TopK)""".stripMargin
    def gateRow(method: String, h: String): String =
      s"""SELECT '$method' AS method, $h.hits, t.truth,
         |         $RecallGateX10Pct::BIGINT AS thr_pct,
         |         $h.hits * 100 >= $RecallGateX10Pct * t.truth AS ok
         |  FROM $h CROSS JOIN t""".stripMargin
    s"""WITH $emb10Cte,
       |${qCte(s"vec_id < $QuerySetSize", "embx")},
       |bf AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             round(${cosineSql("q.q_emb", "e.emb", "q.q_nrm", "e.nrm")}, 6) DESC,
       |             e.vec_id ASC) AS rk
       |    FROM embx e, q WHERE e.vec_id <> q.q_id)
       |  WHERE rk <= $TopK),
       |${centCte("cent", from = "embx", limit = ncSql)},
       |${assignCte("embx", "cent", "assigned")},
       |${queryProbesCte("embx e, cent c")},
       |ivf AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT p.q_id, a.vec_id,
       |           row_number() OVER (PARTITION BY p.q_id ORDER BY
       |             round(${cosineSql("p.q_emb", "a.emb", "p.q_nrm", "a.nrm")}, 6) DESC,
       |             a.vec_id ASC) AS rk
       |    FROM probes p JOIN assigned a USING (c_id) WHERE a.vec_id <> p.q_id)
       |  WHERE rk <= $TopK),
       |${sq8Ctes("a", "a", "assigned a")},
       |qq AS (SELECT q_id, q_emb, q_nrm, c_id, q_s,
       |              list_transform(q_emb, x -> floor(x * q_s + 0.5)) AS q_qv
       |       FROM (SELECT *,
       |               ${sq8ScaleSql("q_emb")} AS q_s
       |             FROM probes)),
       |approx AS (
       |  SELECT p.q_id, s.vec_id,
       |         ${sq8AsimSql("p")}
       |  FROM qq p JOIN sq s USING (c_id)
       |  WHERE s.vec_id <> p.q_id),
       |${cutCte("asim", "approx", corpus = "embx")},
       |${exactTopK("sq8", "cut")},
       |subs10 AS (
       |  ${subSelects("embx")}),
       |${pqCentCte("pcent10", "subs10")},
       |${codesCte("subs10 s JOIN pcent10 c USING (m)", "codes10")},
       |${lutCte(s"subs10 s JOIN pcent10 c USING (m)\n  WHERE s.vec_id < $QuerySetSize", name = "lut10")},
       |adcs10 AS (
       |  SELECT n.q_id, n.vec_id, max(l.q_nrm) AS q_nrm,
       |         sum(l.pq)::BIGINT AS adcq, sum(l.cq)::BIGINT AS rq
       |  FROM (SELECT p.q_id, a.vec_id
       |        FROM probes p JOIN assigned a USING (c_id)
       |        WHERE a.vec_id <> p.q_id) n
       |  JOIN codes10 c ON c.vec_id = n.vec_id
       |  JOIN lut10 l ON l.q_id = n.q_id AND l.m = c.m AND l.c_id = c.c_id
       |  GROUP BY n.q_id, n.vec_id),
       |${cutCte(adcSimSql, "adcs10", s"$PqIdxRefine *", "embx", "cut10")},
       |${exactTopK("pqr", "cut10")},
       |h AS (SELECT count(*)::BIGINT AS hits FROM ivf JOIN bf USING (q_id, vec_id)),
       |h2 AS (SELECT count(*)::BIGINT AS hits FROM sq8 JOIN bf USING (q_id, vec_id)),
       |h3 AS (SELECT count(*)::BIGINT AS hits FROM pqr JOIN bf USING (q_id, vec_id)),
       |t AS (SELECT count(*)::BIGINT AS truth FROM bf)
       |SELECT * FROM (
       |  ${gateRow("ivf_x10", "h")}
       |  UNION ALL
       |  ${gateRow("ivf_sq8_x10", "h2")}
       |  UNION ALL
       |  ${gateRow("ivf_pq_x10", "h3")})
       |ORDER BY method""".stripMargin
  }

  // ------------------------------------------------------------- MMR

  /** Candidate pool depth for MMR re-ranking. */
  val MmrPoolK = 20

  /** Diversified picks per query. */
  val MmrK = 5

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversified
    * top-k — the re-rank a RAG serving stack applies so the k retrieved
    * passages aren't k near-copies of the same best hit: greedily pick
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), λ = 0.7.
    *
    * Spark shape: the only corpus-sized work is the exact top-[[MmrPoolK]]
    * pool per query (the [[bruteForceTopK]] scan — swap in any indexed
    * retriever at scale); everything after is bounded by Q·PoolK rows
    * (pool) and Q·PoolK² (pairwise sims), localCheckpoint-ed so the
    * [[MmrK]]−1 greedy rounds iterate tiny tables, the Lloyd-rounds
    * precedent. Scores are integer end-to-end: cosines quantize to
    * [[QScale]] grid BIGINTs (the family's floor(x·2²⁰+0.5) pattern),
    * λ clears to score = 7·relq − 3·divq, ties break on vec_id — so the
    * greedy argmax is replayable exactly by the [[mmrTopKSql]] unrolled
    * CTE stages and shuffle order can't perturb the hash. Round 1 has no
    * selected set; its score is 7·relq by convention (pure relevance).
    */
  def mmrTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = embDouble(spark, dir)
    val queries = corpus.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    val pool = corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id", "emb", "nrm",
        s"CAST(floor(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")} * $QScale.0 + 0.5) AS BIGINT) AS relq")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY relq DESC, vec_id ASC)"))
      .where(s"rk <= $MmrPoolK")
      .select("q_id", "vec_id", "emb", "nrm", "relq")
      .localCheckpoint() // Q·PoolK rows — everything below is pool-bounded
    val psim = pool.selectExpr("q_id", "vec_id AS a_id", "emb AS a_emb", "nrm AS a_nrm")
      .join(pool.selectExpr("q_id", "vec_id AS b_id", "emb AS b_emb", "nrm AS b_nrm"),
        Seq("q_id"))
      .where("a_id <> b_id")
      .selectExpr("q_id", "a_id", "b_id",
        s"CAST(floor(${cosineExpr("a_emb", "b_emb", "a_nrm", "b_nrm")} * $QScale.0 + 0.5) AS BIGINT) AS ps")
      .localCheckpoint() // Q·PoolK² rows
    val cand = pool.select("q_id", "vec_id", "relq")
    def argmax(scored: DataFrame, rk: Int): DataFrame =
      scored.groupBy("q_id")
        .agg(max(expr("named_struct('sc', score, 'nv', -vec_id)")).as("m"))
        .selectExpr("q_id", s"CAST($rk AS BIGINT) AS rk",
          "-m.nv AS vec_id", "m.sc AS score")
    var sel = argmax(cand.selectExpr("q_id", "vec_id", "7 * relq AS score"), 1)
      .localCheckpoint()
    for (r <- 2 to MmrK) {
      val divq = psim
        .join(sel.selectExpr("q_id", "vec_id AS b_id"), Seq("q_id", "b_id"))
        .groupBy("q_id", "a_id").agg(max("ps").as("divq"))
        .withColumnRenamed("a_id", "vec_id")
      val scored = cand
        .join(sel.select("q_id", "vec_id"), Seq("q_id", "vec_id"), "left_anti")
        .join(divq, Seq("q_id", "vec_id"))
        .selectExpr("q_id", "vec_id", "7 * relq - 3 * divq AS score")
      sel = sel.unionByName(argmax(scored, r)).localCheckpoint()
    }
    sel.orderBy("q_id", "rk")
  }

  val mmrTopKSql: String = {
    def qz(cos: String) = s"floor(($cos) * $QScale + 0.5)::BIGINT"
    // greedy stage r: score candidates outside sel<r-1> against it, keep rn=1
    def stage(r: Int): String =
      s"""s$r AS (SELECT q_id, $r::BIGINT AS rk, vec_id, score FROM (
         |  SELECT c.q_id, c.vec_id, 7 * c.relq - 3 * d.divq AS score,
         |         row_number() OVER (PARTITION BY c.q_id
         |           ORDER BY 7 * c.relq - 3 * d.divq DESC, c.vec_id) AS rn
         |  FROM pool c
         |  JOIN (SELECT p.q_id, p.a_id, max(p.ps) AS divq
         |        FROM ps p JOIN sel${r - 1} s
         |          ON p.q_id = s.q_id AND p.b_id = s.vec_id
         |        GROUP BY p.q_id, p.a_id) d
         |    ON c.q_id = d.q_id AND c.vec_id = d.a_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
         |                    WHERE s.q_id = c.q_id AND s.vec_id = c.vec_id)
         |) WHERE rn = 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    s"""WITH $embCte,
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM emb
       |      WHERE vec_id < $QuerySetSize),
       |pool AS (SELECT q_id, vec_id, emb, nrm, relq FROM (
       |  SELECT q_id, vec_id, emb, nrm, relq,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY relq DESC, vec_id) AS rk
       |  FROM (SELECT q.q_id, e.vec_id, e.emb, e.nrm,
       |               ${qz(cosineSql("q.q_emb", "e.emb", "q.q_nrm", "e.nrm"))} AS relq
       |        FROM emb e, q WHERE e.vec_id <> q.q_id))
       |  WHERE rk <= $MmrPoolK),
       |ps AS (SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
       |              ${qz(cosineSql("a.emb", "b.emb", "a.nrm", "b.nrm"))} AS ps
       |       FROM pool a JOIN pool b
       |         ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
       |s1 AS (SELECT q_id, 1::BIGINT AS rk, vec_id, score FROM (
       |  SELECT q_id, vec_id, 7 * relq AS score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY 7 * relq DESC, vec_id) AS rn FROM pool) WHERE rn = 1),
       |sel1 AS (SELECT * FROM s1),
       |${(2 to MmrK).map(stage).mkString(",\n")}
       |SELECT q_id, rk, vec_id, score FROM sel$MmrK ORDER BY q_id, rk""".stripMargin
  }

  // --------------------------------------------------- hard negatives

  /** Picks per role per anchor. */
  val HnK = 5

  /** Hard-negative mining for contrastive training (the data side of
    * triplet/InfoNCE fine-tuning): for each anchor, the [[HnK]] most
    * similar SAME-label vectors are its positives and the [[HnK]] most
    * similar CROSS-label vectors its hard negatives — the near-boundary
    * examples a random-negative sampler almost never draws, which is
    * precisely why mined batches train better (e.g. SimCSE/DPR practice).
    * One broadcast of the anchor batch scores the corpus once; both roles
    * rank in a single window partitioned by (anchor, role), so the mining
    * pass costs exactly one corpus scan regardless of role count — at
    * scale, swap the scan for the IVF probe exactly as [[ivfTopK]] does.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val corpus = embDouble(spark, dir)
    val anchors = corpus.where(s"vec_id < $QuerySetSize")
      .selectExpr("vec_id AS q_id", "label AS q_label",
        "emb AS q_emb", "nrm AS q_nrm")
    corpus.join(broadcast(anchors), col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        "CASE WHEN label = q_label THEN 'positive' ELSE 'hard_negative' END AS role",
        s"round(${cosineExpr("q_emb", "emb", "q_nrm", "nrm")}, 6) AS sim")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY q_id, role ORDER BY sim DESC, vec_id ASC)"))
      .where(s"rk <= $HnK")
      .selectExpr("q_id", "role", "CAST(rk AS BIGINT) AS rk", "vec_id", "sim")
      .orderBy("q_id", "role", "rk")
  }

  val hardNegativesSql: String =
    s"""WITH $embCte,
       |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb,
       |             nrm AS q_nrm
       |      FROM emb WHERE vec_id < $QuerySetSize),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |         CASE WHEN e.label = q.q_label THEN 'positive'
       |              ELSE 'hard_negative' END AS role,
       |         round(${cosineSql("q.q_emb", "e.emb", "q.q_nrm", "e.nrm")}, 6) AS sim
       |  FROM emb e, q WHERE e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, role, vec_id, sim,
       |         row_number() OVER (PARTITION BY q_id, role
       |           ORDER BY sim DESC, vec_id ASC) AS rk
       |  FROM scored)
       |SELECT q_id, role, rk::BIGINT AS rk, vec_id, sim
       |FROM ranked WHERE rk <= $HnK ORDER BY q_id, role, rk""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_filtered_topk" -> filteredTopK,
    "sim_mmr_topk" -> mmrTopK,
    "sim_hard_negatives" -> hardNegatives,
    "sim_bruteforce_topk" -> bruteForceTopK,
    "sim_bruteforce_agg_topk" -> bruteForceAggTopK,
    "sim_lsh_topk" -> lshTopK,
    "sim_lsh_multi_topk" -> lshMultiTopK,
    "sim_ivf_topk" -> ivfTopK,
    "sim_ivf2_topk" -> ivf2TopK,
    "sim_ivf_trained_topk" -> ivfTrainedTopK,
    "pipeline_cluster_mix" -> clusterMix,
    "pipeline_decontaminate_semantic_indexed" -> decontaminateSemanticIndexed,
    "sim_pq_topk" -> pqTopK,
    "sim_sq8_topk" -> sq8TopK,
    "sim_ivfpq_topk" -> ivfPqTopK,
    "sim_recall_gate" -> recallGate,
    "sim_recall_gate_x10" -> recallGateX10,
    "sim_incremental_ivf" -> (IvfIndex.search(_, _, IvfIndex.Float)),
    "sim_incremental_ivf_sq8" -> (IvfIndex.search(_, _, IvfIndex.Sq8)),
    "sim_incremental_ivf_sq8_append" -> (IvfIndex.append(_, _, IvfIndex.Sq8)),
    "stream_incremental_ivf_sq8" -> (IvfIndex.stream(_, _, IvfIndex.Sq8)),
    "sim_incremental_ivf_pq" -> (IvfIndex.search(_, _, IvfIndex.Pq)),
    "sim_incremental_ivf_pq_res" -> (IvfIndex.search(_, _, IvfIndex.PqRes)),
    "sim_incremental_ivf_opq" -> (IvfIndex.search(_, _, IvfIndex.Opq)),
    "sim_incremental_ivf_pq_res_append" -> (IvfIndex.append(_, _, IvfIndex.PqRes)),
    "sim_incremental_ivf_pq_append" -> (IvfIndex.append(_, _, IvfIndex.Pq)),
    "stream_incremental_ivf_pq" -> (IvfIndex.stream(_, _, IvfIndex.Pq)),
    "sim_ivfpq_idx_recall_gate" -> ivfPqIdxRecallGate,
    "sim_incremental_ivf_append" -> (IvfIndex.append(_, _, IvfIndex.Float)),
    "sim_incremental_ivf_compact" -> incrementalIvfCompact,
    "sim_ivf_refresh" -> ivfRefresh,
    "stream_incremental_ivf" -> (IvfIndex.stream(_, _, IvfIndex.Float)),
    "sim_semdedup" -> semDedup,
    "dedup_embedding_cosine" -> embeddingNearDup)

  val oracles: Map[String, String] = Map(
    "sim_filtered_topk" -> filteredTopKSql,
    "sim_mmr_topk" -> mmrTopKSql,
    "sim_hard_negatives" -> hardNegativesSql,
    "sim_bruteforce_topk" -> bruteForceTopKSql,
    // window-free construction, identical output — shared oracle
    "sim_bruteforce_agg_topk" -> bruteForceTopKSql,
    "sim_lsh_topk" -> lshTopKSql,
    "sim_lsh_multi_topk" -> lshMultiTopKSql,
    "sim_ivf_topk" -> ivfTopKSql,
    "sim_ivf2_topk" -> ivf2TopKSql,
    "sim_ivf_trained_topk" -> ivfTrainedTopKSql,
    "pipeline_cluster_mix" -> clusterMixSql,
    "pipeline_decontaminate_semantic_indexed" -> decontaminateSemanticIndexedSql,
    "sim_pq_topk" -> pqTopKSql,
    "sim_sq8_topk" -> sq8TopKSql,
    "sim_ivfpq_topk" -> ivfPqTopKSql,
    "sim_recall_gate" -> recallGateSql,
    "sim_recall_gate_x10" -> recallGateX10Sql,
    "sim_incremental_ivf" -> incrementalIvfSqlProbe,
    "sim_incremental_ivf_sq8" -> incrementalIvfSq8Sql,
    "sim_incremental_ivf_sq8_append" -> incrementalIvfSq8AppendSql,
    "stream_incremental_ivf_sq8" -> streamIncrementalIvfSq8Sql,
    "sim_incremental_ivf_pq" -> incrementalIvfPqSql,
    "sim_incremental_ivf_pq_res" -> incrementalIvfPqResSql,
    "sim_incremental_ivf_opq" -> incrementalIvfPqOpqSql,
    "sim_incremental_ivf_pq_res_append" -> incrementalIvfPqResAppendSql,
    "sim_incremental_ivf_pq_append" -> incrementalIvfPqAppendSql,
    "stream_incremental_ivf_pq" -> streamIncrementalIvfPqSql,
    "sim_ivfpq_idx_recall_gate" -> ivfPqIdxRecallGateSql,
    "sim_incremental_ivf_append" -> incrementalIvfSqlAppend,
    // identical append semantics (file-append + OPTIMIZE instead of
    // merge-upsert), so the recompute-from-scratch oracle is shared
    "sim_incremental_ivf_compact" -> incrementalIvfSqlAppend,
    "sim_ivf_refresh" -> ivfRefreshSql,
    "stream_incremental_ivf" -> streamIncrementalIvfSql,
    "sim_semdedup" -> semDedupSql,
    "dedup_embedding_cosine" -> embeddingNearDupSql)
}

/** Bounded per-group top-k as a typed `Aggregator` (registered as
  * `graft_topk(sim, id)`): the buffer holds at most [[Similarity.TopK]]
  * (sim, id) pairs ordered by (sim DESC, id ASC) — map-side combinable,
  * so a rank window's partition-wide sort shuffle is replaced by
  * partial-reduced ≤ k-row partials per group per partition. Determinism:
  * sims arrive pre-rounded (the family's round(·, 6) discipline) and ties
  * break on id, exactly the window form's ORDER BY.
  */
object TopKAgg extends org.apache.spark.sql.expressions.Aggregator[
    (Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
  private def insert(b: Seq[(Double, Long)], v: (Double, Long)): Seq[(Double, Long)] =
    if (b.size >= Similarity.TopK && !better(v, b.last)) b
    else {
      val nb = (b :+ v).sortWith(better)
      if (nb.size > Similarity.TopK) nb.take(Similarity.TopK) else nb
    }
  def zero: Seq[(Double, Long)] = Vector.empty
  def reduce(b: Seq[(Double, Long)], v: (Double, Long)): Seq[(Double, Long)] =
    insert(b, v)
  def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    b.foldLeft(a)(insert)
  def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = b
  def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()

  /** Register as `graft_topk(sim, id)` for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.udf.register("graft_topk", org.apache.spark.sql.functions.udaf(this))
}
