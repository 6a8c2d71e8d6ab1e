package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Asymmetric containment search: find every corpus document B that
  * CONTAINS a query fragment A, where containment is over distinct word
  * 3-shingles — C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)|. This is the capability
  * Jaccard-threshold dedup ([[Dedup]]) structurally misses: a short excerpt
  * inside a long document has tiny Jaccard but containment ≈ 1. It is the
  * shape of excerpt/quote detection and of contamination checks where the
  * probe is a benchmark item and the corpus is the 100 TB training set.
  *
  * Spark-first shape:
  *  - the corpus side is an inverted shingle index (distinct (doc_id, s) —
  *    one explode + one distinct shuffle), built once; the probe side is
  *    tiny and broadcasts through every join;
  *  - candidate generation uses PREFIX FILTERING (the PPJoin lemma, as in
  *    [[Multimodal.clipNearDup]], here in its asymmetric form): if
  *    C(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so ANY (|A| − ⌈t·|A|⌉ + 1)-subset
  *    of A's shingles intersects B — probing the index with only that
  *    prefix is provably complete. The prefix is chosen rarest-first
  *    (ascending corpus df, then shingle) so the candidate fan-out is the
  *    smallest the lemma allows; fragment shingles absent from the corpus
  *    (df 0) sort first and generate zero candidates, exactly as they
  *    should;
  *  - one exact intersection count per surviving candidate pair; the
  *    threshold test is integer (5·inter ≥ 4·|A|), no floats anywhere.
  *
  * The synthetic corpus contains no genuine excerpt pairs, so (the
  * [[CorpusOps.piiRedact]] precedent) the query fragments are DERIVED
  * deterministically from every 50th document, in three grades: a pure
  * 60%-prefix excerpt (C = 1 against its source), the same excerpt with
  * ONE mid word replaced (C just under 1 — passes, exercising the
  * threshold strictly between 0.8 and 1), and a heavily corrupted variant
  * with every 4th word replaced (~75% of shingles broken, C ≈ 0.25 —
  * fails). Both verdict classes and the non-trivial pass band are live;
  * the DuckDB oracle recomputes containment BRUTE-FORCE over all
  * (fragment, document) pairs, so the hash gate also proves the prefix
  * filter lost no pair.
  */
object Containment {

  /** Every `SrcMod`-th document seeds the three fragment grades. */
  val SrcMod = 50

  /** Word-array fragment derivation, shared shape in both engines:
    * m = ⌊3·|w|/5⌋ prefix words; grade 0 pure, grade 1 one mid word
    * replaced by the out-of-vocabulary marker, grade 2 every 4th word.
    */
  private def fragGrade(grade: Int): String = {
    val pick = grade match {
      case 0 => "element_at(w0, i)"
      case 1 => "CASE WHEN i = mid THEN 'zzq' ELSE element_at(w0, i) END"
      case 2 => "CASE WHEN i % 4 = 1 THEN 'zzq' ELSE element_at(w0, i) END"
    }
    s"named_struct('frag_id', doc_id * 4 + $grade, " +
      s"'fws', transform(sequence(1, m), i -> $pick))"
  }

  /** Distinct word-3-shingle explode over an array column. */
  private def shingles(arr: String): String =
    s"explode(transform(sequence(1, size($arr) - 2), i -> concat(" +
      s"element_at($arr, i), ' ', element_at($arr, i + 1), ' ', element_at($arr, i + 2)))) AS s"

  def containment(spark: SparkSession, dir: String): DataFrame = {
    // widen the single-file scan before the shingle explodes (corpus side
    // AND fragment derivation — both otherwise one serial task each);
    // every downstream agg/join/window is keyed with deterministic
    // tie-breaks, so partitioning is invisible to the result
    // (BatchSizing — no-op on a wide scan)
    val docs = graft.BatchSizing.widen(
      Tables.load(spark, dir, "documents"),
      graft.pipeline.Dedup.docsStats(spark, dir).rows)
    val corpusSh = docs.selectExpr("doc_id", "split(text, ' ') AS ws")
      .where("size(ws) >= 3")
      .selectExpr("doc_id", shingles("ws"))
      .distinct()
    val dfTab = corpusSh.groupBy("s").agg(count(lit(1)).as("df"))
    val frags = docs.where(s"doc_id % $SrcMod = 0")
      .selectExpr("doc_id", "split(text, ' ') AS w0")
      .where("size(w0) >= 10")
      // CAST back to INT: `div` yields BIGINT, but sequence+element_at
      // lambda indices must be INT
      .selectExpr("doc_id", "w0", "CAST((3 * size(w0)) div 5 AS INT) AS m")
      .selectExpr("doc_id", "w0", "m", "CAST(m div 2 AS INT) AS mid")
      .selectExpr(s"explode(array(${fragGrade(0)}, ${fragGrade(1)}, ${fragGrade(2)})) AS f")
      .selectExpr("f.frag_id AS frag_id", "f.fws AS fws")
    val fragSh = frags.selectExpr("frag_id", shingles("fws")).distinct()
    val aSize = fragSh.groupBy("frag_id").agg(count(lit(1)).as("asize"))
    // rarest-first prefix: |A| - ceil(t·|A|) + 1 shingles suffice (lemma)
    val prefix = fragSh.join(dfTab, Seq("s"), "left")
      .selectExpr("frag_id", "s", "coalesce(df, CAST(0 AS BIGINT)) AS df")
      .withColumn("rn", expr(
        "row_number() OVER (PARTITION BY frag_id ORDER BY df ASC, s ASC)"))
      .join(aSize, "frag_id")
      .where("rn <= asize - (4 * asize + 4) div 5 + 1")
      .select("frag_id", "s")
    val cands = prefix.join(corpusSh, "s")
      .select("frag_id", "doc_id").distinct()
    val inter = cands
      .join(fragSh, "frag_id")
      .join(corpusSh, Seq("doc_id", "s"))
      .groupBy("frag_id", "doc_id").agg(count(lit(1)).as("inter"))
    inter.join(aSize, "frag_id")
      .where("5 * inter >= 4 * asize")
      .select("frag_id", "doc_id", "inter", "asize")
      .orderBy("frag_id", "doc_id")
  }

  val containmentSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |csh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
       |              FROM ws WHERE len(w) >= 3)),
       |f0 AS (SELECT doc_id, w, (3 * len(w)) // 5 AS m, ((3 * len(w)) // 5) // 2 AS mid
       |       FROM ws WHERE doc_id % $SrcMod = 0 AND len(w) >= 10),
       |fw AS (
       |  SELECT doc_id * 4 AS frag_id,
       |         list_transform(range(1, m + 1), i -> w[i]) AS fws FROM f0
       |  UNION ALL
       |  SELECT doc_id * 4 + 1,
       |         list_transform(range(1, m + 1),
       |           i -> CASE WHEN i = mid THEN 'zzq' ELSE w[i] END) FROM f0
       |  UNION ALL
       |  SELECT doc_id * 4 + 2,
       |         list_transform(range(1, m + 1),
       |           i -> CASE WHEN i % 4 = 1 THEN 'zzq' ELSE w[i] END) FROM f0),
       |fsh AS (SELECT DISTINCT frag_id, fws[i] || ' ' || fws[i+1] || ' ' || fws[i+2] AS s
       |        FROM (SELECT frag_id, fws, unnest(range(1, len(fws) - 1)) AS i FROM fw)),
       |a AS (SELECT frag_id, count(*) AS asize FROM fsh GROUP BY frag_id),
       |i AS (SELECT f.frag_id, c.doc_id, count(*) AS inter
       |      FROM fsh f JOIN csh c ON f.s = c.s GROUP BY f.frag_id, c.doc_id)
       |SELECT i.frag_id, i.doc_id, i.inter, a.asize
       |FROM i JOIN a USING (frag_id)
       |WHERE 5 * i.inter >= 4 * a.asize
       |ORDER BY frag_id, doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_containment" -> ((s: SparkSession, d: String) => containment(s, d)))

  val oracles: Map[String, String] = Map(
    "dedup_containment" -> containmentSql)
}
