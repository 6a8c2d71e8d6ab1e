package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Greedy-replay and diversity-property gates for the MMR re-ranker. */
class MmrSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("greedy MMR replay: operator matches brute-force greedy on the real pool") {
    // independent replay: pull the quantized pool + pairwise sims via SQL,
    // run the greedy loop in plain Scala, demand identical picks
    graft.functions.VectorExpressions.register(spark)
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    emb.createOrReplaceTempView("e_spec")
    val q = Similarity.QScale
    val pool = spark.sql(
      s"""SELECT q_id, vec_id, relq FROM (
         |  SELECT q_id, vec_id, relq, row_number() OVER (
         |    PARTITION BY q_id ORDER BY relq DESC, vec_id) AS rk
         |  FROM (SELECT q.vec_id AS q_id, e.vec_id,
         |          CAST(floor(graft_dot(q.emb, e.emb) / (q.nrm * e.nrm) * $q.0 + 0.5) AS BIGINT) AS relq
         |        FROM e_spec e JOIN e_spec q
         |          ON q.vec_id < ${Similarity.QuerySetSize} AND e.vec_id <> q.vec_id))
         |WHERE rk <= ${Similarity.MmrPoolK}""".stripMargin).collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val vecs = emb.collect()
      .map(r => (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2)))).toMap
    def qsim(a: Long, b: Long): Long = {
      val (va, na) = vecs(a); val (vb, nb) = vecs(b)
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      math.floor(dot / (na * nb) * q + 0.5).toLong
    }
    val expected = pool.flatMap { case (qid, cands) =>
      var sel = Vector.empty[(Long, Long)] // (vec_id, score)
      for (_ <- 1 to Similarity.MmrK) {
        val scored = cands.toSeq.filterNot(c => sel.exists(_._1 == c._1)).map {
          case (v, rel) =>
            val div = if (sel.isEmpty) 0L else sel.map(s => qsim(v, s._1)).max
            v -> (7 * rel - 3 * div)
        }
        val best = scored.minBy { case (v, sc) => (-sc, v) }
        sel :+= best
      }
      sel.zipWithIndex.map { case ((v, sc), i) => (qid, (i + 1).toLong, v, sc) }
    }.toSet
    val got = Similarity.mmrTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"MMR picks diverge from greedy replay:\nextra=${got -- expected}\nmissing=${expected -- got}")
  }

  test("diversity is live: MMR ranking differs from pure relevance top-k") {
    val mmr = Similarity.mmrTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rel = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(mmr.keySet == rel.keySet, "same (query, rank) surface")
    // rank 1 is pure relevance in both — must agree; beyond it the
    // diversity term must actually change at least one pick
    mmr.keys.filter(_._2 == 1L).foreach(k => assert(mmr(k) == rel(k)))
    assert(mmr.exists { case (k, v) => rel(k) != v },
      "MMR never diverged from relevance ranking — diversity term is vacuous")
  }
}
