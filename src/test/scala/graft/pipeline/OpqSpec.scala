package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** OPQ rotation contracts (r14 verdict item 8): the learned permutation
  * is a true orthogonal reorder balancing per-subspace residual energy,
  * it persists with the index and round-trips, and the rotated layout's
  * recall is ≥ the residual family's at equal bytes and equal re-rank IO.
  */
class OpqSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("the learned rotation is a permutation, balances subspace energy " +
    "vs the identity layout, and round-trips through the index") {
    val path = IvfIndex.ensure(spark, dir, IvfIndex.Opq)
    val persisted = IvfIndex.open(spark, path, IvfIndex.Opq).perm
    assert(persisted.sorted == (0 until Similarity.Dim),
      "the rotation must be a permutation of the dimensions")
    val emb = Similarity.corpusFloats(spark, dir)
    val cent = IvfIndex.open(spark, path, IvfIndex.Opq).cent
      .selectExpr("c_id", "c_emb", "c_nrm")
    val hist = emb.where(s"vec_id % ${Similarity.IvfSplitMod} <> 0")
    // determinism + persistence: retraining reproduces the stored artifact
    assert(IvfIndex.opqPermutation(hist, cent) == persisted)
    // independent replica of the allocation: rank by (energy desc, dim),
    // deal boustrophedon, compare subspace balance against identity
    val energies = IvfIndex.opqEnergies(hist, cent)
    val m = Similarity.PqM; val sd = Similarity.PqSubDim
    def spread(alloc: Seq[Seq[Int]]): Long = {
      val sums = alloc.map(_.map(energies).sum)
      sums.max - sums.min
    }
    val identity = (0 until m).map(s => (s * sd until (s + 1) * sd).toSeq)
    val learned = (0 until m).map(s =>
      persisted.slice(s * sd, (s + 1) * sd).toSeq)
    assert(learned.forall(_.size == sd),
      "every subspace must receive exactly PqSubDim dims")
    assert(spread(learned) <= spread(identity),
      s"learned allocation spread ${spread(learned)} must not exceed " +
        s"identity's ${spread(identity)}")
  }

  test("recall at equal bytes and equal refine: OPQ ≥ the residual family") {
    import org.apache.spark.sql.functions._
    val emb = Similarity.corpusFloats(spark, dir)
    val hist = emb.where(s"vec_id % ${Similarity.IvfSplitMod} <> 0")
    val q = emb.where(s"vec_id % ${2 * Similarity.IvfSplitMod} = 0 AND " +
        s"vec_id < ${2L * Similarity.IvfSplitMod * Similarity.QuerySetSize}")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    val truth = hist.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        "round(graft_dot(q_emb, emb) / (q_nrm * nrm), 6) AS sim")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)"))
      .where(s"rk <= ${Similarity.TopK}")
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(df: org.apache.spark.sql.DataFrame): Int =
      df.select("q_id", "vec_id").collect()
        .count(r => truth.contains((r.getLong(0), r.getLong(1))))
    val opq = hits(IvfIndex.search(spark, dir, IvfIndex.Opq))
    val res = hits(IvfIndex.search(spark, dir, IvfIndex.PqRes))
    assert(truth.nonEmpty && opq > 0)
    // one-hit tolerance: energy balancing improves recall in EXPECTATION,
    // not pointwise — a testdata regeneration may cost a single hit with
    // no code defect (r15 ADVICE). The absolute floor still binds via
    // sim_ivfpq_idx_recall_gate's hash-checked entry.
    assert(opq >= res - 1,
      s"OPQ recall ($opq/${truth.size}) must not trail the residual " +
        s"family's ($res/${truth.size}) by more than 1 at equal bytes")
  }
}
