package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** DoReMi-lite weight-learning contracts (r14 verdict item 6): exact
  * multiplicative-weights algebra, clamping, and the committed entry's
  * live learning dynamics (both up- and down-weighted clusters must
  * exist, verdicts must re-derive from the emitted weights).
  */
class LearnedMixSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("updateWeights: exact integer ratio, neutral on empty clusters, " +
    "clamped per round and overall") {
    val w0 = Map(0L -> 32768L, 1L -> 32768L, 2L -> 32768L, 3L -> 2000L)
    // totals: ltot = 90+20+0 = 110, nacc = 10+20+10 = 40
    // cluster 0: r = 256·(90+10)·40/(10·(110+40)) = 1024000/1500 = 682
    //   → clamped to 2·Scale = 512 → w = 32768·512/256 = 65536 (= WMax)
    // cluster 1: r = 256·(20+20)·40/(20·150) = 409600/3000 = 136 (floor)
    //   → inside [128, 512] → w = 32768·136/256 = 17408
    // cluster 2: no sampled rows → r = Scale → unchanged
    // cluster 3: r = 256·(0+10)·40/(10·150) = 68 → clamped to Scale/2 =
    //   128 → 2000·128/256 = 1000 → floored at WMin 1024
    val stats = Map(
      0L -> ((90L, 10L)), 1L -> ((20L, 20L)), 3L -> ((0L, 10L)))
    val w1 = LearnedMix.updateWeights(w0, stats)
    assert(w1(0L) == 65536L)
    assert(w1(1L) == 17408L)
    assert(w1(2L) == 32768L)
    assert(w1(3L) == 1024L)
  }

  test("entry: both up- and down-weighted clusters are live, verdicts " +
    "re-derive from the emitted weights, weights stay clamped") {
    val rows = LearnedMix.query(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._2).map { case (c, rs) =>
      c -> rs.head._4
    }
    assert(byCluster.values.exists(_ > LearnedMix.W0),
      s"no cluster was up-weighted: $byCluster")
    assert(byCluster.values.exists(_ < LearnedMix.W0),
      s"no cluster was down-weighted: $byCluster")
    assert(byCluster.values.forall(w =>
      w >= LearnedMix.WMin && w <= LearnedMix.WMax))
    rows.foreach { case (doc, c, loss, w, kept) =>
      assert(loss >= 0L && loss <= LearnedMix.LossCap)
      val u = (((doc + (LearnedMix.Rounds + 1) * 1000003L) % 2147483647L) *
        2654435761L) % 2147483647L % 65536L
      assert(kept == (u < w),
        s"doc $doc cluster $c: verdict must re-derive from w_final")
    }
  }
}
