package graft.pipeline

import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** [[RankedOrder]] against the `orderBy` it replaced: for every Retrieval
  * and Similarity top-k entry it orders, the same rows in the same order,
  * compared in order, at sf0.001.
  */
class RankedOrderSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val queryRank = Seq("query_id", "rk")
  private val qRank = Seq("q_id", "rk")

  private val entries: Seq[(String, Seq[String])] =
    Seq("text_bm25_topk", "text_bm25_index_topk", "text_bm25_append",
      "text_bm25_blockmax", "text_bm25_blockmax_append",
      "text_bm25_blockmax_skewed", "text_hybrid_rrf", "text_hybrid_rrf_indexed",
      "text_phrase_search", "text_phrase_index").map(_ -> queryRank) ++
      Seq("sim_bruteforce_topk", "sim_bruteforce_agg_topk", "sim_filtered_topk",
        "sim_lsh_topk", "sim_lsh_multi_topk", "sim_ivf_topk", "sim_ivf2_topk",
        "sim_ivf_trained_topk", "sim_sq8_topk", "sim_pq_topk", "sim_ivfpq_topk",
        "sim_mmr_topk", "sim_incremental_ivf", "sim_incremental_ivf_sq8",
        "sim_incremental_ivf_pq", "sim_incremental_ivf_pq_res",
        "sim_incremental_ivf_opq", "sim_incremental_ivf_append").map(_ -> qRank) :+
      ("sim_hard_negatives" -> Seq("q_id", "role", "rk"))

  test("every listed entry's output is ordered by RankedOrder") {
    entries.foreach { case (name, _) =>
      val root = SparkEntry.queries(name)(spark, dir).queryExecution.logical
      val ranked = root match {
        case s: Sort => !s.global && (s.child match {
          case r: Repartition => r.numPartitions == 1 && !r.shuffle
          case _ => false
        })
        case _ => false
      }
      assert(ranked, s"$name: plan root is not RankedOrder's:\n$root")
      spark.catalog.clearCache()
    }
  }

  test("RankedOrder returns orderBy's rows in orderBy's order") {
    entries.foreach { case (name, keys) =>
      val df = SparkEntry.queries(name)(spark, dir)
      val got = df.collect().toSeq
      val want = df.orderBy(keys.head, keys.tail: _*).collect().toSeq
      assert(got.nonEmpty, s"$name: no rows")
      assert(got == want, s"$name: RankedOrder differs from orderBy")
      spark.catalog.clearCache()
    }
  }
}
