package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Determinism, epoch independence, and shard-balance contracts of the
  * epoch-shuffle shard writer on the committed entry's surface.
  */
class EpochShuffleSpec extends AnyFunSuite with SparkSpec {

  private lazy val rows =
    EpochShuffle.query(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5),
        r.getLong(6)))

  test("the permutation is deterministic and epochs differ") {
    val again = EpochShuffle.query(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(rows.sameElements(again), "re-running must reproduce the order")
    val byEpoch = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._5).map(_._2).toSeq).toMap
    assert(byEpoch(0L) != byEpoch(1L),
      "epoch reseeding must produce a different permutation")
    assert(byEpoch(0L).sorted == byEpoch(1L).sorted,
      "every doc appears exactly once per epoch")
  }

  test("steps interleave shards and positions are gapless per shard") {
    rows.groupBy(r => (r._1, r._3)).foreach { case ((_, shard), g) =>
      val pos = g.map(_._4).sorted
      assert(pos.toSeq == (1L to pos.length).toSeq, s"shard $shard gapless")
      g.foreach { case (_, _, s, p, step) =>
        assert(step == (p - 1) * EpochShuffle.EsShards + s)
      }
    }
  }

  test("hash-mod sharding balances doc counts within 3x of even") {
    val even = rows.length.toDouble / (2 * EpochShuffle.EsShards)
    rows.groupBy(r => (r._1, r._3)).foreach { case (k, g) =>
      assert(g.length < 3 * even && g.length > even / 3,
        s"shard $k count ${g.length} vs even $even")
    }
  }
}
