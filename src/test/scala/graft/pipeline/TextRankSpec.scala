package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** TextRank invariants: full node coverage, the damping floor, bounded
  * total mass under integer truncation, and determinism. Cross-engine
  * value equality is the driver oracle's job.
  */
class TextRankSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("ranks cover the vocabulary, respect the floor, conserve mass") {
    val rows = TextRank.textrank(spark, dir).collect()
    val vocab = graft.Tables.load(spark, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS w").where("w <> ''")
      .distinct().count()
    assert(rows.length == vocab, "one rank row per vocabulary word")
    val n = rows.length
    val base15 = (15L * (TextRank.Qp / n)) / 100L
    rows.foreach { r =>
      assert(r.getLong(1) >= base15,
        s"'${r.getString(0)}' below the damping floor")
    }
    val mass = rows.map(_.getLong(1)).sum
    // integer truncation only LOSES mass (≤ 1 unit per edge per round)
    assert(mass <= TextRank.Qp + n,
      s"mass $mass exceeds the invariant total")
    assert(mass >= TextRank.Qp / 2, s"mass $mass collapsed")
    // presentation order: non-increasing rank
    val rs = rows.map(_.getLong(1))
    assert(rs.zip(rs.tail).forall { case (a, b) => a >= b })
  }

  test("rank computation is deterministic across runs") {
    val a = TextRank.textrank(spark, dir).collect().map(_.toSeq).toSeq
    val b = TextRank.textrank(spark, dir).collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
