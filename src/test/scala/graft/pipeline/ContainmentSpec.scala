package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Brute-force replay of the containment search — proves the prefix
  * filter loses no qualifying pair (completeness is a lemma; this checks
  * the implementation of it) and that all three fragment grades behave.
  */
class ContainmentSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def shingleSet(ws: Seq[String]): Set[String] =
    if (ws.size < 3) Set.empty
    else (0 to ws.size - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet

  test("operator equals brute-force containment over all (fragment, doc) pairs") {
    val docs = graft.Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    // replay the fragment derivation exactly (1-based positions)
    val frags: Map[Long, Seq[String]] = docs
      .filter { case (id, w) => id % Containment.SrcMod == 0 && w.size >= 10 }
      .flatMap { case (id, w) =>
        val m = 3 * w.size / 5
        val mid = m / 2
        val pure = (1 to m).map(i => w(i - 1))
        val midw = (1 to m).map(i => if (i == mid) "zzq" else w(i - 1))
        val noisy = (1 to m).map(i => if (i % 4 == 1) "zzq" else w(i - 1))
        Seq(id * 4 -> pure, id * 4 + 1 -> midw, id * 4 + 2 -> noisy)
      }
    val corpusSh = docs.map { case (id, w) => id -> shingleSet(w) }
    val expected = (for {
      (fid, fw) <- frags
      fsh = shingleSet(fw)
      (did, dsh) <- corpusSh
      inter = (fsh & dsh).size.toLong
      if fsh.nonEmpty && 5 * inter >= 4 * fsh.size
    } yield (fid, did, inter, fsh.size.toLong)).toSet
    val got = Containment.containment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"prefix-filtered search diverges from brute force:\n" +
        s"extra=${got -- expected}\nmissing=${expected -- got}")
    // grade liveness: every pure fragment finds its source at C = 1
    val pure = frags.keys.filter(_ % 4 == 0)
    pure.foreach { fid =>
      val self = got.find(g => g._1 == fid && g._2 == fid / 4)
      assert(self.exists(g => g._3 == g._4),
        s"pure fragment $fid must contain-match its source with C = 1")
    }
    assert(got.exists(g => g._3 < g._4),
      "one-word-corrupted grade must exercise the (0.8, 1) band")
    assert(frags.keys.filter(_ % 4 == 2).forall(fid => !got.exists(_._1 == fid)),
      "heavily corrupted grade must fall below the threshold")
  }
}
