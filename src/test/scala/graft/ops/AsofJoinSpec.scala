package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** As-of join semantics: latest right row with time <= left time per key,
  * exact-time ties match, leading left rows get nulls, keys never mix.
  */
class AsofJoinSpec extends AnyFunSuite with SparkSpec {

  test("asof picks the latest right row at or before each left time") {
    import spark.implicits._
    val right = Seq(
      (1L, 10L, "r10"), (1L, 20L, "r20"), (2L, 15L, "s15")
    ).toDF("k", "t", "payload")
    val left = Seq(
      (1L, 5L, "a"),   // before any right row of k=1 -> null
      (1L, 10L, "b"),  // exact tie -> r10
      (1L, 19L, "c"),  // between -> r10
      (1L, 25L, "d"),  // after last -> r20
      (2L, 25L, "e"),  // other key -> s15, never k=1 rows
      (3L, 99L, "f")   // key with no right rows -> null
    ).toDF("k", "t", "name")
    val got = AsofJoin.asof(left, right, "k", "t", Seq("payload"))
      .select("name", "payload").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map(
      "a" -> None, "b" -> Some("r10"), "c" -> Some("r10"),
      "d" -> Some("r20"), "e" -> Some("s15"), "f" -> None))
  }
}
