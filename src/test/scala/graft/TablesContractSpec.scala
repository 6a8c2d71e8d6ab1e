package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The loader's POST-LOAD schema contract. Round 10 lost 36 oracle entries
  * because the testdata generator silently changed `events.ts` from parquet
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and every downstream nanos
  * assumption failed at analysis time, one query at a time. [[Tables.load]]
  * now normalizes at the single choke point; this spec pins the contract so
  * a future regeneration that defeats the normalization fails HERE, with a
  * message naming the drift, instead of as 36 scattered analysis errors.
  */
class TablesContractSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("events.ts surfaces as LONG epoch-nanos whatever the file carries") {
    val ev = Tables.load(spark, sfDir, "events")
    assert(ev.schema("ts").dataType == LongType,
      s"events.ts post-load type is ${ev.schema("ts").dataType}; the " +
        "repo-wide contract is LONG epoch-nanos (Tables.normalizeEventTs)")
    // unit check, not just type check: a regeneration that writes plain
    // LONG micros would pass the type assertion and silently produce
    // 1000×-off arithmetic. Epoch-nanos for any plausible testdata date
    // (1990..2100) is 6.3e17..4.1e18; micros/millis are ≤4.1e15.
    val row = ev.selectExpr("min(ts)", "max(ts)").head()
    val (mn, mx) = (row.getLong(0), row.getLong(1))
    assert(mn > 6e17.toLong && mx < 4.2e18.toLong,
      s"events.ts range [$mn, $mx] is not epoch-NANOS magnitude — " +
        "the loader normalization no longer matches the file's unit")
  }

  test("every table loads with its canonical column set") {
    val want = Map(
      "region" -> Set("r_regionkey", "r_name"),
      "nation" -> Set("n_nationkey", "n_name", "n_regionkey"),
      "events" -> Set("event_id", "ts", "user_id", "event_type", "value",
        "props"),
      "documents" -> Set("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Set("vec_id", "embedding", "label"))
    want.foreach { case (name, cols) =>
      val got = Tables.load(spark, sfDir, name).columns.toSet
      assert(got == cols,
        s"$name columns drifted: got $got, contract $cols")
    }
    // fact tables: spot-check the columns the headline queries touch
    val li = Tables.load(spark, sfDir, "lineitem").columns.toSet
    Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      .foreach(c => assert(li.contains(c), s"lineitem lost $c"))
    val emb = Tables.load(spark, sfDir, "embeddings")
    assert(emb.schema("embedding").dataType ==
      ArrayType(FloatType, containsNull = true) ||
      emb.schema("embedding").dataType ==
      ArrayType(FloatType, containsNull = false),
      s"embeddings.embedding is ${emb.schema("embedding").dataType}, " +
        "contract Array[Float]")
  }

  test("load registers graft's functions once per session, not per call") {
    val dot = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")
    val registry = spark.sessionState.functionRegistry
    Tables.load(spark, sfDir, "documents")
    val first = registry.lookupFunctionBuilder(dot)
    assert(first.nonEmpty, "graft_dot is not registered after load")
    Tables.load(spark, sfDir, "documents")
    Tables.load(spark, sfDir, "region")
    assert(registry.lookupFunctionBuilder(dot).exists(_ eq first.get),
      "a later load re-registered graft_dot")
  }
}
