package graft

import org.scalatest.funsuite.AnyFunSuite

/** Entry-contract smoke on the policy session: `SparkEntry.entry` returns
  * rows, and every declared query's plan construction analyzes (analysis
  * errors surface even without execution). A caller's own session without
  * the graft policy is not what this spec runs on.
  */
class EntrySmokeSpec extends AnyFunSuite with SparkSpec {

  test("entry returns rows on a vanilla session") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query analyzes on a vanilla session") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.schema.fields.nonEmpty, s"$name must analyze")
    }
  }

  test("every oracle key has a matching query key") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }
}
