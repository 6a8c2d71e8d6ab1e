package graft

import org.scalatest.{Args, Reporter}
import org.scalatest.events.Event
import org.scalatest.exceptions.TestFailedException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.FadsStream

/** The spec session is the policy session, and the conf-leak guard names
  * every drifted key.
  */
class SparkSpecSpec extends AnyFunSuite with SparkSpec {

  test("specs run on the session policy Bench times") {
    val cpus = Session.cpus
    assert(spark.sparkContext.master == s"local[$cpus]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cpus.toString)
    assert(spark.conf.get(FadsStream.ProviderKey) == FadsStream.RocksDbProvider)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
  }

  test("drift names added, removed and changed keys, and skips the exemption") {
    val before = Map("a" -> "1", "b" -> "2", "c" -> "3")
    val after = Map("a" -> "1", "b" -> "9", "d" -> "4",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    assert(SparkSpec.drift(before, after) ==
      Seq("changed b: 2 -> 9", "removed c (was 3)", "added d=4"))
    assert(SparkSpec.drift(before, before).isEmpty)
  }

  test("a suite that leaves a conf set fails its guard, naming the key") {
    val key = "spark.graft.spec.leakProbe"
    val silent = new Reporter { def apply(e: Event): Unit = () }
    class Leaky extends AnyFunSuite with SparkSpec {
      test("sets a conf and keeps it") { spark.conf.set(key, "x") }
    }
    class Tidy extends AnyFunSuite with SparkSpec {
      test("sets a conf for its body only") {
        Session.withConfs(spark, Map(key -> "x"))(assert(spark.conf.get(key) == "x"))
      }
    }
    val leaked = try new Leaky().run(None, Args(silent)) finally spark.conf.unset(key)
    // the guard's failure rides the suite's status, which rethrows it
    val e = intercept[TestFailedException](leaked.succeeds())
    assert(e.getMessage.contains(s"added $key=x"), e.getMessage)
    assert(new Tidy().run(None, Args(silent)).succeeds())
    assert(!spark.conf.getAll.contains(key))
  }
}
