package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The session every Spark spec runs on: the one session [[Session.start]]
  * builds for every main, so a spec checks the engine Bench times (local
  * mode on [[Session.cpus]] cores, one shuffle partition per core, the
  * RocksDB state store and the rest of [[streaming.FadsStream.configure]],
  * scratch on the probed tier) whichever suite the forked JVM runs first.
  *
  * All suites share that one session. A spec that needs another conf sets
  * it for its body only with [[Session.withConfs]]; when the suite ends, the
  * guard fails it naming every conf that was added, removed or changed.
  */
trait SparkSpec extends BeforeAndAfterAll { self: Suite =>

  protected final lazy val spark: SparkSession = SparkSpec.session

  private var confsAtStart = Map.empty[String, String]

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    confsAtStart = spark.conf.getAll
  }

  override protected def afterAll(): Unit =
    try {
      val drift = SparkSpec.drift(confsAtStart, spark.conf.getAll)
      if (drift.nonEmpty)
        fail(s"$suiteName left session confs changed: ${drift.mkString("; ")}")
    } finally super.afterAll()
}

object SparkSpec {

  lazy val session: SparkSession = Session.start("graft-spec")

  /** Keys the guard ignores. `Tables.load` sets `nanosAsLong` on the first
    * `events` read so the parquet reader accepts TIMESTAMP(NANOS); it is
    * the one session-wide write made by design, and whichever suite reads
    * `events` first makes it.
    */
  val Exempt: Set[String] = Set("spark.sql.legacy.parquet.nanosAsLong")

  /** Every non-exempt key added, removed or changed from `before` to
    * `after`, sorted by key.
    */
  def drift(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet -- Exempt).toSeq.sorted.flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(v)) => Some(s"added $k=$v")
        case (Some(v), None) => Some(s"removed $k (was $v)")
        case (Some(a), Some(b)) if a != b => Some(s"changed $k: $a -> $b")
        case _ => None
      }
    }
}
