package graft

import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary (round-10 verdict item 4): the testdata generator
  * has already changed `events.ts`'s parquet encoding once (NANOS → MICROS
  * NTZ), silently killing 36 entries. This spec synthesizes an events file
  * in EVERY encoding a parquet writer could plausibly produce — raw LONG
  * nanos, TIMESTAMP_NTZ at micros and millis, instant TIMESTAMP at micros
  * and millis — and asserts [[Tables.load]] normalizes all of them to the
  * SAME canonical epoch-nanos LONG, including through one downstream
  * ts-arithmetic step. If a future regeneration defeats the normalization,
  * this fails as one named test instead of 36 scattered analysis errors.
  */
class TsEncodingCanarySpec extends AnyFunSuite with SparkSpec {

  test("every parquet ts encoding normalizes to the same epoch-nanos") {
    // canonical: real events rows with ts floored to whole MILLIS so every
    // encoding below (millis included) represents the same instants exactly
    val base = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .selectExpr("event_id", "(ts div 1000000L) * 1000000L AS ts",
        "user_id", "event_type", "value", "props")
    val canonical = base.selectExpr("event_id", "ts")
      .orderBy("event_id").collect().toSeq
    val canonicalDaySum = base
      .selectExpr(s"${Tables.tsNanosToMillisSql("ts")} div 86400000L AS day")
      .agg(expr("sum(day)")).head().getLong(0)
    assert(canonical.nonEmpty)

    // (label, ts column rewrite, parquet writer timestamp unit)
    val variants = Seq(
      ("long_nanos", "ts", "TIMESTAMP_MICROS"),
      ("ntz_micros",
        "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')",
        "TIMESTAMP_MICROS"),
      ("ntz_millis",
        "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')",
        "TIMESTAMP_MILLIS"),
      ("tz_micros", "timestamp_micros(ts div 1000)", "TIMESTAMP_MICROS"),
      ("tz_millis", "timestamp_micros(ts div 1000)", "TIMESTAMP_MILLIS"))

    variants.foreach { case (label, tsExpr, outType) =>
      val dir = TempDirs.scoped(s"tscanary-$label")
      Session.withConfs(spark, Map("spark.sql.parquet.outputTimestampType" -> outType)) {
        base.withColumn("ts", expr(tsExpr))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
      }

      val got = Tables.load(spark, dir, "events")
      assert(got.schema("ts").dataType == LongType,
        s"$label: post-load ts is ${got.schema("ts").dataType}, not LONG")
      val rows = got.selectExpr("event_id", "ts")
        .orderBy("event_id").collect().toSeq
      assert(rows == canonical, s"$label: normalized nanos differ")
      val daySum = got
        .selectExpr(s"${Tables.tsNanosToMillisSql("ts")} div 86400000L AS day")
        .agg(expr("sum(day)")).head().getLong(0)
      assert(daySum == canonicalDaySum, s"$label: downstream arithmetic differs")
    }
  }
}
