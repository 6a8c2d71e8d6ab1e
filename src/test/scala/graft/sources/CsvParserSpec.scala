package graft.sources

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Reference O3 CSVParser parity: typed parse (Int/Double/String), custom
  * delimiter, strict-mode failure on malformed rows, contiguous PID.
  */
class CsvParserSpec extends AnyFunSuite with SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("score", DoubleType),
    StructField("name", StringType)))

  test("typed parse with custom delimiter") {
    import spark.implicits._
    val df = CsvParser.parse(
      Seq("1;2.5;alpha", "2;3.75;beta").toDF("value"), schema, delimiter = ";")
    val rows = df.collect().sortBy(_.getInt(0))
    assert(rows(0).getInt(0) == 1 && rows(0).getDouble(1) == 2.5 && rows(0).getString(2) == "alpha")
    assert(rows(1).getInt(0) == 2 && rows(1).getDouble(1) == 3.75 && rows(1).getString(2) == "beta")
  }

  test("strict mode rejects malformed rows; permissive nulls them") {
    import spark.implicits._
    val bad = Seq("1;2.5;ok", "oops;NOT_A_NUMBER;x").toDF("value")
    intercept[Exception] {
      CsvParser.parse(bad, schema, ";", strict = true).collect()
    }
    val permissive = CsvParser.parse(bad, schema, ";", strict = false).collect()
    assert(permissive.length == 2)
    assert(permissive.exists(r => r.isNullAt(0) || r.isNullAt(1)))
  }

  test("parseWithPid prepends a dense auto-increment id") {
    import spark.implicits._
    val df = CsvParser.parseWithPid(
      (0 until 10).map(i => s"$i;1.0;n$i").toDF("value"), schema, ";")
    assert(df.columns.head == "pid")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }
}
