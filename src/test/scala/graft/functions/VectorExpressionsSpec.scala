package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** graft_dot must equal the higher-order-function fold bit-for-bit (same
  * left-to-right IEEE summation) in both interpreted and codegen paths.
  */
class VectorExpressionsSpec extends AnyFunSuite with SparkSpec {

  test("graft_dot == aggregate(zip_with(...)) bit-for-bit on real embeddings") {
    VectorExpressions.register(spark)
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
    val a = emb.as("a"); val b = emb.as("b")
    val pairs = a.join(b, org.apache.spark.sql.functions.expr("a.vec_id % 17 = b.vec_id % 17 AND a.vec_id < b.vec_id"))
      .selectExpr(
        "graft_dot(a.e, b.e) AS fast",
        "aggregate(zip_with(a.e, b.e, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v) AS slow")
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("graft_polyhash == HOF fold on real documents") {
    VectorExpressions.register(spark)
    val rows = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr(
        "graft_polyhash(text) AS fast",
        s"${graft.pipeline.TextAnalysis.polyHashHofExpr("text")} AS slow")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_polyhash edge cases: empty string, null") {
    VectorExpressions.register(spark)
    val r = spark.sql(
      "SELECT graft_polyhash('') AS a, graft_polyhash(CAST(NULL AS STRING)) AS b, " +
      "graft_polyhash('abc') AS c").collect()(0)
    assert(r.getLong(0) == 0L)
    assert(r.isNullAt(1))
    assert(r.getLong(2) == 96354L) // matches DuckDB probe value
  }

  test("graft_dot handles length mismatch, empty arrays, null input") {
    VectorExpressions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(2.0d, 3.0d)) AS d1, " +
      "graft_dot(CAST(array() AS ARRAY<DOUBLE>), CAST(array() AS ARRAY<DOUBLE>)) AS d2, " +
      "graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d3").collect()(0)
    assert(r.getDouble(0) == 8.0) // min-length semantics
    assert(r.getDouble(1) == 0.0)
    assert(r.isNullAt(2))
  }

  test("graft_token_hashes == transform(split) composition, incl. edge cases") {
    VectorExpressions.register(spark)
    import spark.implicits._
    // real corpus + handcrafted edge cases (empty, leading/trailing/double
    // spaces — the split(limit=-1) empty-segment parity)
    val corpus = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("text")
    val edges = Seq("", " ", "a", "a ", " a", "a  b", "one two three").toDF("text")
    val rows = corpus.unionByName(edges)
      .selectExpr(
        "graft_token_hashes(text) AS fast",
        "transform(split(text, ' '), w -> graft_polyhash(w)) AS slow")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]](0) == r.getAs[scala.collection.Seq[Long]](1))
    }
  }

  test("graft_sq8_pack/graft_sq8_dot == SQL floor-quantize replay on real embeddings") {
    VectorExpressions.register(spark)
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .selectExpr("vec_id", "e",
        "127.0 / array_max(transform(e, y -> abs(y))) AS s")
    val a = emb.as("a"); val b = emb.as("b")
    val rows = a.join(b, org.apache.spark.sql.functions
        .expr("a.vec_id % 13 = b.vec_id % 13 AND a.vec_id < b.vec_id"))
      .selectExpr(
        "graft_sq8_dot(graft_sq8_pack(a.e, a.s), graft_sq8_pack(b.e, b.s)) AS fast",
        """aggregate(zip_with(
          |  transform(a.e, x -> CAST(floor(x * a.s + 0.5) AS BIGINT)),
          |  transform(b.e, y -> CAST(floor(y * b.s + 0.5) AS BIGINT)),
          |  (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS slow""".stripMargin)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("GraftExtensions injects every graft_* function at session build") {
    // a FRESH session on the shared context, built THROUGH the extensions
    // hook (getOrCreate would return the suite session, which never saw
    // the injection — clear, build, restore)
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
          "graft_polyhash('abc') AS p, " +
          "graft_sq8_dot(graft_sq8_pack(array(1.0d), 1.0d), " +
          "              graft_sq8_pack(array(1.0d), 1.0d)) AS q").head()
      assert(r.getDouble(0) == 11.0)
      assert(r.getLong(1) == 96354L)
      assert(r.getLong(2) == 1L)
      // arity validation rides the injected path too
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT graft_dot(array(1.0d))").collect()
      }
      assert(e.getMessage.contains("graft_dot"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("graft_sq8 edge cases: byte range, empty, null") {
    VectorExpressions.register(spark)
    val r = spark.sql(
      // s = 127/max|x| puts the extreme value exactly at ±127 — the cast
      // must not wrap
      "SELECT graft_sq8_dot(graft_sq8_pack(array(-1.0d, 1.0d), 127.0d), " +
      "                     graft_sq8_pack(array(-1.0d, 1.0d), 127.0d)) AS d1, " +
      "graft_sq8_dot(graft_sq8_pack(CAST(array() AS ARRAY<DOUBLE>), 1.0d), " +
      "              graft_sq8_pack(CAST(array() AS ARRAY<DOUBLE>), 1.0d)) AS d2, " +
      "graft_sq8_pack(CAST(NULL AS ARRAY<DOUBLE>), 1.0d) AS p3, " +
      "graft_sq8_dot(CAST(NULL AS BINARY), graft_sq8_pack(array(1.0d), 1.0d)) AS d4")
      .collect()(0)
    assert(r.getLong(0) == 2L * 127 * 127)
    assert(r.getLong(1) == 0L)
    assert(r.isNullAt(2))
    assert(r.isNullAt(3))
  }
}
