package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}

/** Property checks for the round-4 operator additions (the DuckDB oracle is
  * the exact-value gate; these pin the semantic invariants that would not
  * show up as a hash mismatch if both engines drifted together).
  */
class FunctionSuitesSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("x_outer_join: full outer keeps every one-sided customer, delta is consistent") {
    val rows = FunctionSuites.pivot(spark, sfDir) // warm registry
    val df = ExtendedQueries.outerJoin(spark, sfDir).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val (n96, n97, delta) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(delta == n97 - n96)
      assert(n96 > 0 || n97 > 0, "a row with no activity in either year must not exist")
    }
    // null sides actually exercised: at least one one-sided customer
    assert(df.exists(r => r.getLong(1) == 0 || r.getLong(2) == 0),
      "outer join degenerated to inner — no null-side rows")
    assert(rows.collect().nonEmpty)
  }

  test("x_pivot: pivoted spends sum to the ungrouped total") {
    val p = FunctionSuites.pivot(spark, sfDir).collect()
    val pivotTotal = p.map(r => r.getDouble(1) + r.getDouble(2) + r.getDouble(3)).sum
    val total = Tables.load(spark, sfDir, "orders")
      .selectExpr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS t")
      .collect()(0).getDouble(0)
    assert(math.abs(pivotTotal - total) < 1e-6 * total)
  }

  test("x_range_join: bands partition all orders exactly once") {
    val n = FunctionSuites.rangeJoin(spark, sfDir).collect().map(_.getLong(1)).sum
    assert(n == Tables.load(spark, sfDir, "orders").count())
  }

  test("x_date_funcs: field ranges hold") {
    FunctionSuites.dateFuncs(spark, sfDir).collect().foreach { r =>
      val dow = r.getLong(r.fieldIndex("dow"))
      val qtr = r.getLong(r.fieldIndex("qtr"))
      val doy = r.getLong(r.fieldIndex("doy"))
      assert(dow >= 1 && dow <= 7); assert(qtr >= 1 && qtr <= 4)
      assert(doy >= 1 && doy <= 366)
    }
  }

  test("text_tfidf: top-3 per doc, scores rank-consistent within a doc") {
    val rows = graft.pipeline.TextAnalysis.tfidf(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val byRank = rs.sortBy(_.getLong(5))
      val scores = byRank.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "score must be non-increasing in rank")
    }
  }

  test("stream_interval_join: lags bounded by the declared window") {
    val rows = graft.streaming.StreamJoin.intervalJoinQuery(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture produced no click→purchase pairs")
    rows.foreach { r =>
      val lag = r.getLong(r.fieldIndex("lag_s"))
      assert(lag > 0 && lag <= 6 * 3600)
    }
  }

  test("x_unpivot: melt is lossless — per-metric totals equal direct column sums") {
    val rows = FunctionSuites.unpivotMetrics(spark, sfDir).collect()
    val li = Tables.load(spark, sfDir, "lineitem")
    val n = li.count()
    // every (flag, metric) cell count sums back to 4 × |lineitem|
    assert(rows.map(_.getLong(2)).sum == 4 * n)
    // per-metric total matches the direct aggregate over the wide column
    val direct = li.selectExpr(
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").collect()(0).getDouble(0)
    val melted = rows.filter(_.getString(1) == "l_quantity").map(_.getDouble(3)).sum
    assert(math.abs(melted - direct) < 1e-9 * math.max(1.0, math.abs(direct)))
    // plan shape: native Expand, not 4 union'd scans
    val plan = FunctionSuites.unpivotMetrics(spark, sfDir).queryExecution.executedPlan.toString()
    assert(plan.contains("Expand"), "unpivot should lower to a single-scan Expand")
    assert(!plan.contains("Union"), "unpivot must not be implemented as UNION ALL scans")
  }

  test("x_hof_funcs: lambdas stay on the expression path (no object hop), scan pruned") {
    val q = FunctionSuites.hofFuncs(spark, sfDir)
    val rows = q.collect() // materialize so AQE finalizes the physical plan
    val plan = q.queryExecution.executedPlan.toString()
    // a UDF-shaped implementation would surface as an object/serialize hop
    assert(!plan.contains("MapElements") && !plan.contains("SerializeFromObject"),
      "HOF query fell out of the expression path into the object path")
    // the optimizer sees through the lambdas: column pruning reaches the scan
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    // semantic spot-check vs plain Scala
    val doc = graft.Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(20).foreach { r =>
      val toks = doc(r.getLong(0)).split(" ", -1)
      assert(r.getAs[Long]("n_long") == toks.count(_.length > 5))
      assert(r.getAs[Long]("total_chars") == toks.map(_.length.toLong).sum)
      assert(r.getAs[Boolean]("all_nonempty") == toks.forall(_.nonEmpty))
    }
  }
}
