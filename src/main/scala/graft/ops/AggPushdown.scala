package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet AGGREGATE pushdown — the metadata-only scan path: COUNT/MIN/
  * MAX with no filter and no grouping are answered from parquet
  * row-group statistics (footers), never decoding a data page. At
  * 100 TB this is the difference between a full-table scan and reading
  * a few KB of footer per file — the engine-side analog of the manifest
  * pruning the snapshot family does by hand.
  *
  * Spark gates this behind the DSv2 reader (`useV1SourceList = ""`) and
  * `spark.sql.parquet.aggregatePushdown`; the rewrite only fires for
  * aggregates a footer can answer (COUNT(*)/MIN/MAX over supported
  * physical types — a timestamp or a filter anywhere disables it, which
  * the spec exercises both ways). The entry computes table stats for
  * lineitem + orders under those confs (restored in a finally; the
  * 2-row result is collected eagerly so the scoped confs cannot leak
  * into the caller's later planning) and [[graft.AggPushdownSpec]] pins
  * the `PushedAggregation` plan shape plus parity with the unpushed
  * aggregate.
  */
object AggPushdown {

  /** One table's pushable stats — a bare aggregate directly over the
    * scan (any intervening filter disables the rewrite, spec-proven).
    */
  private[ops] def one(spark: SparkSession, dir: String, table: String,
      col: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")
      .agg(org.apache.spark.sql.functions.expr("count(*) AS n"),
        org.apache.spark.sql.functions.expr(s"min($col) AS mn"),
        org.apache.spark.sql.functions.expr(s"max($col) AS mx"))
      .selectExpr(s"'$table' AS tbl", "n", "mn", "mx")

  /** Run `body` with the DSv2 + aggregate-pushdown confs set, each
    * restored (or unset again) afterwards by [[graft.Session.withConfs]].
    */
  private[ops] def withPushdownConfs[T](spark: SparkSession)(body: => T): T =
    graft.Session.withConfs(spark, Map(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> ""))(body)

  /** Q — footer-answered table stats for lineitem + orders. Collected
    * EAGERLY under the scoped confs (2 rows — metadata scale) so the
    * returned frame is a local relation and the conf flip can never
    * leak into later planning.
    */
  def query(spark: SparkSession, dir: String): DataFrame = {
    val rows = withPushdownConfs(spark) {
      one(spark, dir, "lineitem", "l_extendedprice")
        .unionByName(one(spark, dir, "orders", "o_totalprice"))
        .collect()
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tbl",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("mn",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("mx",
          org.apache.spark.sql.types.DoubleType))))
      .orderBy("tbl")
  }

  val sql: String =
    """SELECT 'lineitem' AS tbl, count(*)::BIGINT AS n,
      |       min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders', count(*)::BIGINT, min(o_totalprice), max(o_totalprice)
      |FROM orders
      |ORDER BY tbl""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_agg_pushdown" -> query)

  val oracles: Map[String, String] = Map(
    "x_agg_pushdown" -> sql)
}
