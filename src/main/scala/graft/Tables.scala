package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Testdata loaders (TESTDATA.md): one parquet file per table under
  * `/root/testdata/sf{0.001,0.01,0.1}/`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** PLAN memo for [[load]]: the analyzed relation per (session, dir,
    * table). Resolving `spark.read.parquet` re-reads the file footer for
    * schema inference on EVERY call (~50-90 ms), and the suite calls
    * [[load]] 2-4× per entry × 268 entries per bench pass — tens of
    * seconds of repeated metadata reads per pass (guide §6, file
    * listing/metadata). The cached value is a lazy, immutable LOGICAL
    * PLAN over the read-only testdata — no rows are cached, every action
    * on it still computes from the parquet files (the no-result-caching
    * contract).
    *
    * Retention (ADVICE r16): a cached DataFrame strongly references its
    * SparkSession, so a WeakHashMap key can never be reclaimed — the
    * value pins the key, and stopped sessions accumulated for the JVM's
    * life while the doc comment claimed otherwise. Replaced with an
    * access-ordered LRU bounded to the newest [[LoadCacheSessions]]
    * sessions (identity-keyed — SparkSession does not override equals):
    * a stopped session's plans fall out as newer sessions arrive, and
    * worst-case retention is a fixed, known number of plan trees rather
    * than "forever, silently".
    */
  private val LoadCacheSessions = 8
  private val loadCache =
    new java.util.LinkedHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[(String, String), DataFrame]](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession,
            scala.collection.concurrent.TrieMap[(String, String), DataFrame]])
          : Boolean = size() > LoadCacheSessions
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = loadCache.synchronized {
      val got = loadCache.get(spark)
      if (got != null) got
      else {
        // every query path goes through here: make graft's native
        // expressions (graft_dot, graft_polyhash) available to
        // selectExpr/spark.sql, once per session — when its memo is made
        graft.functions.VectorExpressions.register(spark)
        val fresh =
          scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
        loadCache.put(spark, fresh)
        fresh
      }
    }
    perSession.getOrElseUpdate((sfDir, name), {
      if (name == "events")
        // events.ts may be parquet TIMESTAMP(NANOS), which Spark's reader
        // rejects unless told to surface it as a raw nanos-since-epoch
        // LONG. Set at read time so callers need no special session config.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (name == "events") normalizeEventTs(df) else df
    })
  }

  /** The repo-wide contract is `events.ts: LONG` epoch-nanos, but the
    * testdata generator's parquet physical type has changed across rounds
    * (TIMESTAMP(NANOS) through r9; TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * — i.e. Spark TIMESTAMP_NTZ — from r10). Normalize whatever the file
    * carries to canonical epoch-nanos at the single loader choke point so
    * no downstream arithmetic (or the typed `streaming.Event` dataset)
    * depends on the writer's choice of unit. Conversions are exact integral
    * arithmetic; the NTZ branch uses `timestampdiff`, which is
    * timezone-independent for NTZ operands (wall-clock micros since the
    * epoch wall-clock — the generator writes UTC wall-clock).
    */
  private def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => df // legacy nanos file via the nanosAsLong shim
      case TimestampNTZType =>
        df.withColumn(
          "ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000L"))
      case TimestampType =>
        // instant-typed: unix_micros is timezone-independent by definition
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected LONG nanos, " +
            "TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }

  /** events.ts (nanos-since-epoch LONG, see [[load]]) → epoch milliseconds.
    * Integral `div` — `Column./` round-trips through DOUBLE, which cannot
    * represent nanos-since-epoch (~1.7e18 > 2^53) exactly.
    */
  def tsNanosToMillis(colName: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(s"$colName div 1000000L")

  /** events.ts LONG nanos → epoch microseconds, exact integral arithmetic. */
  def tsNanosToMicros(colName: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(s"$colName div 1000L")

  /** SQL-fragment forms of the nanos conversions for `selectExpr` call
    * sites (the Column forms above serve select/withColumn). Every unit
    * literal the repo applies to events.ts lives HERE (round-10 verdict
    * item 5: scattered `ts div <unit>` literals re-encode the nanos
    * assumption one file at a time). Exact integral `div` — never `/`
    * (DOUBLE round-trip, see [[tsNanosToMillis]]) — and parenthesized so
    * callers can embed the fragment in larger expressions.
    */
  def tsNanosToMicrosSql(c: String): String = s"($c div 1000L)"
  def tsNanosToMillisSql(c: String): String = s"($c div 1000000L)"
  def tsNanosToSecondsSql(c: String): String = s"($c div 1000000000L)"
  def tsNanosToHoursSql(c: String): String = s"($c div 3600000000000L)"
  def tsNanosToDaysSql(c: String): String = s"($c div 86400000000000L)"

  /** Register every table as a temp view so `spark.sql` mirrors the DuckDB
    * oracle's naming. Memoized per (session, dir): registering reads 10
    * parquet footers (~0.5-0.9 s), which dominated every sql_shared_* row
    * when repeated per query — one registration per session now serves all
    * of them (re-registering only when the data dir changes). The memo is
    * only a fast path: any view a caller dropped (or shadowed and then
    * dropped) since the last call is re-registered via a per-name catalog
    * check, and the map is weak-keyed so stopped sessions don't accumulate
    * (ADVICE r4).
    */
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  def registerAll(spark: SparkSession, sfDir: String): Unit = synchronized {
    val sameDir = registeredDir.get(spark) == sfDir
    names.foreach { n =>
      if (!sameDir || !spark.catalog.tableExists(n))
        load(spark, sfDir, n).createOrReplaceTempView(n)
    }
    registeredDir.put(spark, sfDir)
  }

  /** Drop the memo for a session — callers that replace views with foreign
    * data (tests, tools) can force the next [[registerAll]] to rebuild.
    */
  def invalidate(spark: SparkSession): Unit = synchronized {
    registeredDir.remove(spark)
  }
}
