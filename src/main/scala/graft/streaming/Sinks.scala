package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Output sinks (reference O7: the only observable output was println of
  * each released tuple — SURVEY.md §2.1). Spark-native equivalents:
  * console (println parity), memory (tests), exactly-once parquet (real
  * output), and a foreachBatch writer for partitioned/bucketed layouts the
  * plain file sink can't produce.
  */
object Sinks {

  /** println-parity sink (reference Generalizer.java:129). */
  def console[T](ds: Dataset[T]): DataStreamWriter[T] =
    ds.writeStream.format("console").option("truncate", "false")

  /** Exactly-once parquet file sink (commit log in _spark_metadata). */
  def parquet[T](ds: Dataset[T], path: String, checkpoint: String): DataStreamWriter[T] =
    ds.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)

  /** foreachBatch writer: per-micro-batch control for layouts the file sink
    * cannot express (partitionBy columns, dynamic overwrite, merges).
    * foreachBatch is at-least-once per batch, so the write is made
    * IDEMPOTENT: keyed by a `__batch_id` partition column and written with
    * dynamic partition overwrite — a replayed micro-batch replaces its own
    * partitions instead of appending duplicates.
    */
  def partitionedParquet(df: DataFrame, path: String, checkpoint: String,
      partitionCols: Seq[String]): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .withColumn("__batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCols :+ "__batch_id": _*)
          .parquet(path)
      }

  /** Streaming UPSERT (merge) sink: maintains a latest-version-per-key
    * snapshot table — the MERGE INTO pattern without a table format. Each
    * micro-batch unions the current snapshot with the batch, keeps the max
    * `versionCols` row per `keyCols` (row_number window — the same
    * WindowGroupLimit shape as the batch latest-by-key compaction), writes
    * the new snapshot beside the live one and swaps via two renames.
    *
    * Idempotent under foreachBatch's at-least-once contract: replaying a
    * batch re-merges rows the snapshot already holds, and latest-per-key
    * dedup makes that a content no-op. `versionCols` must totally order
    * versions of one key (e.g. ts + a unique id) or the winner is
    * nondeterministic. Snapshot cost is O(snapshot + batch) per trigger —
    * for a 100 TB table you would partition the snapshot and rewrite only
    * partitions the batch touches (partitionedParquet's dynamic-overwrite
    * trick composes here); kept single-swap for clarity.
    */
  def upsertParquet(df: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], versionCols: Seq[String]): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val spark = batch.sparkSession
        val hconf = spark.sparkContext.hadoopConfiguration
        val live = new org.apache.hadoop.fs.Path(path)
        val fs = live.getFileSystem(hconf)
        recoverSwap(fs, path)
        val merged =
          if (fs.exists(live)) spark.read.parquet(path).unionByName(batch.toDF())
          else batch.toDF()
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(versionCols.map(c => col(c).desc): _*)
        val snap = merged
          .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
          .drop("__rn")
        val tmp = new org.apache.hadoop.fs.Path(s"$path.tmp-$batchId")
        snap.write.mode("overwrite").parquet(tmp.toString)
        val old = new org.apache.hadoop.fs.Path(s"$path.old-$batchId")
        if (fs.exists(live)) renameOrThrow(fs, live, old)
        renameOrThrow(fs, tmp, live)
        fs.delete(old, true)
        ()
      }

  /** Partition-wise streaming UPSERT: the 100 TB form of [[upsertParquet]].
    * The snapshot table is hive-partitioned by `partitionCols`; each
    * micro-batch (1) computes its touched partition set once (distinct
    * `partitionCols` of the batch — metadata-scale —
    * [[graft.pipeline.IndexCommit.touchedDirs]]), (2) reads the current
    * rows of ONLY those partitions (basePath-rooted point lookups, the
    * same open-touched-dirs-only discipline as the pruned dedup probe),
    * (3) merges latest-version-per-key, and (4) rewrites ONLY the touched
    * partitions via dynamic partition overwrite. Per-trigger cost is
    * O(batch + touched partitions) — independent of table size — versus
    * [[upsertParquet]]'s O(snapshot) whole-table swap.
    *
    * Idempotent under foreachBatch's at-least-once contract for the same
    * reason as [[upsertParquet]]: a replayed batch re-merges rows the
    * touched partitions already hold, and latest-per-key dedup (ties
    * collapse to one row) makes the rewrite a content no-op. Crash safety
    * is per-partition: dynamic overwrite commits each partition dir
    * atomically through the usual `_temporary` commit protocol, and a
    * half-failed batch replays. Partition existence is decided through
    * the Hadoop FileSystem API — the WRITE path owns its store and a
    * miss only means "nothing to merge yet"; contrast the READ-side
    * probe, which must consult a manifest so a miss fails loud.
    *
    * The merged partitions are repartitioned by `partitionCols` and
    * sorted by `sortCols` before the write, so a bucketed layout (one
    * file per partition dir, rows sorted) SURVIVES the append — the
    * property a bucket-pruned reader relies on.
    */
  def partitionedUpsertParquet(df: DataFrame, path: String, checkpoint: String,
      partitionCols: Seq[String], keyCols: Seq[String],
      versionCols: Seq[String], sortCols: Seq[String] = Nil)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        partitionedUpsertBatch(batch, path,
          graft.pipeline.IndexCommit.touchedDirs(batch, partitionCols: _*),
          partitionCols, keyCols, versionCols, sortCols)
      }

  /** One micro-batch (or one plain batch) of the partition-wise upsert —
    * the [[partitionedUpsertParquet]] merge body, factored out so a batch
    * caller (the bucketed-index ingest loop's probe → append →
    * manifest-commit cycle, [[graft.pipeline.Dedup.appendInplaceCore]])
    * can run ONE merge directly instead of nesting a streaming query.
    * `touched` is the batch's partition dirs
    * ([[graft.pipeline.IndexCommit.touchedDirs]]), computed once by the
    * caller, which commits the same set to its manifest. Idempotence and
    * crash-safety contracts are documented on the sink.
    */
  def partitionedUpsertBatch(batch: DataFrame, path: String,
      touched: Seq[String], partitionCols: Seq[String], keyCols: Seq[String],
      versionCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    if (touched.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existingDirs = touched
        .filter(d => fs.exists(new org.apache.hadoop.fs.Path(root, d)))
        .map(d => s"$path/$d")
      val current =
        if (existingDirs.isEmpty) None
        else Some(spark.read.option("basePath", path)
          .parquet(existingDirs: _*))
      val merged = current
        .map(_.unionByName(batch.toDF())).getOrElse(batch.toDF())
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(versionCols.map(c => col(c).desc): _*)
      replacePartitions(
        merged.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
          .drop("__rn"),
        path, partitionCols, sortCols)
    }
    ()
  }

  /** The upsert's write tail: replace exactly the partition dirs `rows`
    * holds under `path` with `rows` (dynamic partition overwrite), one task
    * per partition value, sorted by `sortCols` inside it. For a caller whose
    * frame already holds every key of its touched partitions (an MV delta
    * merged with the current rows, [[graft.pipeline.CorpusOps.mergeMvDelta]]),
    * so the upsert's latest-per-key read of those dirs would be redundant.
    */
  def replacePartitions(rows: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    rows.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Driver entry for the partitioned foreachBatch sink (O7's last
    * spec-only surface): stream `events` through [[partitionedParquet]]
    * (dynamic-partition-overwrite, idempotent under at-least-once replay),
    * then read the written hive layout back and aggregate one partition —
    * the oracle aggregates the same slice from the raw table, so a lost
    * batch, a double-applied batch, or a broken partition layout all break
    * the hash.
    *
    * COST NOTE: the `collect()` feeds MemoryStream, which is by definition
    * a driver-resident TEST source (~15 MB at sf0.1) — the system under
    * test is the distributed foreachBatch WRITE path, not the source. A
    * production pipeline pairs this sink with a real source (files/Kafka);
    * nothing in the sink touches the driver.
    */
  def partitionedSinkQuery(spark: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    implicit val evEnc: org.apache.spark.sql.Encoder[Event] =
      org.apache.spark.sql.Encoders.product[Event]
    val events = graft.Tables.load(spark, dir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event]
    val out = graft.TempDirs.scoped("psink") + "/data"
    val ckpt = graft.TempDirs.scoped("psink-ckpt")
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = partitionedParquet(src.toDS().toDF(), out, ckpt,
      partitionCols = Seq("event_type")).start()
    try {
      // two micro-batches so the dynamic overwrite proves per-batch isolation
      val rows = events.collect().toIndexedSeq
      src.addData(rows.take(rows.length / 2))
      q.processAllAvailable()
      src.addData(rows.drop(rows.length / 2))
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(out)
      .where("event_type = 'purchase'")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_value_c"),
        max("event_id").as("max_event_id"))
      .orderBy("event_type")
  }

  val partitionedSinkSql: String =
    """SELECT event_type, count(*)::BIGINT AS n,
      |       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_value_c,
      |       max(event_id)::BIGINT AS max_event_id
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** fs.rename signals failure by RETURNING false (e.g. destination exists,
    * object-store semantics), not by throwing — an unchecked rename would let
    * the batch commit over a disk shape the recovery scaladoc assumes cannot
    * occur (ADVICE r5). Throwing fails the micro-batch, so the checkpoint
    * replays it and recoverSwap repairs the layout first.
    */
  private def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst (snapshot swap aborted; batch will replay)")

  /** Crash recovery for [[upsertParquet]]'s rename swap. The swap sequence
    * per batch is: write `.tmp-B` (complete, `_SUCCESS`-marked) → rename
    * live → `.old-B` → rename `.tmp-B` → live → delete `.old-B`. A crash
    * can therefore leave exactly three shapes on disk, each repaired here
    * before the next merge reads the snapshot:
    *
    *  - live EXISTS + orphan `.tmp-*`/`.old-*`: the crash hit before the
    *    first rename (tmp possibly half-written) or after the second
    *    (stale old). Live is authoritative — drop the orphans; the
    *    checkpoint replays the batch.
    *  - live MISSING + complete `.tmp-B`: the crash hit between the two
    *    renames. The tmp snapshot already contains old ∪ batch deduped, and
    *    its write finished before the first rename ran (`_SUCCESS` proves
    *    it) — promote the highest-batch tmp to live.
    *  - live MISSING + only `.old-B`: no promotable tmp — restore the
    *    pre-swap snapshot; at-least-once replay re-delivers the batch.
    *
    * Without this, the middle shape silently truncated state: the next
    * batch found no live snapshot and rebuilt it from that batch alone
    * (ADVICE r4). All repairs are renames/deletes of whole directories, so
    * a crash during recovery re-lands in one of the same three shapes.
    */
  private[streaming] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val parent = live.getParent
    val name = live.getName
    def orphans(kind: String): Seq[(Long, Path)] =
      if (!fs.exists(parent)) Seq.empty
      else fs.listStatus(parent).toSeq.map(_.getPath)
        .flatMap { p =>
          val pre = s"$name.$kind-"
          if (p.getName.startsWith(pre)) p.getName.stripPrefix(pre).toLongOption.map(_ -> p)
          else None
        }
    val tmps = orphans("tmp")
    val olds = orphans("old")
    if (!fs.exists(live)) {
      val promotable = tmps
        .filter { case (_, p) => fs.exists(new Path(p, "_SUCCESS")) }
        .sortBy(_._1).lastOption
      promotable match {
        case Some((_, p)) => renameOrThrow(fs, p, live)
        case None => olds.sortBy(_._1).lastOption.foreach { case (_, p) => renameOrThrow(fs, p, live) }
      }
    }
    (orphans("tmp") ++ orphans("old")).foreach { case (_, p) =>
      if (fs.exists(live)) fs.delete(p, true)
    }
  }
}
