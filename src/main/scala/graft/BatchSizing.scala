package graft

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism floor for expression-heavy BATCH operators —
  * the batch analog of [[graft.streaming.StateSizing]] (r16 verdict item 1).
  *
  * The testdata ships one parquet file (one row group) per table, so every
  * scan is ONE task; operators whose cost is per-row expression work
  * (hashed-feature extraction, MinHash shingling, BPE, tokenize-heavy
  * analysis) then run serially however many cores the session has —
  * measured at sf0.1: the perceptron featurize+epoch stage was a single
  * 2.9 s task under local[32] (tools/Diag). The fix is a parallelism
  * FLOOR derived from the row count, never a constant:
  *
  *   target = clamp(rows / rowsPerTask, 1, defaultParallelism)
  *
  * and a repartition only when the current plan is NARROWER than that
  * target. At production scale the scan is already wide (thousands of
  * input splits ≥ defaultParallelism ≥ target), so this is a no-op — no
  * shuffle is ever added to a big input; only a small input that
  * under-fills the machine gets spread.
  */
object BatchSizing {

  /** Rows per task for expression-heavy per-row work. Small enough that a
    * bench-SF corpus (5k docs) fills a local machine, large enough that a
    * task amortizes its scheduling cost (~5-10 ms) hundreds of times over.
    */
  val RowsPerTask = 256L

  /** Row-count-derived task target, bounded by the session's parallelism. */
  def targetParts(df: DataFrame, rows: Long,
      rowsPerTask: Long = RowsPerTask): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism.toLong
    math.max(1L, math.min(cores, rows / rowsPerTask)).toInt
  }

  /** `df`, at least `targetParts` wide — repartitions ONLY a plan narrower
    * than the row-derived target (a round-robin exchange of a small frame;
    * a wide plan passes through untouched, so no shuffle is ever added at
    * scale). `rows` is the caller's (usually memoized) input row count —
    * an estimate is fine; only the parallelism floor depends on it.
    */
  def widen(df: DataFrame, rows: Long,
      rowsPerTask: Long = RowsPerTask): DataFrame = {
    val target = targetParts(df, rows, rowsPerTask)
    if (target <= 1 || df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
