package graft.streaming

import org.apache.spark.sql.SparkSession

/** Scale-adaptive state partitioning for the declared streaming entries.
  *
  * A streaming query's stateful operators keep ONE state-store instance
  * per shuffle partition (stream-stream joins keep four), and EVERY
  * trigger pays each instance's load + commit (with RocksDB: a changelog
  * write and rename through the checkpoint file manager, no fsync)
  * whether or not the partition holds a single key. At the bench
  * session's `spark.sql.shuffle.partitions = 32` a 4-trigger entry over a
  * few thousand rows commits 128+ mostly-empty RocksDB stores — measured
  * 46 s for the 5-trigger outer join before it pinned 4 partitions
  * ([[StreamJoin.outerJoinQuery]]), and 25 s for each of the crawl-loop
  * entries at sf0.001, where the whole input is a few thousand rows.
  *
  * This helper derives the partition count from the INPUT SCALE instead
  * of inheriting the session constant (guide §2: make partitioning
  * scale-adaptive, never a constant tuned for either local mode or the
  * cluster):
  *
  *  - one state partition per [[RowsPerStatePartition]] input rows,
  *  - never more than the session's core count (`defaultParallelism`) —
  *    so at production scale the formula saturates at the cluster's
  *    parallelism and behavior is unchanged where it matters,
  *  - never more than `keyBound` when the operator's key cardinality has
  *    a static upper bound (a CMS sketch groups by ≤ d·w cells — more
  *    partitions than keys is pure commit overhead at any scale),
  *  - never fewer than 2, so the distributed code path (hash exchange,
  *    per-partition stores, cross-partition drains) stays exercised.
  *
  * [[pinned]] applies the count, together with the RocksDB state store,
  * around one query's start and drain.
  */
object StateSizing {

  /** Input rows per state partition before another partition pays off
    * locally. Small enough that the driver's sf0.1 inputs (10k–100k rows)
    * spread over several stores; at any real ingest volume the core-count
    * cap binds long before this does.
    */
  val RowsPerStatePartition = 10000L

  /** State rows per partition for operators whose state is BOUNDED by
    * construction (sketches: a CMS is ≤ d·w cells forever). The reduce
    * side of such an aggregation only ever touches ≤ bound rows per
    * trigger — input parallelism lives on the map side (file splits +
    * partial aggregation), so partitions beyond bound/this are pure
    * commit overhead at any corpus size.
    */
  val StateRowsPerPartition = 1024L

  /** Partition count for a stateful streaming query fed `inputRows` rows.
    * `stateRowsBound`: a STATIC upper bound on the operator's total state
    * rows, when one exists by construction (sketch aggregations) — never
    * a measured cardinality (counting keys would cost the job this helper
    * exists to avoid).
    */
  def statePartitions(spark: SparkSession, inputRows: Long,
      stateRowsBound: Long = Long.MaxValue): Int = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    val byRows =
      (inputRows + RowsPerStatePartition - 1L) / RowsPerStatePartition
    val byState =
      if (stateRowsBound == Long.MaxValue) Long.MaxValue
      else (stateRowsBound + StateRowsPerPartition - 1L) /
        StateRowsPerPartition
    math.max(2L, Seq(byRows, byState, cores).min).toInt
  }

  /** Run `body` (plan, start and drain one streaming query) with the
    * session's state store pinned to the RocksDB provider
    * [[FadsStream.configure]] sets (`transformWithState` needs its column
    * families) and, when `parts` is given, the shuffle-partition count —
    * the query's state-store count — pinned to it, both restored by
    * [[graft.Session.withConfs]], planning or `start()` failures included.
    */
  def pinned[A](spark: SparkSession, parts: Option[Int])(body: => A): A =
    graft.Session.withConfs(spark,
      Map(FadsStream.ProviderKey -> FadsStream.RocksDbProvider) ++
        parts.map("spark.sql.shuffle.partitions" -> _.toString))(body)
}
