package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One streaming run's progress, summed and printed one way: the
  * state-store totals Bench's artifact carries per streaming leg, and the
  * one-line trigger format that Scale `streamdiag`, `tools/Diag` and
  * [[ThroughputHistory]] print.
  */
final case class ProgressSummary(progress: Seq[StreamingQueryProgress]) {

  private def stateTotal(f: StateOperatorProgress => Long): Long =
    progress.iterator.flatMap(_.stateOperators).map(f).sum

  def rows: Long = progress.iterator.map(_.numInputRows).sum
  def stateCommitMs: Long = stateTotal(_.commitTimeMs)
  def rocksdbFsyncMs: Long = stateTotal(ProgressSummary.fsyncMs)
  def stateUpdateMs: Long = stateTotal(_.allUpdatesTimeMs)

  /** The state totals as one JSON object. */
  def stateJson: String =
    s"""{"state_commit_ms":$stateCommitMs,"rocksdb_fsync_ms":$rocksdbFsyncMs,"state_update_ms":$stateUpdateMs}"""

  def lines: Seq[String] = progress.map(ProgressSummary.line)
}

object ProgressSummary {

  private def custom(so: StateOperatorProgress, k: String): Long =
    Option(so.customMetrics.get(k)).map(_.longValue).getOrElse(0L)

  /** RocksDB's `rocksdbCommitFileSyncLatencyMs` in one operator's commit
    * (0 on another state store): despite the name, no fsync. It times the
    * changelog's write and atomic rename through the checkpoint file
    * manager ([[LocalCheckpointFiles]]), which does not fsync on local
    * disk. The `fsync` names in the JSON and the trigger line are kept.
    */
  private def fsyncMs(so: StateOperatorProgress): Long =
    custom(so, "rocksdbCommitFileSyncLatencyMs")

  /** RocksDB's time to load the trigger's starting version (0 on another
    * state store): near 0 when the executor still holds that version, else
    * the snapshot restore and changelog replay.
    */
  private def loadMs(so: StateOperatorProgress): Long =
    custom(so, "rocksdbLoadLatencyMs")

  /** One trigger: rows in, processing rate, duration breakdown and each
    * state operator's load and commit metrics.
    */
  def line(p: StreamingQueryProgress): String = {
    def ms(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(-1L)
    val st = p.stateOperators.map { so =>
      s"load=${loadMs(so)}ms commit=${so.commitTimeMs}ms " +
        s"upd=${so.allUpdatesTimeMs}ms fsync=${fsyncMs(so)}ms rows=${so.numRowsTotal} shards=${so.numShufflePartitions}"
    }.mkString(" | ")
    val rate = String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(p.processedRowsPerSecond))
    s"trigger ${p.name} batch=${p.batchId} in=${p.numInputRows} proc=$rate/s " +
      s"trigger=${ms("triggerExecution")}ms addBatch=${ms("addBatch")}ms " +
      s"getBatch=${ms("getBatch")}ms latestOffset=${ms("latestOffset")}ms " +
      s"walCommit=${ms("walCommit")}ms commitOffsets=${ms("commitOffsets")}ms " +
      s"state[$st]"
  }
}

/** Throughput observability — parity with the reference's
  * ParallelThroughputLogger / ParallelThroughputStatistics
  * (/root/reference/src/main/java/throughputUtils/ParallelThroughputLogger.java:76-101,
  * :36-73): the reference forwards every element through a flatMap that
  * samples elements/sec and prints mean + history on close.
  *
  * In Spark this is NOT an operator: Structured Streaming already measures
  * per-trigger `inputRowsPerSecond` / `processedRowsPerSecond`
  * (SURVEY.md §2.1 O5), so a listener records the history for free — zero
  * cost on the data path.
  */
final class ThroughputHistory extends StreamingQueryListener {

  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  def summary: ProgressSummary = synchronized(ProgressSummary(progress.toSeq))

  def history: Seq[StreamingQueryProgress] = summary.progress

  def totalRows: Long = summary.rows

  def meanProcessedRowsPerSecond: Double = {
    val s = history.map(_.processedRowsPerSecond).filterNot(_.isNaN)
    if (s.isEmpty) 0.0 else s.sum / s.size
  }

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit =
    synchronized(progress += event.progress)

  /** Reference parity: dump mean + full history when the query stops
    * (ParallelThroughputLogger.close, :44-48).
    */
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    val s = summary
    println(f"[throughput] mean processed rows/s: $meanProcessedRowsPerSecond%.1f over ${s.progress.size} triggers, ${s.rows} rows")
    s.lines.foreach(l => println(s"[throughput] $l"))
  }
}

object ThroughputHistory {
  /** Attach a fresh history listener to the session and return it. */
  def attach(spark: SparkSession): ThroughputHistory = {
    val l = new ThroughputHistory
    spark.streams.addListener(l)
    l
  }
}
