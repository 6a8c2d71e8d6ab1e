package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 = the run itself, whose spans all share one Tracer).
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Per-layer counters and spans for the traced run. Spans stay in memory
  * and are written once when the run ends. Times are epoch nanoseconds so
  * spans from listener events (epoch millis) and from the benchmark's own
  * clock nest on one axis.
  */
final class Tracer(val enabled: Boolean) {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def max(name: String, v: Double): Unit = synchronized {
    counters(name) = math.max(counters.getOrElse(name, 0.0), v)
  }

  def record(parent: Long, name: String, startNs: Long, endNs: Long): Long = {
    val id = nextId.getAndIncrement()
    if (enabled) synchronized { spans += Span(id, parent, name, startNs, endNs) }
    id
  }

  /** Time `body` (given its own span id) as a span under `parent`;
    * returns the result and the duration in ms. */
  def span[T](parent: Long, name: String)(body: Long => T): (T, Double) = {
    val id = nextId.getAndIncrement()
    val t0 = nowNs()
    val out = body(id)
    val t1 = nowNs()
    if (enabled) synchronized { spans += Span(id, parent, name, t0, t1) }
    (out, (t1 - t0) / 1e6)
  }

  private var listeners: List[() => Unit] = Nil

  /** Attach the Spark, SQL and streaming listeners to `spark`. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    val sc = spark.sparkContext
    val execSpan = mutable.Map.empty[Long, (Long, Long)] // execution id -> (span id, start)
    val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span, parent, start)
    val stageJob = mutable.Map.empty[Int, Int]
    val sl = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
          execSpan(s.executionId) = (nextId.getAndIncrement(), s.time * 1000000L)
        }
        case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
          execSpan.remove(s.executionId).foreach { case (id, t0) =>
            spans += Span(id, -1L, "query_execution", t0, s.time * 1000000L)
          }
        }
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val exec = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val parent = exec.flatMap(execSpan.get).map(_._1).getOrElse(-1L)
        jobSpan(j.jobId) = (nextId.getAndIncrement(), parent, j.time * 1000000L)
        j.stageIds.foreach(s => stageJob(s) = j.jobId)
        add("exec.jobs", 1)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobSpan.get(j.jobId).foreach { case (id, parent, t0) =>
          spans += Span(id, parent, "job", t0, j.time * 1000000L)
          add("exec.job_wall_ms", (j.time * 1000000L - t0) / 1e6)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
        val info = s.stageInfo
        add("exec.stages", 1)
        for (t0 <- info.submissionTime; t1 <- info.completionTime) {
          val parent = stageJob.get(info.stageId).flatMap(jobSpan.get).map(_._1).getOrElse(-1L)
          spans += Span(nextId.getAndIncrement(), parent, "stage", t0 * 1000000L, t1 * 1000000L)
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        add("exec.tasks", 1)
        val m = t.taskMetrics
        if (m != null) {
          add("exec.task_ms", m.executorRunTime.toDouble)
          add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
    sc.addSparkListener(sl)

    val ql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        add("sql.query_executions", 1)
        val phases = qe.tracker.phases
        def phase(n: String): Double =
          phases.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
        add("sql.analysis_ms", phase("analysis"))
        add("sql.optimization_ms", phase("optimization"))
        add("sql.planning_ms", phase("planning"))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        add("sql.query_executions", 1)
    }
    spark.listenerManager.register(ql)

    val stl = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val total = d.getOrElse("triggerExecution", 0L)
        add("streaming.triggers", 1)
        add("streaming.rows", p.numInputRows.toDouble)
        add("streaming.trigger_ms", total.toDouble)
        add("streaming.latest_offset_ms", d.getOrElse("latestOffset", 0L).toDouble)
        add("streaming.get_batch_ms", d.getOrElse("getBatch", 0L).toDouble)
        add("streaming.planning_ms", d.getOrElse("queryPlanning", 0L).toDouble)
        add("streaming.add_batch_ms", d.getOrElse("addBatch", 0L).toDouble)
        add("streaming.wal_commit_ms", d.getOrElse("walCommit", 0L).toDouble)
        add("streaming.commit_offsets_ms", d.getOrElse("commitOffsets", 0L).toDouble)
        val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        val trig = record(0L, "trigger", startNs, startNs + total * 1000000L)
        p.stateOperators.foreach { so =>
          add("streaming.state_commit_ms", so.commitTimeMs.toDouble)
          add("streaming.state_update_ms", so.allUpdatesTimeMs.toDouble)
          add("streaming.fsync_ms", Option(so.customMetrics.get("rocksdbCommitFileSyncLatencyMs"))
            .map(_.doubleValue).getOrElse(0.0))
          max("streaming.state_rows", so.numRowsTotal.toDouble)
          max("streaming.state_bytes", so.memoryUsedBytes.toDouble)
          // the operator reports durations, not instants: its update work
          // sits inside addBatch and its commit closes the trigger
          val end = startNs + total * 1000000L
          val commitStart = end - so.commitTimeMs * 1000000L
          record(trig, "state_update", commitStart - so.allUpdatesTimeMs * 1000000L, commitStart)
          record(trig, "state_commit", commitStart, end)
        }
      }
    }
    spark.streams.addListener(stl)
    listeners = List(
      () => sc.removeSparkListener(sl),
      () => spark.listenerManager.unregister(ql),
      () => spark.streams.removeListener(stl)) ++ listeners
  }

  /** Drain the listener bus and detach, so every event of this session is counted. */
  def detach(spark: SparkSession): Unit = if (enabled) {
    // the listener bus is asynchronous: let queued events reach the listeners
    val deadline = System.nanoTime() + 10000000000L
    var pending = true
    while (pending && System.nanoTime() < deadline) {
      Thread.sleep(100)
      pending = spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty
    }
    Thread.sleep(500)
    listeners.foreach(_())
    listeners = Nil
  }

  /** Parent every span whose cause is unknown (-1) to the innermost
    * benchmark span that contains its start, else to the run. */
  def resolvedSpans(): Seq[Span] = synchronized {
    val own = spans.filter(s => s.parent >= 0 && s.name != "job" && s.name != "stage" &&
      s.name != "query_execution")
    spans.toSeq.map { s =>
      if (s.parent != -1L) s
      else {
        val enclosing = own.filter(o => o.startNs <= s.startNs && s.startNs <= o.endNs)
        val p = if (enclosing.isEmpty) 0L else enclosing.minBy(o => o.endNs - o.startNs).id
        s.copy(parent = p)
      }
    }
  }
}

/** JVM readers: GC totals and the old generation after full collections. */
object Jvm {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  private def rawGcTotals(): (Double, Double) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
      gcs.map(_.getCollectionCount.max(0L)).sum.toDouble)
  }

  private var peak = 0.0
  private var forcedMs = 0.0
  private var forcedCount = 0.0

  /** GC time (ms) and collections so far, without the ones the heap
    * samples below forced. */
  def gcTotals(): (Double, Double) = {
    val (ms, n) = rawGcTotals()
    (ms - forcedMs, n - forcedCount)
  }

  /** Old-generation usage, MB, right after a full collection forced now.
    * Sampled at fixed points of a workload, so the peak does not depend on
    * when the collector happened to run. */
  def sampleOldMb(): Double = {
    val (ms0, n0) = rawGcTotals()
    System.gc()
    val (ms1, n1) = rawGcTotals()
    forcedMs += ms1 - ms0
    forcedCount += n1 - n0
    val mb = oldPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    peak = math.max(peak, mb)
    mb
  }

  def peakOldMb(): Double = peak
}
