package graft.tools

import java.util.concurrent.Semaphore

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.{Session, SparkEntry}
import graft.streaming.ProgressSummary

/** Per-entry diagnosis on Bench's session. For each named entry: one
  * untimed warm-up and two timed runs through the `noop` sink (Bench's
  * protocol), each timed in two phases: define (the entry function building
  * its DataFrame, with whatever eager jobs that starts) and action (the
  * noop write). It prints the best-of-2 time, both runs' phase split and,
  * for the last timed run,
  *  - every Spark job (wall, stages, tasks, summed task time, description),
  *    rolled up by phase and description, with the jobs over 200 ms listed;
  *  - a per-stage-name rollup, where the wall time actually lives;
  *  - per phase, the bytes and records its tasks read from input files;
  *  - every streaming trigger's [[ProgressSummary]] line: duration
  *    breakdown and state-store commit metrics (a streaming entry's
  *    queries are gone once it returns).
  *
  * `SPARK_GRAFT_CONF="k=v;k=v"` adds session confs on top of the policy,
  * so a config hypothesis can be timed without a code edit.
  *
  * Usage: runMain graft.tools.Diag <sfDir> <entry...>
  */
object Diag {

  final case class JobRow(phase: String, desc: String, started: Long,
      nStages: Int, var ended: Long = -1L, var nTasks: Int = 0,
      var taskMs: Long = 0L, var inBytes: Long = 0L, var inRecords: Long = 0L)

  /** The phases of one run, in order. */
  private val Phases = Seq("define", "action")

  /** Description of the marker jobs that open each phase of the recorded
    * run and close it.
    */
  private val Mark = "graft-diag-mark"

  def main(args: Array[String]): Unit = {
    if (args.length < 2) sys.error("usage: Diag <sfDir> <entry...>")
    val sfDir = args(0)
    val builder = Session.builder("graft-diag", Session.placeScratch())
    // applied after the policy so an experiment can override its values
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Listener events arrive after the actions that caused them, so the
    // recorded run is split by marker jobs: one opens each phase and one
    // closes the run. The listener thread alone touches these buffers
    // between the markers, and `recorded` releases once it has seen the
    // closing one, i.e. every event of the run.
    val jobs = mutable.LinkedHashMap.empty[Int, JobRow]
    val stageToJob = mutable.Map.empty[Int, Int]
    val stages = mutable.ArrayBuffer.empty[(String, Long, Int, Long)] // name, wall, tasks, taskMs
    val stageTasks = mutable.Map.empty[Int, (Int, Long)]
    val triggers = mutable.ArrayBuffer.empty[String]
    val recorded = new Semaphore(0)
    var marks = 0 // markers seen in the recorded run
    def phase: Option[String] = Phases.lift(marks - 1)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage (highest id) is named after the action's call
        // site; a stream's description adds its id lines
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.maxBy(_.stageId).name).takeWhile(_ != '\n')
        if (desc == Mark) {
          marks += 1
          if (marks > Phases.size) { marks = 0; recorded.release() }
        } else phase.foreach { ph =>
          jobs(e.jobId) = JobRow(ph, desc, e.time, e.stageIds.size)
          e.stageIds.foreach(stageToJob(_) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (phase.nonEmpty) jobs.get(e.jobId).foreach(_.ended = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (phase.nonEmpty && stageToJob.contains(e.stageId)) {
          val ms = Option(e.taskMetrics)
            .map(m => m.executorRunTime + m.executorDeserializeTime).getOrElse(0L)
          val (n, t) = stageTasks.getOrElse(e.stageId, (0, 0L))
          stageTasks(e.stageId) = (n + 1, t + ms)
          Option(e.taskMetrics).foreach { m =>
            val job = jobs(stageToJob(e.stageId))
            job.inBytes += m.inputMetrics.bytesRead
            job.inRecords += m.inputMetrics.recordsRead
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (phase.nonEmpty) {
          val si = e.stageInfo
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { job =>
            val (n, t) = stageTasks.getOrElse(si.stageId, (0, 0L))
            job.nTasks += n; job.taskMs += t
            val wall = (for (s <- si.submissionTime; c <- si.completionTime)
              yield c - s).getOrElse(0L)
            stages += ((si.name, wall, n, t))
          }
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent if phase.nonEmpty =>
          triggers += "  " + ProgressSummary.line(p.progress)
        case _ => ()
      }
    })

    def mark(): Unit = {
      spark.sparkContext.setJobDescription(Mark)
      try spark.sparkContext.parallelize(Seq(0), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    def s(ms: Long): String = f"${ms / 1000.0}%8.3f s"

    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      // (define s, action s); `between` runs after define, before the action
      def run(between: () => Unit = () => ()): (Double, Double) = {
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          between()
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          ((t1 - t0) / 1e9, (System.nanoTime() - t2) / 1e9)
        } finally spark.catalog.clearCache() // entries cache() internally
      }
      run() // warm-up
      val first = run()
      jobs.clear(); stageToJob.clear(); stages.clear(); stageTasks.clear()
      triggers.clear()
      mark()
      val last = try run(() => mark()) finally mark()
      recorded.acquire()

      val rows = jobs.values.toSeq
      def wall(r: JobRow): Long = math.max(0L, r.ended - r.started)
      def total(t: (Double, Double)): Double = t._1 + t._2
      def split(t: (Double, Double)): String =
        f"define ${t._1}%.3f s + action ${t._2}%.3f s"
      println(f"\n===== $name: best-of-2 ${math.min(total(first), total(last))}%.3f s, " +
        f"last run ${rows.size} jobs, sum job wall ${rows.map(wall).sum / 1000.0}%.3f s =====")
      println(s"  first run ${split(first)}; last run ${split(last)}")
      Phases.foreach { ph =>
        val rs = rows.filter(_.phase == ph)
        println(f"  $ph%-6s jobs=${rs.size}%-3d sum job wall ${s(rs.map(wall).sum)}" +
          s"  input ${rs.map(_.inBytes).sum} B / ${rs.map(_.inRecords).sum} records")
      }
      rows.groupBy(r => (r.phase, r.desc.take(90))).toSeq
        .sortBy(-_._2.map(wall).sum)
        .foreach { case ((ph, d), rs) =>
          println(f"  ${s(rs.map(wall).sum)}  $ph%-6s jobs=${rs.size}%-3d " +
            f"tasks=${rs.map(_.nTasks).sum}%-5d taskTime=${s(rs.map(_.taskMs).sum)}  " +
            s"in=${rs.map(_.inRecords).sum}  $d")
        }
      jobs.toSeq.filter(j => wall(j._2) > 200).sortBy(j => -wall(j._2)).take(20)
        .foreach { case (id, r) =>
          println(f"    job $id%-4d ${s(wall(r))} ${r.phase}%-6s stages=${r.nStages} " +
            f"tasks=${r.nTasks} ${r.desc.take(90)}")
        }
      stages.groupBy(_._1).toSeq.sortBy(-_._2.map(_._2).sum).take(25)
        .foreach { case (nm, ss) =>
          println(f"  stage ${s(ss.map(_._2).sum)}  n=${ss.size}%-3d " +
            f"tasks=${ss.map(_._3).sum}%-5d taskTime=${s(ss.map(_._4).sum)}  ${nm.take(100)}")
        }
      triggers.foreach(println)
    }
    spark.stop()
  }
}
