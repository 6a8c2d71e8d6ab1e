package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables, TempDirs}
import graft.fads.Fads
import graft.streaming.{Event, FadsStream, GenEvent, PacedReplay}

/** JVM side of the benchmark: builds the session the way `graft.Bench`
  * does, sets each workload up three times, measures it for the requested
  * seconds, checks its outputs (untimed) and writes everything it saw as
  * one JSON file for `run.py` to reduce.
  *
  * Usage: perfbench.Main --workload <name> --in <input dir> --work <scratch dir>
  *   --seconds <s> --trace <0|1> --out <result.json>
  *   [--entries a,b,c --engine-checked <entry>]
  */
object Main {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val Setups = 3

  /** Untimed batch passes between the last set-up and the measured ones.
    * Pass time falls by about a third over the first dozen passes of a JVM
    * while the JIT compiles Spark's planner and this program, steepest in
    * the first passes of the measured session; these take that part out of
    * the measurement. More would cost run time the measured passes need. */
  val WarmPasses = 2

  /** Trigger interval of the open-loop stream. Run back to back, the
    * single-key operator at 1,000 rows/s on 4 cores is busy every instant
    * (each trigger takes about as long as the rows it admits took to
    * arrive), so its latency swings with any load on the box; a fixed
    * interval with headroom leaves it idle between triggers, as a
    * deployment sized for the rate would be. */
  val LiveTriggerMs = 1000L

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = o("work")
    val tracer = new Tracer(o("trace") == "1")
    val bench = new Workloads(o("in"), work, o("seconds").toDouble, tracer)
    val result = o("workload") match {
      case "fads_paced_ref" => bench.paced()
      case "batch_sf001" => bench.batch(o("entries").split(',').toSeq, o("engine-checked"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(o("out")), Json(result))
  }
}

final class Workloads(in: String, work: String, seconds: Double, tracer: Tracer) {
  import Main._

  private var spark: SparkSession = _
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  private def newSession(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val local = Paths.get(work, "spark-local")
    Files.createDirectories(local)
    TempDirs.preferRoot(local.toString)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
    val s = FadsStream.configure(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run the set-up `Setups` times, each from a fresh session; returns the
    * set-up times in seconds. The session of the last set-up is measured. */
  private def setups(body: Int => Unit): Seq[Double] = (1 to Setups).map { k =>
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = newSession()
    body(k)
    (System.nanoTime() - t0) / 1e9
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def measured[T](body: => T): (T, Map[String, Any]) = {
    tracer.attach(spark)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = compiles.getCount
    val (gc0, n0) = Jvm.gcTotals()
    val out = body
    val (gc1, n1) = Jvm.gcTotals()
    tracer.detach(spark)
    tracer.add("jvm.gc_ms", gc1 - gc0)
    tracer.add("jvm.gc_count", n1 - n0)
    // the compile-time histogram keeps a sample of durations, so the total
    // is its mean times the number of compiles
    val dc = compiles.getCount - c0
    tracer.add("codegen.compiles", dc.toDouble)
    tracer.add("codegen.compile_ms", if (dc > 0) dc * compiles.getSnapshot.getMean else 0.0)
    (out, Map("heap_peak_mb" -> Jvm.peakOldMb()))
  }

  private def common(setupS: Seq[Double], extra: Map[String, Any]): Map[String, Any] = {
    val local = Paths.get(work, "spark-local")
    val tier = try Files.getFileStore(local).`type`() catch { case _: Exception => "unknown" }
    extra ++ Map(
      "setup_s" -> setupS,
      "scratch_tier" -> tier,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "layers" -> tracer.counters.toMap,
      "spans" -> (if (tracer.enabled) tracer.resolvedSpans().map(s => Seq(s.id, s.parent, s.name, s.startNs, s.endNs)) else Nil))
  }

  // ------------------------------------------------------------------ FADS

  private def events(dir: String): Dataset[Event] =
    spark.read.schema(eventSchema.add("__chunk", "string")).parquet(dir)
      .drop("__chunk").as[Event](Encoders.product[Event])

  /** Stream a staged chunk directory through the single-key FADS operator
    * (reference parameters) to a collecting sink. Each output row is
    * stamped with the wall time its micro-batch reached the sink. */
  private def runStream(dir: String, filesPerTrigger: Int, ckpt: String, triggerMs: Long,
      whileRunning: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => ())
      : mutable.ArrayBuffer[(Long, Array[GenEvent])] = {
    // one key needs one state store, not one per core (as graft.Bench sets it)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val batches = mutable.ArrayBuffer.empty[(Long, Array[GenEvent])]
    val q = FadsStream.anonymize(PacedReplay.stream(spark, dir, eventSchema, filesPerTrigger)
        .as[Event](Encoders.product[Event]), SparkEntry.eventsFadsConfig)
      .writeStream
      .foreachBatch { (ds: Dataset[GenEvent], _: Long) =>
        val rows = ds.collect()
        val t = tracer.nowNs()
        if (rows.nonEmpty) batches.synchronized { batches += ((t, rows)) }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(PacedReplay.trigger(triggerMs))
      .start()
    try {
      whileRunning(q)
      q.processAllAvailable()
    } finally q.stop()
    batches
  }

  /** Standalone engine replay of one ordered stream, draining where the
    * stream carries a sentinel and at the end: the reference output for
    * the check and the graft.fads layer counters. */
  private def replay(rows: Seq[Event], cfg: Fads.Config): (Map[Long, Fads.Out], Map[String, Double]) = {
    val engine = new Fads.Engine(cfg)
    val st = new Fads.State(cfg.nQid)
    val outs = mutable.ArrayBuffer.empty[Fads.Out]
    var seq = 0L
    var last = 0L
    var liveMax = 0
    val t0 = System.nanoTime()
    var steps = 0
    rows.foreach { e =>
      if (e.event_id < 0) outs ++= engine.drain(st, last) // a drain sentinel
      else {
        last = e.ts / 1000000L
        outs ++= engine.step(st, Fads.In(Array(e.user_id.toDouble, e.value), e.user_id, e, last, seq), last)
        seq += 1
        steps += 1
        liveMax = math.max(liveMax, st.clusters.size)
      }
    }
    outs ++= engine.drain(st, last)
    val stepS = elapsedS(t0)
    liveMax = math.max(liveMax, st.clusters.size)
    val suppressed = outs.count(_.suppressed)
    val reused = outs.size - cfg.k * st.clusterSeq - suppressed
    val byId = outs.map(o => o.payload.asInstanceOf[Event].event_id -> o).toMap
    check(s"replay_releases_each_row_once", byId.size == outs.size && outs.size == steps,
      s"${outs.size} released, ${byId.size} distinct, $steps in")
    (byId, Map("fads.step_s" -> stepS, "fads.steps" -> steps.toDouble,
      "fads.clusters_formed" -> st.clusterSeq.toDouble, "fads.clusters_live_max" -> liveMax.toDouble,
      "fads.reused" -> reused.toDouble, "fads.suppressed" -> suppressed.toDouble,
      "fads.released" -> outs.size.toDouble))
  }

  /** A FADS release must equal the engine replay row for row, and release
    * every input row exactly once. Rows are (event_id, user_id_lo,
    * user_id_hi, value_lo, value_hi, suppressed); `None` skips the flag. */
  private def compare(label: String, out: Seq[(Long, Double, Double, Double, Double, Option[Boolean])],
      ref: Map[Long, Fads.Out]): Unit = {
    val ids = out.map(_._1)
    check(s"${label}_exactly_once", ids.size == ref.size && ids.distinct.size == ids.size &&
      ids.forall(ref.contains), s"${ids.size} released, ${ids.distinct.size} distinct, ${ref.size} in")
    val bad = out.count { case (id, l0, h0, l1, h1, sup) =>
      ref.get(id).forall { r =>
        sup.exists(_ != r.suppressed) || r.lo(0) != l0 || r.hi(0) != h0 || r.lo(1) != l1 || r.hi(1) != h1
      }
    }
    check(s"${label}_equals_engine_replay", bad == 0, s"$bad rows differ")
  }

  private def outputsJson(out: Seq[GenEvent]): Map[String, Any] = Map(
    "user_id_lo" -> out.map(_.user_id_lo), "user_id_hi" -> out.map(_.user_id_hi),
    "value_lo" -> out.map(_.value_lo), "value_hi" -> out.map(_.value_hi),
    "suppressed" -> out.map(_.suppressed))

  /** Open loop: `in/live` starts with a drained warm prefix; once it is
    * processed, `in/ready` tells `run.py`'s generator to publish chunks on
    * its fixed schedule, and it writes `in/gen.json` after the last one. */
  def paced(): Map[String, Any] = {
    val setupS = setups(k => runStream(s"$in/warm", 1, s"$work/ckpt-warm-$k", 0))
    val live = s"$in/live"
    val (batches, extra) = measured {
      val b = runStream(live, 100000, s"$work/ckpt-live", LiveTriggerMs, whileRunning = { q =>
        q.processAllAvailable()
        Files.createFile(Paths.get(in, "ready"))
        val deadline = System.nanoTime() + ((seconds + 120) * 1e9).toLong
        while (!Files.exists(Paths.get(in, "gen.json")) && System.nanoTime() < deadline)
          Thread.sleep(10)
        check("generator_finished", Files.exists(Paths.get(in, "gen.json")))
      })
      Jvm.sampleOldMb()
      b
    }
    val out = batches.toSeq.flatMap { case (t, rows) => rows.map(r => (t, r)) }
    val input = events(live).collect().sortBy(e => (e.ts, e.event_id)).toSeq
    val (ref, fads) = replay(input, SparkEntry.eventsFadsConfig)
    compare("stream", out.map { case (_, g) =>
      (g.event_id, g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi, Some(g.suppressed))
    }, ref)
    fads.foreach { case (k, v) => tracer.add(k, v) }
    common(setupS, extra ++ Map(
      "due_ns" -> out.map(_._2.ts), "commit_ns" -> out.map(_._1),
      "bounds" -> bounds(input.filter(_.event_id >= 0)),
      "outputs" -> outputsJson(out.map(_._2))))
  }

  private def bounds(rows: Seq[Event]): Seq[Seq[Double]] =
    Seq(Seq(rows.map(_.user_id.toDouble).min, rows.map(_.user_id.toDouble).max),
      Seq(rows.map(_.value).min, rows.map(_.value).max))

  // ----------------------------------------------------------------- batch

  /** One pass over `entries`: the entry function (eager define work) and
    * the noop write (the action) are timed as separate spans. */
  private def batchPass(entries: Seq[String], parent: Long): Seq[(String, Double, Double)] = {
    val fns = SparkEntry.queries
    entries.map { name =>
      val ((d, a), _) = tracer.span(parent, "entry") { id =>
        val (df, defineMs) = tracer.span(id, "define")(_ => fns(name)(spark, in))
        val (_, actionMs) = tracer.span(id, "action")(_ =>
          df.write.format("noop").mode("overwrite").save())
        spark.catalog.clearCache()
        (defineMs, actionMs)
      }
      tracer.add("entry.define_ms", d)
      tracer.add("entry.action_ms", a)
      (name, d, a)
    }
  }

  /** One untimed pass over `entries`, writing each output under `outDir`
    * or to noop. */
  private def plainPass(entries: Seq[String], outDir: Option[String]): Unit = entries.foreach { name =>
    val df = SparkEntry.queries(name)(spark, in)
    outDir match {
      case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
      case None => df.write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache()
  }

  /** One client, closed loop: passes over `entries` until the measured
    * seconds are used. `engineChecked` is the FADS replay entry, checked
    * against the standalone engine rather than its recursive-SQL oracle. */
  def batch(entries: Seq[String], engineChecked: String): Map[String, Any] = {
    // the first (cold) set-up pass also writes each entry's output for the
    // oracle check; the later ones write to noop like the measured passes
    val setupS = setups(k => plainPass(entries, if (k == 1) Some(s"$work/out") else None))
    (1 to WarmPasses).foreach(_ => plainPass(entries, None))
    val (passes, extra) = measured {
      val t0 = System.nanoTime()
      val ps = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double, Double)])]
      while (ps.isEmpty || elapsedS(t0) < seconds) {
        val p0 = System.nanoTime()
        val (rows, _) = tracer.span(0L, "pass")(id => batchPass(entries, id))
        ps += ((elapsedS(p0), rows))
        // after a fixed amount of work: the SQL status store keeps every
        // execution, so later samples would grow with the pass count
        if (ps.size == 1) Jvm.sampleOldMb()
      }
      ps
    }
    val input = Tables.load(spark, in, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event](Encoders.product[Event]).collect().sortBy(e => (e.ts, e.event_id)).toSeq
    val (ref, fads) = replay(input, SparkEntry.eventsFadsConfig)
    fads.foreach { case (k, v) => tracer.add(k, v) }
    compare(engineChecked, spark.read.parquet(s"$work/out/$engineChecked")
      .select("event_id", "user_id_lo", "user_id_hi", "value_lo", "value_hi").collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), None)), ref)
    tracer.counters.keys.filter(_.startsWith("entry.")).toSeq.foreach { k =>
      tracer.counters(k) = tracer.counters(k) / passes.size
    }
    common(setupS, extra ++ Map(
      "passes" -> passes.map { case (wall, rows) =>
        Map("wall_s" -> wall, "entries" -> rows.map { case (n, d, a) => Seq(n, d, a) })
      },
      "oracle_sql" -> entries.filter(_ != engineChecked).map(n => n -> SparkEntry.oracleSql(n)).toMap))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
