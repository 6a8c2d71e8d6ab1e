package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.fads.Fads

/** Batch (bounded-input) FADS k-anonymization over a DataFrame — the Spark
  * surface of the pure core in [[graft.fads.Fads]].
  *
  * Semantics mirror the reference's end-to-end run (source → Generalizer →
  * close-drain, /root/reference/src/main/java/fads/TransactionGeneralizationJob.java:36-79):
  * tuples are processed in a deterministic order with an injected clock, every
  * input row is released exactly once (generalized or suppressed), and each
  * quasi-identifier column is replaced by a `struct(lo double, hi double)`
  * interval (Generalizer.java:259-269).
  *
  * '''Scale design.''' FADS is inherently sequential: its state (buffer,
  * global bounds, reusable clusters) is a single stream context — the
  * reference is only correct at parallelism 1 (SURVEY.md §3.3). So
  * [[anonymize]] runs the core on ONE partition, which is faithful but not
  * scalable. For cluster-scale data give it a shard column: the stream is
  * sharded by a caller-chosen key (e.g. tenant, geography, QID-space region)
  * and an independent FADS instance runs per shard — each shard keeps the full
  * k-anonymity guarantee *within* the shard, shards process in parallel, and
  * nothing shuffles twice (one hash partition + in-partition sort).
  */
object FadsBatch {

  /** Output schema: QID columns become struct(lo, hi); a `suppressed` marker
    * is appended (drop it for strict reference arity).
    */
  def generalizedSchema(in: StructType, qidCols: Seq[String]): StructType = {
    val interval = StructType(Seq(
      StructField("lo", DoubleType, nullable = false),
      StructField("hi", DoubleType, nullable = false)))
    StructType(in.fields.map { f =>
      if (qidCols.contains(f.name)) StructField(f.name, interval, nullable = false) else f
    } :+ StructField("suppressed", BooleanType, nullable = false))
  }

  /** Flatten the interval structs for reporting surfaces: each QID column
    * `q: struct(lo, hi)` becomes two DOUBLE columns `q_lo`, `q_hi` (the same
    * flat shape the streaming surface's [[graft.streaming.GenEvent]] uses).
    * Library callers keep the struct API; flat output is for sinks whose
    * downstream consumers can't hash nested types.
    */
  def flattenIntervals(df: DataFrame, qidCols: Seq[String]): DataFrame = {
    val cols = df.schema.fields.flatMap { f =>
      if (qidCols.contains(f.name))
        Seq(col(s"${f.name}.lo").as(s"${f.name}_lo"),
            col(s"${f.name}.hi").as(s"${f.name}_hi"))
      else Seq(col(f.name))
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** The one FADS replay over a bounded input: order by `orderCols`, run
    * the core sequentially and drain at EOF — over the whole input on ONE
    * partition, or, with `shardCol`, as an independent stream per shard
    * value (one hash shuffle on the shard, in-partition sort, parallelism =
    * #shards, no driver-side collection). Callers reach it through the
    * variant table [[FadsReplays]].
    *
    * @param clockCol LONG column supplying the deterministic processing-time
    *                 instant (ms) for each row — normally `unix_millis(ts)`.
    * @param globalNorm when true, one extra pre-pass aggregation computes
    *        the TRUE per-QID domain bounds over the whole input and fixes
    *        every shard's distance/info-loss normalization to them (see
    *        [[Fads.Config.fixedLo]]). Essential for region sharding: a shard
    *        seeing only a slice of a QID's domain would otherwise over-weight
    *        that QID in kNN and drag the other QIDs' intervals wide. Cost at
    *        100 TB: one map-side-combined min/max agg (a few doubles to the
    *        driver, shipped back in the task closure) — noise next to the
    *        shard shuffle.
    * @param rawCols  columns whose doubles feed [[Fads.In.raw]] — only for
    *                 the [[Fads.Quirks.rawFieldDistance]] reference-parity
    *                 replay (the raw tuple's leading numeric fields); Nil
    *                 elsewhere.
    */
  def anonymize(
      df: DataFrame,
      qidCols: Seq[String],
      pidCol: String,
      orderCols: Seq[String],
      clockCol: org.apache.spark.sql.Column,
      cfg: Fads.Config,
      shardCol: Option[String] = None,
      globalNorm: Boolean = false,
      rawCols: Seq[String] = Nil): DataFrame = {
    val effCfg = if (globalNorm) globalBounds(df, qidCols, cfg) else cfg
    val clocked = df.withColumn("__clock_ms", clockCol.cast(LongType))
    // a partition may hold several shards back-to-back (hash collisions);
    // runPartitions starts a fresh engine whenever the shard value changes,
    // which the sort guarantees is a contiguous run
    val prepared = shardCol match {
      case None => clocked.repartition(1).sortWithinPartitions(orderCols.map(col): _*)
      case Some(s) => clocked.repartition(col(s))
        .sortWithinPartitions((s +: orderCols).map(col): _*)
    }
    runPartitions(prepared, df.schema, qidCols, pidCol, effCfg, shardCol, rawCols)
  }

  /** `cfg` with distance/info-loss normalization fixed to the true per-QID
    * domain bounds of `df` (see [[Fads.Config.fixedLo]]), from one
    * map-side-combined min/max pre-pass. The batch ([[anonymize]] with
    * `globalNorm`) and stream
    * ([[graft.streaming.FadsStream.regionCfg]]) twins of region sharding
    * both take their bounds from here.
    */
  def globalBounds(df: DataFrame, qidCols: Seq[String],
      cfg: Fads.Config): Fads.Config = {
    val aggs = qidCols.flatMap(q =>
      Seq(min(col(q).cast(DoubleType)).as(s"__lo_$q"),
          max(col(q).cast(DoubleType)).as(s"__hi_$q")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cfg.copy(
      fixedLo = Some(qidCols.indices.map(i => r.getDouble(2 * i)).toArray),
      fixedHi = Some(qidCols.indices.map(i => r.getDouble(2 * i + 1)).toArray))
  }

  private def runPartitions(
      prepared: DataFrame,
      outBase: StructType,
      qidCols: Seq[String],
      pidCol: String,
      cfg: Fads.Config,
      shardCol: Option[String],
      rawCols: Seq[String]): DataFrame = {
    val schema = prepared.schema
    val outSchema = generalizedSchema(outBase, qidCols)
    val qidIdx = qidCols.map(schema.fieldIndex).toArray
    val rawIdx = if (rawCols.isEmpty) null else rawCols.map(schema.fieldIndex).toArray
    val pidIdx = schema.fieldIndex(pidCol)
    val clockIdx = schema.fieldIndex("__clock_ms")
    val shardIdx = shardCol.map(schema.fieldIndex)
    val outArity = outBase.fields.length

    val out = prepared.mapPartitions { rows =>
      val engine = new Fads.Engine(cfg)

      def toOutRow(o: Fads.Out): Row = {
        val src = o.payload.asInstanceOf[Row]
        val vals = new Array[Any](outArity + 1)
        var i = 0
        while (i < outArity) { vals(i) = src.get(i); i += 1 }
        qidIdx.indices.foreach { q =>
          vals(qidIdx(q)) = Row(o.lo(q), o.hi(q))
        }
        vals(outArity) = o.suppressed
        Row.fromSeq(vals.toIndexedSeq)
      }

      def numeric(v: Any): Double = v match {
        case n: java.lang.Number => n.doubleValue()
        case other => other.toString.toDouble
      }

      new Iterator[Row] {
        private var st = new Fads.State(cfg.nQid)
        private var currentShard: Any = null
        private var seqNo = 0L
        private var lastNow = 0L
        private var pending: Iterator[Row] = Iterator.empty

        private def advance(): Unit = {
          while (!pending.hasNext && rows.hasNext) {
            val r = rows.next()
            val shard = shardIdx.map(r.get).orNull
            if (shardIdx.isDefined && shard != currentShard) {
              // close the previous shard's stream before starting the next
              val drained =
                if (st.sawAny) engine.drain(st, lastNow).map(toOutRow) else Nil
              st = new Fads.State(cfg.nQid)
              currentShard = shard
              pending = drained.iterator
            }
            val now = r.getLong(clockIdx)
            lastNow = now
            val in = Fads.In(
              qidIdx.map(i => numeric(r.get(i))),
              numeric(r.get(pidIdx)).toLong,
              r, now, seqNo,
              raw = if (rawIdx == null) null else rawIdx.map(i => numeric(r.get(i))))
            seqNo += 1
            val emitted = engine.step(st, in, now)
            pending = if (pending.hasNext) pending ++ emitted.map(toOutRow).iterator
                      else emitted.map(toOutRow).iterator
          }
          if (!pending.hasNext && !rows.hasNext && st.sawAny) {
            pending = engine.drain(st, lastNow).map(toOutRow).iterator
            st = new Fads.State(cfg.nQid) // sawAny=false: drain once
          }
        }

        def hasNext: Boolean = { advance(); pending.hasNext }
        def next(): Row = { advance(); pending.next() }
      }
    }(Encoders.row(StructType(outSchema.fields)))
    out.toDF()
  }
}
