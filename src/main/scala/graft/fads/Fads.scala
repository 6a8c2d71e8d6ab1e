package graft.fads

import scala.collection.mutable

/** Pure-Scala FADS streaming k-anonymization core (no Spark dependency).
  *
  * Implements the FADS algorithm (Guo & Zhang, "FADS: a fast clustering-based
  * k-anonymization approach for data streams", Knowledge-Based Systems 2013) as
  * realized by the reference implementation
  * (/root/reference/src/main/java/fads/Generalizer.java,
  * /root/reference/src/main/java/fads/Cluster.java), with paper-correct
  * semantics by default and quirk flags for reference-parity replay
  * (SURVEY.md §2.4).
  *
  * This module is the single source of truth for the algorithm: the Spark
  * batch replay (graft.ops.FadsBatch) and the Structured Streaming operator
  * (graft.streaming.FadsStream) both delegate here, and the test suite uses it
  * directly as the oracle. All time is injected (deterministic clock).
  */
object Fads {

  /** Quirk switches; defaults are paper-correct (SURVEY.md §2.4).
    *
    * @param referenceDistance reproduce Generalizer.java:356's precedence bug
    *        (`abs(d)/gmax - gmin`). A 0-width global range yields
    *        contribution 0 where the reference produces Inf/NaN (Q8). Off by
    *        default — the correct formula is avg_i |d_i| / (gmax_i - gmin_i)
    *        over the configured QIDs.
    * @param rawFieldDistance reproduce Generalizer.java:355's INDEX bug:
    *        `averageDistance` reads `t.getField(i)` for i = 0..nQid-1 — the
    *        raw tuple's LEADING fields — instead of `t.getField(keys[i])`,
    *        the configured QID fields, while still normalizing by the true
    *        QIDs' global bounds. Emulated by carrying the leading raw
    *        numeric fields in [[In.raw]] and using them ONLY in the kNN
    *        distance (bounds, containment, info loss, and the released
    *        intervals all stay QID-based, exactly as in the reference —
    *        the bug is confined to the DistanceComparator). When enabled,
    *        callers must populate [[In.raw]]; a null raw falls back to the
    *        extracted QIDs.
    * @param uniquePid enforce the paper's distinct-PID constraint in kNN
    *        search (the reference comments it out, Generalizer.java:212-216).
    *        On by default.
    */
  final case class Quirks(
      referenceDistance: Boolean = false,
      rawFieldDistance: Boolean = false,
      uniquePid: Boolean = true)

  /** Algorithm parameters (mirrors Generalizer ctor, Generalizer.java:76-89).
    *
    * @param k                anonymity parameter (cluster size)
    * @param bufferConstraint max buffered tuples before forced release — a
    *                         COUNT, not a duration (SURVEY.md §2.4 Q1)
    * @param reuseTtlMs       cluster reuse time-to-live, processing-time ms
    * @param nQid             number of quasi-identifier columns
    * @param fixedLo/fixedHi  optional FIXED per-QID normalization bounds for
    *        the scale-out sharded modes. The reference normalizes kNN
    *        distance and information loss by its RUNNING global bounds
    *        (Generalizer.java:108-115) — correct for one stream, but a shard
    *        that only ever sees a slice of a QID's domain (region sharding)
    *        under-estimates that QID's range and over-weights it in every
    *        distance, dragging the OTHER QIDs' intervals wide. Fixing the
    *        normalization to the true domain bounds (one cheap pre-pass
    *        aggregation, broadcast into every shard) restores single-stream
    *        neighbor selection inside each shard. Suppression also
    *        generalizes to these bounds (the honest "max generalization" when
    *        the domain is known). None ⇒ reference behavior.
    */
  final case class Config(
      k: Int,
      bufferConstraint: Int,
      reuseTtlMs: Long,
      nQid: Int,
      quirks: Quirks = Quirks(),
      fixedLo: Option[Array[Double]] = None,
      fixedHi: Option[Array[Double]] = None)

  /** An input record as the engine sees it: extracted numeric QID values
    * (reference coerces any numeric QID to double, Generalizer.java:110-113),
    * the person identifier, an opaque payload carried through untouched, the
    * processing-time arrival stamp, and a tie-break sequence number (the
    * reference's comparators never return 0 — Q6 — we make order total).
    */
  final case class In(
      qids: Array[Double],
      pid: Long,
      payload: AnyRef,
      arrivalMs: Long,
      seq: Long,
      /** Leading raw numeric fields 0..nQid-1 of the source tuple — used
        * ONLY by the [[Quirks.rawFieldDistance]] replay (Generalizer.java:355
        * reads these instead of the extracted QIDs). Null elsewhere.
        */
      raw: Array[Double] = null)

  /** A released record: the payload plus per-QID generalization intervals
    * [lo_i, hi_i] (reference emits Tuple2<Double,Double> in each QID slot,
    * Cluster.java:65-77) and whether it was suppressed (generalized to the
    * global bounds, Generalizer.java:246-257).
    */
  final case class Out(
      payload: AnyRef,
      lo: Array[Double],
      hi: Array[Double],
      suppressed: Boolean)

  /** Generalization cluster: per-QID bounding box + creation time
    * (Cluster.java). Immutable once formed.
    */
  final case class Cluster(
      lo: Array[Double],
      hi: Array[Double],
      createdAtMs: Long,
      seq: Long) {

    /** Strict containment (Cluster.java:55-62 uses strict >/<; boundary-equal
      * tuples are rejected — deliberate, kept: SURVEY.md §2.4 Q5).
      */
    def fits(qids: Array[Double]): Boolean = {
      var i = 0
      while (i < qids.length) {
        if (!(qids(i) > lo(i) && qids(i) < hi(i))) return false
        i += 1
      }
      true
    }

    /** Information loss: avg_i (hi_i - lo_i) / (gmax_i - gmin_i)
      * (Cluster.java:79-85). Zero-width global range contributes 0 instead of
      * NaN/Inf (SURVEY.md §2.4 Q8).
      */
    def infoLoss(gLo: Array[Double], gHi: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < lo.length) {
        val range = gHi(i) - gLo(i)
        if (range > 0) s += (hi(i) - lo(i)) / range
        i += 1
      }
      s / lo.length
    }
  }

  object Cluster {
    /** Bounding box over a group of tuples (Cluster.java:18-34). */
    def of(members: Seq[In], createdAtMs: Long, seq: Long): Cluster = {
      val n = members.head.qids.length
      val lo = Array.fill(n)(Double.PositiveInfinity)
      val hi = Array.fill(n)(Double.NegativeInfinity)
      members.foreach { m =>
        var i = 0
        while (i < n) {
          if (m.qids(i) < lo(i)) lo(i) = m.qids(i)
          if (m.qids(i) > hi(i)) hi(i) = m.qids(i)
          i += 1
        }
      }
      Cluster(lo, hi, createdAtMs, seq)
    }
  }

  /** Mutable per-operator state. One instance per (single, constant) group
    * key — the reference's state is per-subtask at parallelism 1
    * (SURVEY.md §3.3); the Spark layers pin one state partition.
    *
    * The streaming state store snapshots it per trigger through
    * [[graft.streaming.FadsProcessor]]'s `persist` and rebuilds it with
    * its `restore`.
    */
  final class State(nQid: Int) {
    /** Pending tuples, oldest-first by (arrivalMs, seq) (Generalizer.java:85). */
    val buffer = mutable.TreeSet.empty[In](Ordering.by(t => (t.arrivalMs, t.seq)))
    /** Running per-QID min/max over all tuples ever seen — never expires
      * (Generalizer.java:108-115). */
    val gLo: Array[Double] = Array.fill(nQid)(Double.PositiveInfinity)
    val gHi: Array[Double] = Array.fill(nQid)(Double.NegativeInfinity)
    /** Reusable clusters, oldest-first (expiry pops from head;
      * Generalizer.java:117-120). */
    val clusters = mutable.ArrayDeque.empty[Cluster]
    var clusterSeq: Long = 0L
    var sawAny: Boolean = false
  }

  /** The FADS step machine. Pure w.r.t. wall-clock: callers inject `nowMs`. */
  final class Engine(cfg: Config) {

    /** Normalization bounds: fixed domain bounds when configured (scale-out
      * sharded modes), else the stream's running global bounds.
      */
    private def normLo(st: State): Array[Double] = cfg.fixedLo.getOrElse(st.gLo)
    private def normHi(st: State): Array[Double] = cfg.fixedHi.getOrElse(st.gHi)

    /** Process one arrival; returns the released tuples (possibly empty, or up
      * to k on a new-cluster release — emission amplification, SURVEY.md §7.3).
      * Mirrors Generalizer.processElement (Generalizer.java:97-133).
      */
    def step(st: State, t: In, nowMs: Long): Seq[Out] = {
      st.sawAny = true
      st.buffer += t
      // streaming global bounds update (Generalizer.java:108-115)
      var i = 0
      while (i < cfg.nQid) {
        if (t.qids(i) < st.gLo(i)) st.gLo(i) = t.qids(i)
        if (t.qids(i) > st.gHi(i)) st.gHi(i) = t.qids(i)
        i += 1
      }
      expireClusters(st, nowMs)
      // count-based trigger (SURVEY.md §2.4 Q1: a count, not a duration)
      if (st.buffer.size > cfg.bufferConstraint) {
        val oldest = st.buffer.head
        st.buffer.remove(oldest)
        generalizeTuple(st, oldest, nowMs)
      } else Nil
    }

    /** End-of-stream drain: force-release every still-buffered tuple, oldest
      * first, through the same logic (Generalizer.close, Generalizer.java:59-74).
      * Output cardinality == input cardinality after this (BASELINE.md).
      */
    def drain(st: State, nowMs: Long): Seq[Out] = {
      val acc = mutable.ArrayBuffer.empty[Out]
      while (st.buffer.nonEmpty) {
        val oldest = st.buffer.head
        st.buffer.remove(oldest)
        acc ++= generalizeTuple(st, oldest, nowMs)
      }
      acc.toSeq
    }

    private def expireClusters(st: State, nowMs: Long): Unit = {
      while (st.clusters.nonEmpty &&
          st.clusters.head.createdAtMs + cfg.reuseTtlMs < nowMs)
        st.clusters.removeHead()
    }

    /** Release one pivot tuple (Generalizer.generalizeTuple,
      * Generalizer.java:136-189): not enough neighbors ⇒ reuse-or-suppress;
      * else kNN cluster vs best reusable cluster by information loss.
      */
    private def generalizeTuple(st: State, pivot: In, nowMs: Long): Seq[Out] = {
      if (st.buffer.size < cfg.k - 1) reuseOrSuppress(st, pivot)
      else {
        knn(st, pivot) match {
          case None => reuseOrSuppress(st, pivot) // only with uniquePid on
          case Some(neighbors) =>
            val fresh = Cluster.of(pivot +: neighbors, nowMs, st.clusterSeq)
            val best = bestFittingCluster(st, pivot)
            best match {
              case Some(old)
                  if old.infoLoss(normLo(st), normHi(st)) < fresh.infoLoss(normLo(st), normHi(st)) =>
                // reuse: release only the pivot (Generalizer.java:163-165)
                Seq(Out(pivot.payload, old.lo.clone(), old.hi.clone(), suppressed = false))
              case _ =>
                // new cluster: release pivot + its k-1 neighbors, remove them
                // from the buffer, register cluster for reuse
                // (Generalizer.java:166-176)
                st.clusterSeq += 1
                neighbors.foreach(st.buffer.remove)
                st.clusters.append(fresh)
                (pivot +: neighbors).map(m =>
                  Out(m.payload, fresh.lo.clone(), fresh.hi.clone(), suppressed = false))
            }
        }
      }
    }

    private def reuseOrSuppress(st: State, pivot: In): Seq[Out] =
      bestFittingCluster(st, pivot) match {
        case Some(c) =>
          Seq(Out(pivot.payload, c.lo.clone(), c.hi.clone(), suppressed = false))
        case None =>
          // suppress = generalize to global bounds, copied by value
          // (Generalizer.java:246-257; SURVEY.md §2.4 Q7 fixed)
          Seq(Out(pivot.payload, normLo(st).clone(), normHi(st).clone(), suppressed = true))
      }

    /** Among live clusters strictly containing the pivot, the one with minimum
      * information loss; ties broken by (createdAt, seq) for determinism
      * (Generalizer.findFittingOldCluster, Generalizer.java:230-243).
      */
    private def bestFittingCluster(st: State, pivot: In): Option[Cluster] = {
      var best: Cluster = null
      var bestLoss = Double.PositiveInfinity
      st.clusters.foreach { c =>
        if (c.fits(pivot.qids)) {
          val loss = c.infoLoss(normLo(st), normHi(st))
          if (best == null || loss < bestLoss ||
              (loss == bestLoss &&
                Ordering[(Long, Long)].lt((c.createdAtMs, c.seq), (best.createdAtMs, best.seq)))) {
            best = c; bestLoss = loss
          }
        }
      }
      Option(best)
    }

    /** k-1 nearest buffered tuples to the pivot by average per-QID-normalized
      * L1 distance (Generalizer.knn + DistanceComparator,
      * Generalizer.java:193-227,342-365), stable tie-break on (arrival, seq).
      * With `uniquePid` on (the paper's constraint, disabled in the reference),
      * at most one tuple per distinct PID (≠ pivot's) is taken; returns None
      * when fewer than k-1 qualify.
      */
    private def knn(st: State, pivot: In): Option[Seq[In]] = {
      val sorted = st.buffer.toIndexedSeq
        .sortBy(t => (distance(st, pivot, t), t.arrivalMs, t.seq))
      val picked = mutable.ArrayBuffer.empty[In]
      if (cfg.quirks.uniquePid) {
        val seen = mutable.HashSet[Long](pivot.pid)
        val it = sorted.iterator
        while (picked.size < cfg.k - 1 && it.hasNext) {
          val t = it.next()
          if (seen.add(t.pid)) picked += t
        }
      } else {
        picked ++= sorted.take(cfg.k - 1)
      }
      if (picked.size < cfg.k - 1) None else Some(picked.toSeq)
    }

    /** Average normalized L1 distance (DistanceComparator.averageDistance,
      * Generalizer.java:353-360). Correct formula: |a_i - b_i| / (gmax_i -
      * gmin_i), 0-width range ⇒ 0 (Q8). The `referenceDistance` quirk instead
      * reproduces `|a_i - b_i| / gmax_i - gmin_i` (Q2 precedence bug).
      */
    def distance(st: State, a: In, b: In): Double = {
      val lo = normLo(st); val hi = normHi(st)
      // Q3 raw-field-index replay: compare the tuple's LEADING raw fields
      // while keeping the QID-bound normalizers (Generalizer.java:355)
      val av = if (cfg.quirks.rawFieldDistance && a.raw != null) a.raw else a.qids
      val bv = if (cfg.quirks.rawFieldDistance && b.raw != null) b.raw else b.qids
      var s = 0.0
      var i = 0
      while (i < cfg.nQid) {
        val d = math.abs(av(i) - bv(i))
        if (cfg.quirks.referenceDistance) {
          if (hi(i) != 0) s += d / hi(i) - lo(i) else s -= lo(i)
        } else {
          val range = hi(i) - lo(i)
          if (range > 0) s += d / range
        }
        i += 1
      }
      s / cfg.nQid
    }

    /** Convenience: run a whole bounded input deterministically as ONE
      * stream (the specs' oracle). `clock` maps each input to the
      * processing-time instant at which it is handled. The batch replay of
      * every [[graft.ops.FadsReplays]] variant does not call it: its one
      * entry point, `FadsBatch.anonymize`, loops in `runPartitions`, which
      * starts a fresh state at each shard boundary of a sorted partition.
      */
    def runAll(input: Iterator[In], clock: In => Long): Iterator[Out] = {
      val st = new State(cfg.nQid)
      var lastNow = 0L
      val live = input.flatMap { t =>
        lastNow = clock(t)
        step(st, t, lastNow)
      }
      // Iterator.++'s argument is by-name: the drain runs only after `live`
      // is exhausted, i.e. after the last input was processed.
      live ++ drain(st, lastNow).iterator
    }
  }
}
