package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Session, SparkEntry, Tables}

/** Scale-evidence harness (round-7 verdict item 1): replicate the sf0.1
  * tables k-fold with key shifts and per-copy text salting, then time the
  * headline entries at 1×/10×/100× so the 100 TB story is MEASURED, not
  * argued from plan shapes.
  *
  * Replication design (same protocol as the round-2 study, NOTES_r2.md):
  * - documents: `doc_id += c·D`; every 4th token of copies c>0 gets a
  *   `~c` suffix, so replicas are NOT near-duplicates of their originals —
  *   candidate growth then measures the ALGORITHM's scaling, not an
  *   artificial 10-clone quadratic blowup. `n_chars` is recomputed.
  * - embeddings: `vec_id += c·V`; copies c>0 get per-(vec, dim, copy)
  *   pseudo-random noise (hash-derived, deterministic) with a COPY-GRADED
  *   amplitude — noise-vector norm σ spans ≈[0.15, 1.4] across copies,
  *   i.e. cosine-to-original from ~0.99 (genuine near-neighbor) down to
  *   ~0.6 (distractor) — then are re-normalized to the unit sphere. A
  *   query's true top-k is then a non-trivial mix of tight perturbations
  *   and other originals spread across IVF cells, so the ×100 recall
  *   numbers measure real ANN work (round-9/10 verdict: the previous
  *   constant `c/1000` shift left the corpus replica-dense and easy).
  * - orders/lineitem: `o_orderkey/l_orderkey += c·O` (fact-side weak
  *   scaling; dimensions stay 1× — the broadcast sides are meant to stay
  *   small while facts grow, which is exactly the 100 TB shape).
  * - events: `event_id += c·E`, everything else unchanged (10× sequential
  *   load through the same FADS parameter envelope; ts surfaces as LONG
  *   nanos via Tables.load, so the copy preserves it bit-for-bit).
  * - dims (region/nation/customer/supplier/part): copied as-is.
  *
  * Usage:
  *   runMain graft.tools.Scale gen      <baseSfDir> <outDir> <k> [corpusOnly]
  *   runMain graft.tools.Scale run      <dir> <label> <query...>
  *   runMain graft.tools.Scale probe    <batchDir> <indexDir>
  *   runMain graft.tools.Scale ivfprobe <batchDir> <indexDir>
  *   runMain graft.tools.Scale stream     <dir>
  *   runMain graft.tools.Scale streamdiag <dir>
  *
  * `run` prints one JSON line per query: best-of-2 after one untimed
  * warmup (noop sink), plus the result row count for candidate-shaped
  * surfaces. `probe` times ONLY the incremental-dedup probe, holding the
  * incoming batch fixed (batchDir's) while using indexDir's persisted
  * index — the batch-cost-vs-index-size measurement.
  */
object Scale {

  /** Locale.ROOT number formatting for the JSON output lines — the
    * f-interpolator uses the JVM default locale, and a decimal-comma
    * locale would emit invalid JSON (same hazard [[graft.Bench]] fixed).
    */
  private def num(v: Double, dp: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))

  private lazy val spark: SparkSession = Session.start("graft-scale")

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Best-of-2 wall of building `df` and writing it to the noop sink,
    * after one untimed warmup; the cache is cleared after every run.
    */
  private def bestOf2(spark: SparkSession)(df: => DataFrame): Double = {
    def once(): Double = {
      val t = timed(df.write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      t
    }
    once()
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: base :: out :: k :: rest =>
      gen(spark, base, out, k.toInt, corpusOnly = rest.contains("corpusOnly"),
        eventsOnly = rest.contains("eventsOnly"),
        relOnly = rest.contains("relOnly"))
    case "run" :: dir :: label :: names if names.nonEmpty =>
      run(spark, dir, label, names)
    case "show" :: dir :: names if names.nonEmpty =>
      show(spark, dir, names)
    case "append" :: dir :: Nil =>
      appendCost(spark, dir)
    case "inplace" :: batchDir :: indexDir :: Nil =>
      inplaceCost(spark, batchDir, indexDir)
    case "probe" :: batchDir :: indexDir :: rest if rest.size <= 1 =>
      probe(spark, batchDir, indexDir,
        rest.headOption.map(_.toInt).getOrElse(1))
    case "ivfprobe" :: batchDir :: indexDir :: Nil =>
      ivfProbe(spark, batchDir, indexDir)
    case "bm25" :: indexDir :: Nil =>
      bm25Probe(spark, indexDir)
    case "stream" :: dir :: Nil =>
      stream(dir)
    case "streamdiag" :: dir :: Nil =>
      streamDiag(dir)
    case other =>
      sys.error("usage: gen <base> <out> <k> [corpusOnly|relOnly|eventsOnly]" +
        " | run <dir> <label> <q...> | show <dir> <q...> | append <dir>" +
        " | inplace <batchDir> <indexDir> | probe <batchDir> <indexDir> [batchDivisor]" +
        " | ivfprobe <batchDir> <indexDir> | bm25 <indexDir>" +
        s" | stream <dir> | streamdiag <dir>; got $other")
  }

  def gen(spark: SparkSession, base: String, out: String, k: Int,
      corpusOnly: Boolean, eventsOnly: Boolean = false,
      relOnly: Boolean = false): Unit = {

    def copies(df: DataFrame): DataFrame =
      df.selectExpr(s"explode(sequence(0, ${k - 1})) AS c", "*")

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] wrote $out/$name.parquet")
    }

    if (eventsOnly) {
      val e = Tables.load(spark, base, "events").agg(org.apache.spark.sql.functions
        .max("event_id")).head().getLong(0) + 1
      write(copies(Tables.load(spark, base, "events"))
        .withColumn("event_id",
          org.apache.spark.sql.functions.expr(s"event_id + c * ${e}L"))
        .drop("c"), "events")
      spark.stop()
      return
    }

    if (!relOnly) {
    val d = Tables.load(spark, base, "documents").agg(org.apache.spark.sql.functions
      .max("doc_id")).head().getLong(0) + 1
    write(copies(Tables.load(spark, base, "documents"))
      .selectExpr(
        s"doc_id + c * ${d}L AS doc_id",
        // salt every 4th token of copies c>0: replicas share no 3-gram
        // run longer than 3 tokens with the original, so they are not
        // near-dups at the 0.15/0.5 thresholds (round-2 protocol)
        """CASE WHEN c = 0 THEN text
          |ELSE array_join(transform(split(text, ' '),
          |       (w, i) -> CASE WHEN i % 4 = 0
          |                 THEN concat(w, '~', CAST(c AS STRING)) ELSE w END), ' ')
          |END AS text""".stripMargin,
        "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars"),
      "documents")

    val v = Tables.load(spark, base, "embeddings").agg(org.apache.spark.sql.functions
      .max("vec_id")).head().getLong(0) + 1
    // noise: uniform [-amp, amp] per component from a murmur3 hash of
    // (vec_id, c, dim) — deterministic, no RNG state. amp grades per copy
    // over [0.03, 0.32] (component scale ~1/√64 = 0.125), giving noise
    // norms σ = amp·√(64/3) ∈ [~0.14, ~1.5]: cos = 1/√(1+σ²) runs ~0.99
    // down to ~0.55. Re-normalized so cosine math stays on the sphere.
    write(copies(Tables.load(spark, base, "embeddings"))
      .selectExpr(
        s"vec_id + c * ${v}L AS vec_id",
        """CASE WHEN c = 0 THEN transform(embedding, x -> CAST(x AS DOUBLE))
          |ELSE transform(embedding, (x, i) -> CAST(x AS DOUBLE)
          |  + (0.03 + 0.29 * (pmod(hash('amp', c), 97) / 96.0))
          |    * ((pmod(hash(vec_id, c, i), 20001) - 10000) / 10000.0))
          |END AS p""".stripMargin,
        "label")
      .selectExpr(
        "vec_id",
        "transform(p, x -> CAST(x / sqrt(aggregate(p, CAST(0 AS DOUBLE), " +
          "(a, y) -> a + y * y)) AS FLOAT)) AS embedding",
        "label"),
      "embeddings")
    }

    if (!corpusOnly) {
      val o = Tables.load(spark, base, "orders").agg(org.apache.spark.sql.functions
        .max("o_orderkey")).head().getLong(0) + 1
      write(copies(Tables.load(spark, base, "orders"))
        .withColumn("o_orderkey",
          org.apache.spark.sql.functions.expr(s"o_orderkey + c * ${o}L"))
        .drop("c"), "orders")
      write(copies(Tables.load(spark, base, "lineitem"))
        .withColumn("l_orderkey",
          org.apache.spark.sql.functions.expr(s"l_orderkey + c * ${o}L"))
        .drop("c"), "lineitem")

      val e = Tables.load(spark, base, "events").agg(org.apache.spark.sql.functions
        .max("event_id")).head().getLong(0) + 1
      write(copies(Tables.load(spark, base, "events"))
        .withColumn("event_id",
          org.apache.spark.sql.functions.expr(s"event_id + c * ${e}L"))
        .drop("c"), "events")

      Seq("region", "nation", "customer", "supplier", "part")
        .foreach(n => write(Tables.load(spark, base, n), n))
    }
    spark.stop()
  }

  /** Entries whose output cardinality is itself scale evidence (candidate
    * pairs / survivors) — `run` counts them once, untimed.
    */
  private val countShaped = Set(
    "dedup_minhash_lsh", "dedup_jaccard_lsh_gated", "dedup_simhash_wide",
    "dedup_incremental_batch", "dedup_components", "pipeline_clean_corpus")

  def run(spark: SparkSession, dir: String, label: String,
      names: Seq[String]): Unit = {
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val best = bestOf2(spark)(fn(spark, dir))
      val rows =
        if (countShaped(name)) { val n = fn(spark, dir).count(); spark.catalog.clearCache(); n }
        else -1L
      println(s"""[scale] {"label":"$label","query":"$name","sec":${num(best)},"rows":$rows}""")
    }
    spark.stop()
  }

  /** Print an entry's full result rows at a scale dir — for small quality
    * surfaces whose VALUES are the evidence (e.g. `sim_recall_gate` at
    * ×100: recall per ANN construction), not their wall time.
    */
  def show(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    names.foreach { name =>
      val rows = SparkEntry.queries(name)(spark, dir).collect()
      println(s"[scale] $name @ $dir (${rows.length} rows):")
      rows.foreach(r => println("  " + r.toString))
    }
    spark.stop()
  }

  /** Phase breakdown of the incremental ingest loop (the verdict's
    * "append-cost line"): working-copy seed, wave-1 probe+sign, the
    * bucket-wise upsert merge itself, manifest commit, and the wave-2
    * re-probe — so the MERGE cost is visible separately from the
    * test-isolation copy tax.
    */
  def appendCost(spark: SparkSession, dir: String): Unit = {
    import graft.pipeline.Dedup
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    val out = Dedup.incrementalAppend(spark, dir,
      (name, sec) => phases.update(name, sec))
    val t1 = System.nanoTime()
    val reProbe = timed(out.write.format("noop").mode("overwrite").save())
    phases.update("plan_setup_other", (t1 - t0) / 1e9 - phases.values.sum)
    phases.update("reprobe_wave2", reProbe)
    val js = phases.map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString("{", ",", "}")
    println(s"""[scale] {"append_dir":"$dir","phases":$js}""")
    spark.stop()
  }

  /** Phase costs of the IN-PLACE bucket-wise append
    * ([[graft.pipeline.Dedup.appendInplaceCore]]) against an
    * already-built index: probe wave 1 of `batchDir`'s documents, append
    * the accepted band rows to `indexDir`'s persisted index (touched
    * `band=/bhp=` dirs only), commit the manifest, re-probe wave 2
    * pruned. Run against 1×/10×/100× indexes with a fixed batch, the
    * `bucketwise_append` phase is the index-size-independence evidence
    * the compact-and-swap variant cannot give (its swap is
    * snapshot-proportional). MUTATES the index — scaled corpora are
    * throwaway; regenerate with `gen` for a clean re-run.
    */
  def inplaceCost(spark: SparkSession, batchDir: String, indexDir: String): Unit = {
    import graft.pipeline.Dedup
    val indexPath = Dedup.ensureMinhashIndex(spark, indexDir)
    val indexRows = spark.read.parquet(indexPath).count()
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val out = Dedup.appendInplaceCore(spark, batchDir, indexPath,
      (name, sec) => phases.update(name, sec))
    val reProbe = timed(out.write.format("noop").mode("overwrite").save())
    phases.update("reprobe_wave2_pruned", reProbe)
    val js = phases.map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString("{", ",", "}")
    println(s"""[scale] {"inplace_batch":"$batchDir","index":"$indexDir","index_rows":$indexRows,"phases":$js}""")
    println(s"[scale] note: index at $indexPath is now AUGMENTED (in-place append)")
    spark.stop()
  }

  /** IVF probe wall vs index size: hold `batchDir`'s wave-1 queries
    * fixed while probing `indexDir`'s persisted IVF index — the ANN twin
    * of [[probe]]'s batch-cost-vs-index-size measurement. The probe set
    * is chosen by the INDEX's persisted codebook (corpus-adaptive sizing:
    * a ×100 index derives ~250 lists while the 1× batch corpus would
    * derive 16 — the codebook is an index artifact, not a batch one).
    */
  def ivfProbe(spark: SparkSession, batchDir: String, indexDir: String): Unit = {
    import graft.pipeline.{IvfIndex, Similarity}
    val queries = Similarity.ivfProbeInputs(spark, batchDir)
    // the same queries against each list layout: float lists; SQ8 (1 byte/
    // dim) and PQ codes (2 bytes) with exact re-rank on the float corpus —
    // wall + on-disk list bytes of each (the probe's list-IO proxy)
    val (paths, secs) = Seq(IvfIndex.Float, IvfIndex.Sq8, IvfIndex.Pq).map {
      layout =>
        val path = IvfIndex.ensure(spark, indexDir, layout)
        (path, bestOf2(spark)(IvfIndex.probe(spark, indexDir, path, layout, queries)))
    }.unzip
    val indexRows = spark.read.parquet(paths.head).count()
    val nCent = IvfIndex.open(spark, paths.head, IvfIndex.Float).cent.count()
    def listBytes(root: String): Long = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var s = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.toString.contains("c_id=") &&
            f.getPath.getName.endsWith(".parquet")) s += f.getLen
      }
      s
    }
    val Seq(fBytes, qBytes, pBytes) = paths.map(listBytes)
    val Seq(sec, secQ, secP) = secs
    println(s"""[scale] {"ivfprobe_batch":"$batchDir","index":"$indexDir","centroids":$nCent,"index_rows":$indexRows,"sec_pruned":${num(sec)},"sec_sq8":${num(secQ)},"sec_pq":${num(secP)},"list_bytes_float":$fBytes,"list_bytes_sq8":$qBytes,"list_bytes_pq":$pBytes,"list_bytes_ratio":${num(fBytes.toDouble / math.max(1L, qBytes), 2)},"list_bytes_sq8_over_pq":${num(qBytes.toDouble / math.max(1L, pBytes), 2)}}""")
    spark.stop()
  }

  /** BM25 probe-cost attribution: the standing query set held FIXED while
    * the index under it scales (1×/10×/100× corpora via `gen`), timing the
    * manifest-pruned probe against the full-postings scorer on the same
    * committed index. The design claim under test: pruned-probe wall is
    * query-proportional (touched buckets only), full-scan wall grows with
    * the corpus.
    */
  def bm25Probe(spark: SparkSession, indexDir: String): Unit = {
    import graft.pipeline.Retrieval
    val root = Retrieval.ensureBm25Index(spark, indexDir)
    def read(artifact: String) =
      graft.pipeline.IndexCommit.read(spark, root, artifact, None)
    val postRows = read("postings").count()
    val manifest = graft.pipeline.IndexCommit.partitions(spark, root)
    val touched = Retrieval.bucketDirs(Retrieval.Queries.flatMap(_._2.split(' ')))
      .toSet.intersect(manifest).size
    val qterms = Retrieval.queryTerms(spark)
    val candPairs = read("blockmax")
      .join(qterms, "term").select("query_id", "blk").distinct().count()
    val survPairs = Retrieval.blockSurvivors(spark, root).count()
    val secP = bestOf2(spark)(Retrieval.prunedTopK(spark, root))
    val secF = bestOf2(spark)(Retrieval.scoreTopK(
      Retrieval.queryTerms(spark),
      read("postings").select("term", "doc_id", "tf", "dl"),
      read("stats").select("term", "df"),
      Retrieval.metaFrame(spark, root)))
    val secB = bestOf2(spark)(Retrieval.blockMaxTopK(spark, root))
    println(s"""[scale] {"bm25probe_index":"$indexDir","postings_rows":$postRows,"buckets":${manifest.size},"touched_buckets":$touched,"sec_pruned":${num(secP)},"sec_full":${num(secF)},"sec_blockmax":${num(secB)},"blockmax_candidate_pairs":$candPairs,"blockmax_surviving_pairs":$survPairs}""")
    spark.stop()
  }

  /** A fresh checkpoint directory for one timed stream, on the session
    * scratch tier and deleted at JVM exit ([[graft.TempDirs]]).
    */
  private def streamCkpt(): String = graft.TempDirs.scoped("scale-ckpt")

  /** Per-micro-batch diagnosis of the streaming legs (round-11 verdict
    * item 2: the sharded throughput halved in the driver artifact with no
    * explanation). Runs Bench's legs — single-key and 8-shard — twice
    * each and prints each run's wall time and state totals, then every
    * trigger's [[graft.streaming.ProgressSummary]] line (durations,
    * state-operator commit/update/fsync), so trigger-level cost can be
    * attributed instead of argued about.
    */
  def streamDiag(dir: String): Unit = {
    import graft.streaming.FadsStream
    val staged = FadsStream.stageEvents(FadsStream.eventsFrame(spark, dir))
    for (i <- 1 to 2; (name, shards) <- Seq("single" -> 1, "sharded8" -> 8)) {
      val label = s"$name#$i"
      val run = FadsStream.timedRun(spark, staged, shards, streamCkpt())()
      println(s"""[streamdiag] {"run":"$label","wall_sec":${num(run.sec)},"rows":${staged.rows},"rps":${num(staged.rows / run.sec, 1)},"batches":${run.progress.size},"state":${run.summary.stateJson}}""")
      run.summary.lines.foreach(l => println(s"[streamdiag:$label] $l"))
    }
    spark.stop()
  }

  /** Streaming FADS throughput at scale: unthrottled paced replay of the
    * given dir's `events` through the transformWithState operator (the
    * graft.Bench streaming leg, parameterized by corpus) — single-key and
    * 8/16/32 shards, best-of-2, then the checkpoint-restart cost of the
    * widest. At 10× events per trigger the per-batch RocksDB commit floor
    * amortizes (NOTES_r2 predicted streaming shards converge to the batch
    * ratio at production batch sizes; this measures it).
    */
  def stream(dir: String): Unit = {
    import graft.streaming.FadsStream
    val staged = FadsStream.stageEvents(FadsStream.eventsFrame(spark, dir))
    val nRows = staged.rows
    def once(shards: Int): Double =
      FadsStream.timedRun(spark, staged, shards, streamCkpt())().sec
    val s1 = math.min(once(1), once(1))
    val shardWalls = Seq(8, 16, 32).map(n => n -> math.min(once(n), once(n)))

    // Checkpoint-restart cost at this state size (round-7 verdict item 4):
    // run the widest sharded config over the first half of the staged
    // chunks, stop, add the other half to its source dir, then TIME the
    // restart draining them from the checkpoint — the wall covers
    // offset-log replay + per-shard RocksDB state reload + the second half
    // of the data. Reported beside the same config's uninterrupted wall so
    // the recovery overhead is the difference; null, with the reason, when
    // there is nothing to resume.
    val restartShards = 32
    val restartJson = {
      def skipped(reason: String) =
        s""""restart_half_sec":null,"restart_null_reason":"$reason""""
      if (staged.chunks < 2) skipped(s"${staged.rows} rows stage into one chunk")
      else {
        val source = staged.copy(dir = graft.TempDirs.scoped("scale-restart"))
        // chunk files keep their staged mtimes, the order the source admits
        def add(chunks: Range): Unit = chunks.foreach { i =>
          val chunk = f"__chunk=$i%09d"
          val to = Files.createDirectories(Paths.get(source.dir, chunk))
          val files = Files.list(Paths.get(staged.dir, chunk))
          try files.forEach(f => Files.copy(f, to.resolve(f.getFileName),
            StandardCopyOption.COPY_ATTRIBUTES))
          finally files.close()
        }
        val ckpt = streamCkpt()
        val half = (staged.chunks / 2).toInt
        add(0 until half)
        FadsStream.timedRun(spark, source, restartShards, ckpt)()
        add(half until staged.chunks.toInt)
        val resumed = FadsStream.timedRun(spark, source, restartShards, ckpt)()
        val resumedRows = resumed.progress.map(_.numInputRows).sum
        if (resumedRows == 0) skipped("the resumed run read no rows")
        else
          s""""restart_half_sec":${num(resumed.sec)},"restart_resumed_rows":$resumedRows"""
      }
    }

    val shardJson = shardWalls.map { case (n, s) =>
      s""""$n":{"sec":${num(s)},"rps":${num(nRows / s, 1)}}"""
    }.mkString("{", ",", "}")
    println(s"""[scale] {"stream_dir":"$dir","rows":$nRows,"single_sec":${num(s1)},"single_rps":${num(nRows / s1, 1)},"shards":$shardJson,"restart_shards":$restartShards,$restartJson}""")
    spark.stop()
  }

  /** Probe-vs-index-size measurement. `batchDivisor` > 1 thins the fixed
    * incoming batch deterministically (doc_id % (IncrSplitMod·divisor) = 0)
    * to the small-batch production shape where bucket pruning pays; both
    * the full-scan and the bucket-pruned probe are timed so the pruning
    * win is itself measured, not asserted.
    */
  def probe(spark: SparkSession, batchDir: String, indexDir: String,
      batchDivisor: Int = 1): Unit = {
    import graft.pipeline.Dedup
    val indexPath = Dedup.ensureMinhashIndex(spark, indexDir)
    val indexRows = spark.read.parquet(indexPath).count()
    val incoming = Tables.load(spark, batchDir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod * batchDivisor} = 0")
    val batchRows = incoming.count()
    def best(prune: Boolean): Double =
      bestOf2(spark)(Dedup.incrementalProbe(spark, incoming, indexPath, prune))
    val full = best(prune = false)
    val pruned = best(prune = true)
    val cand = Dedup.incrementalProbe(spark, incoming, indexPath).count()
    spark.catalog.clearCache()
    // the probed index's ACTUAL layout, parsed from its path (ADVICE r16:
    // indexBuckets(spark, batchDir) logged the wrong count when
    // batchDir != indexDir, and cost an extra docsStats aggregate)
    println(s"""[scale] {"probe_batch":"$batchDir","index":"$indexDir","buckets":${Dedup.bucketsOf(indexPath)},"index_rows":$indexRows,"batch_rows":$batchRows,"sec_full":${num(full)},"sec_pruned":${num(pruned)},"candidates":$cand}""")
    spark.stop()
  }
}
