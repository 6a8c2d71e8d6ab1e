package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

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

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: base :: out :: k :: rest =>
      gen(session(), base, out, k.toInt, corpusOnly = rest.contains("corpusOnly"),
        eventsOnly = rest.contains("eventsOnly"),
        relOnly = rest.contains("relOnly"))
    case "run" :: dir :: label :: names if names.nonEmpty =>
      run(session(), dir, label, names)
    case "show" :: dir :: names if names.nonEmpty =>
      show(session(), dir, names)
    case "append" :: dir :: Nil =>
      appendCost(session(), dir)
    case "inplace" :: batchDir :: indexDir :: Nil =>
      inplaceCost(session(), batchDir, indexDir)
    case "probe" :: batchDir :: indexDir :: rest if rest.size <= 1 =>
      probe(session(), batchDir, indexDir,
        rest.headOption.map(_.toInt).getOrElse(1))
    case "ivfprobe" :: batchDir :: indexDir :: Nil =>
      ivfProbe(session(), batchDir, indexDir)
    case "bm25" :: indexDir :: Nil =>
      bm25Probe(session(), indexDir)
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
      def once(): Double = {
        val t = timed(fn(spark, dir).write.format("noop").mode("overwrite").save())
        spark.catalog.clearCache()
        t
      }
      once() // untimed warmup
      val best = math.min(once(), once())
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

  /** Streaming FADS throughput at scale: unthrottled paced replay of the
    * given dir's `events` through the transformWithState operator (the
    * graft.Bench streaming leg, parameterized by corpus) — single-stream
    * and 8-shard, best-of-2. At 10× events per trigger the per-batch
    * RocksDB commit floor amortizes (NOTES_r2 predicted streaming shards
    * converge to the batch ratio at production batch sizes; this measures
    * it).
    */
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
        def once(): Double = {
          val t = timed(IvfIndex.probe(spark, indexDir, path, layout, queries)
            .write.format("noop").mode("overwrite").save())
          spark.catalog.clearCache()
          t
        }
        once() // untimed warmup
        (path, math.min(once(), once()))
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
    val postRows = spark.read.parquet(s"$root/postings").count()
    val manifest = Retrieval.readTbManifest(spark, root)
    val touched = Retrieval.Queries.flatMap(_._2.split(' '))
      .map(Retrieval.termBucket).toSet.intersect(manifest).size
    def once(df: => org.apache.spark.sql.DataFrame): Double = {
      val t = timed(df.write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      t
    }
    def pruned() = once(Retrieval.prunedTopK(spark, root))
    def full() = once(Retrieval.scoreTopK(
      Retrieval.queryTerms(spark),
      spark.read.parquet(s"$root/postings").select("term", "doc_id", "tf", "dl"),
      spark.read.parquet(s"$root/stats").select("term", "df"),
      spark.read.parquet(s"$root/meta")
        .agg(org.apache.spark.sql.functions.max("n_docs").as("n_docs"),
          org.apache.spark.sql.functions.max("total_tokens").as("total_tokens"))))
    Retrieval.ensureBlockMax(spark, root)
    val qterms = Retrieval.queryTerms(spark)
    val candPairs = spark.read.parquet(s"$root/blockmax")
      .join(qterms, "term").select("query_id", "blk").distinct().count()
    val survPairs = Retrieval.blockSurvivors(spark, root).count()
    def blockmax() = once(Retrieval.blockMaxTopK(spark, root))
    pruned(); full(); blockmax() // untimed warmup
    val secP = math.min(pruned(), pruned())
    val secF = math.min(full(), full())
    val secB = math.min(blockmax(), blockmax())
    println(s"""[scale] {"bm25probe_index":"$indexDir","postings_rows":$postRows,"buckets":${manifest.size},"touched_buckets":$touched,"sec_pruned":${num(secP)},"sec_full":${num(secF)},"sec_blockmax":${num(secB)},"blockmax_candidate_pairs":$candPairs,"blockmax_surviving_pairs":$survPairs}""")
    spark.stop()
  }

  /** Per-micro-batch diagnosis of the streaming legs (round-11 verdict
    * item 2: the sharded throughput halved in the driver artifact with no
    * explanation). Runs the Bench wiring — single-stream (2 partitions)
    * and 8-shard — twice each and dumps EVERY StreamingQueryProgress as
    * raw JSON (`[streamdiag] {...}` lines), so trigger-level durations
    * (addBatch, walCommit, stateOperators commit/update times, RocksDB
    * custom metrics) can be attributed instead of argued about.
    */
  def streamDiag(dir: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.streaming.FadsStream.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.streaming.{Event, FadsStream, PacedReplay}

    val events = Tables.load(spark, dir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
    val nRows = events.count()
    val stageDir = java.nio.file.Files.createTempDirectory("diag-stage").toString
    val rowsPerFile = math.max(5000, (nRows / 10).toInt)
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile, stageDir)

    def runOnce(label: String, parts: String,
        wire: org.apache.spark.sql.Dataset[Event] => org.apache.spark.sql.Dataset[_]): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val ckpt = java.nio.file.Files.createTempDirectory("diag-ckpt").toString
      val t0 = System.nanoTime()
      val q = wire(PacedReplay.stream(spark, stageDir, events.schema).as[Event])
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(PacedReplay.trigger(0))
        .start()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      println(s"""[streamdiag] {"run":"$label","wall_sec":${num(wall)},"rows":$nRows,"rps":${num(nRows / wall, 1)},"batches":${progs.length}}""")
      progs.foreach(p => println(s"[streamdiag:$label] ${p.json}"))
    }

    val cfg = graft.SparkEntry.eventsFadsConfig
    (1 to 2).foreach { i =>
      runOnce(s"single#$i", "2", ds => FadsStream.anonymize(ds, cfg))
      runOnce(s"sharded8#$i", "8",
        ds => FadsStream.anonymizeSharded(ds, cfg, e => e.user_id % 8))
    }
    spark.stop()
  }

  def stream(dir: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.streaming.FadsStream.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.streaming.{Event, FadsStream, PacedReplay}

    val events = Tables.load(spark, dir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
    val nRows = events.count()
    val stageDir = java.nio.file.Files.createTempDirectory("scale-stage").toString
    val rowsPerFile = math.max(5000, (nRows / 10).toInt)
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile, stageDir)

    def streamOnce(parts: String,
        wire: org.apache.spark.sql.Dataset[Event] => org.apache.spark.sql.Dataset[_]): Double = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val ckpt = java.nio.file.Files.createTempDirectory("scale-ckpt").toString
      val t = timed {
        val q = wire(PacedReplay.stream(spark, stageDir, events.schema).as[Event])
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(PacedReplay.trigger(0))
          .start()
        q.processAllAvailable()
        q.stop()
      }
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      t
    }

    val cfg = graft.SparkEntry.eventsFadsConfig
    def single() = streamOnce("2", ds => FadsStream.anonymize(ds, cfg))
    def sharded(n: Int) = streamOnce(n.toString,
      ds => FadsStream.anonymizeSharded(ds, cfg, e => e.user_id % n))
    val s1 = math.min(single(), single())
    val shardWalls = Seq(8, 16, 32).map { n =>
      n -> math.min(sharded(n), sharded(n))
    }

    // Checkpoint-restart cost at this state size (round-7 verdict item 4):
    // run the widest sharded config to ~half its micro-batches, hard-stop,
    // then TIME the restart draining the remainder from the checkpoint —
    // the wall covers offset-log replay + per-shard RocksDB state reload +
    // the second half of the data. Reported beside the same config's
    // uninterrupted wall so the recovery overhead is the difference.
    val restartShards = 32
    val restartSec = {
      spark.conf.set("spark.sql.shuffle.partitions", restartShards.toString)
      val ckpt = java.nio.file.Files.createTempDirectory("scale-ckpt").toString
      def wired() = FadsStream.anonymizeSharded(
        PacedReplay.stream(spark, stageDir, events.schema).as[Event], cfg,
        e => e.user_id % restartShards)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(PacedReplay.trigger(0))
      val q1 = wired().start()
      // stop mid-stream at batch ≥ 4; bail on drain (a small staged replay
      // can yield < 5 micro-batches — a drained FileStreamSource stops
      // advancing batchId while the query stays active, which would spin
      // this loop forever) or on a hard deadline
      val deadline = System.nanoTime() + 10L * 60 * 1000 * 1000 * 1000
      def drained(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        p.batchId > 0 && p.numInputRows == 0
      while (q1.isActive && System.nanoTime() < deadline &&
          Option(q1.lastProgress).forall(p => p.batchId < 4 && !drained(p)))
        Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      val t = timed {
        val q2 = wired().start()
        q2.processAllAvailable()
        q2.stop()
      }
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      t
    }

    val shardJson = shardWalls.map { case (n, s) =>
      s""""$n":{"sec":${num(s)},"rps":${num(nRows / s, 1)}}"""
    }.mkString("{", ",", "}")
    println(s"""[scale] {"stream_dir":"$dir","rows":$nRows,"single_sec":${num(s1)},"single_rps":${num(nRows / s1, 1)},"shards":$shardJson,"restart_shards":$restartShards,"restart_half_sec":${num(restartSec)}}""")
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
    def once(prune: Boolean): Double = {
      val t = timed(Dedup.incrementalProbe(spark, incoming, indexPath, prune)
        .write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      t
    }
    once(prune = false) // untimed warmup
    val full = math.min(once(prune = false), once(prune = false))
    once(prune = true)
    val pruned = math.min(once(prune = true), once(prune = true))
    val cand = Dedup.incrementalProbe(spark, incoming, indexPath).count()
    spark.catalog.clearCache()
    // the probed index's ACTUAL layout, parsed from its path (ADVICE r16:
    // indexBuckets(spark, batchDir) logged the wrong count when
    // batchDir != indexDir, and cost an extra docsStats aggregate)
    println(s"""[scale] {"probe_batch":"$batchDir","index":"$indexDir","buckets":${Dedup.bucketsOf(indexPath)},"index_rows":$indexRows,"batch_rows":$batchRows,"sec_full":${num(full)},"sec_pruned":${num(pruned)},"candidates":$cand}""")
    spark.stop()
  }
}
