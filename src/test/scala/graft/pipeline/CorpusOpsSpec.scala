package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Invariant tests for the corpus-management operators (cross-engine value
  * equality is the driver oracle's job; these pin the semantic contracts).
  */
class CorpusOpsSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("split: total, disjoint, deterministic, ratios near 80/10/10") {
    val rows = CorpusOps.split(spark, dir).collect()
    val nDocs = graft.Tables.load(spark, dir, "documents").count()
    assert(rows.length == nDocs) // every doc assigned exactly once
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.values.forall(_.length == 1))
    val frac = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.length.toDouble / rows.length).toMap
    // 256-bucket md5 hashing: generous bands for a small fixture
    assert(frac("train") > 0.70 && frac("train") < 0.90, s"train=$frac")
    assert(frac.getOrElse("val", 0.0) < 0.20 && frac.getOrElse("test", 0.0) < 0.20)
    // determinism: identical assignment on re-run
    val again = CorpusOps.split(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getString(2))).toSeq)
  }

  test("stratified sample: exact ceil(frac*n) per language, deterministic") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = CorpusOps.stratifiedSample(spark, dir).collect()
    val sampled = got.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    perLang.foreach { case (lang, n) =>
      assert(sampled.getOrElse(lang, 0) ==
        math.ceil(CorpusOps.SampleFrac * n).toLong, s"lang=$lang")
    }
    val again = CorpusOps.stratifiedSample(spark, dir).collect()
    assert(got.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("decontaminate: only non-eval docs flagged, with genuine overlap counts") {
    val rows = CorpusOps.decontaminate(spark, dir).collect()
    assert(rows.nonEmpty, "synthetic near-dups should contaminate the eval slice")
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % CorpusOps.EvalEvery != 0)
      assert(r.getAs[Long]("n_shared_grams") >= 1L)
      assert(r.getAs[Long]("n_eval_docs") >= 1L)
    }
  }

  test("pack sequences: contiguous token positions per shard, offsets within budget") {
    val rows = CorpusOps.packSequences(spark, dir).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("bin_first"),
        r.getAs[Long]("bin_last"), r.getAs[Long]("offset")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { shardRows =>
      val ordered = shardRows.sortBy(_._2)
      var pos = 0L
      ordered.foreach { case (_, _, n, binFirst, binLast, offset) =>
        assert(offset == pos % CorpusOps.PackBudget)
        assert(binFirst == pos / CorpusOps.PackBudget)
        assert(binLast == (pos + n - 1) / CorpusOps.PackBudget)
        pos += n // concat-and-chunk: no gaps, no overlaps
      }
    }
  }

  test("pii redact: every injected positive found, redaction leaves no matches") {
    import org.apache.spark.sql.functions._
    val rows = CorpusOps.piiRedact(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") >= 1L) // the injected email at minimum
      assert(r.getAs[Long]("n_phones") >= 1L)
    }
    // re-derive the redacted text and assert zero residual matches
    val residual = graft.Tables.load(spark, dir, "documents")
      .withColumn("txt", concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .withColumn("red", regexp_replace(
        regexp_replace(col("txt"), CorpusOps.EmailPat, "<EMAIL>"),
        CorpusOps.PhonePat, "<PHONE>"))
      .where(regexp_count(col("red"), lit(CorpusOps.EmailPat)) > 0 ||
        regexp_count(col("red"), lit(CorpusOps.PhonePat)) > 0)
      .count()
    assert(residual == 0L)
  }

  test("bigrams: top-k bounded, counts descending, well-formed") {
    val rows = CorpusOps.bigramStats(spark, dir).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val counts = rows.map(_.getAs[Long]("n"))
    assert(counts.sameElements(counts.sorted.reverse))
    rows.foreach(r => assert(r.getAs[String]("bigram").contains(" ")))
  }

  test("vocab: dense ranks, counts non-increasing, coverage monotone to <= 1") {
    val rows = CorpusOps.vocab(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= CorpusOps.VocabK)
    assert(rows.map(_.getAs[Long]("rk")).toSeq == (1L to rows.length).toSeq)
    val counts = rows.map(_.getAs[Long]("n"))
    assert(counts.sameElements(counts.sorted.reverse))
    val cov = rows.map(_.getAs[Double]("coverage"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a < b }) // counts >= 1
    assert(cov.last <= 1.0 + 1e-12)
    // cross-check the top-1 token count against a direct count
    val top = rows.head
    val direct = graft.Tables.load(spark, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS tok")
      .where(s"tok = '${top.getAs[String]("tok")}'").count()
    assert(top.getAs[Long]("n") == direct)
  }

  test("label centroids: one row per (label, dim); centroid inside data bounds") {
    val rows = CorpusOps.labelCentroids(spark, dir).collect()
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val labels = emb.select("label").distinct().count()
    assert(rows.length == labels * Similarity.Dim)
    val labelCounts = emb.groupBy("label").count().collect()
      .map(r => r.getAs[Int]("label").toLong -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == labelCounts(r.getAs[Int]("label").toLong))
      val c = r.getAs[Double]("centroid")
      assert(c >= -1.001 && c <= 1.001) // unit-ish embedding components
    }
  }

  test("chunkDocuments: stride starts, exact substrings, full coverage") {
    val docs = graft.Tables.load(spark, dir, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val byDoc = CorpusOps.chunkDocuments(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == docs.filter(_._2.nonEmpty).keySet)
    byDoc.foreach { case (id, cs) =>
      val text = docs(id)
      val sorted = cs.sortBy(_.getAs[Long]("chunk_idx"))
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Long]("chunk_idx") == i.toLong) // dense, 0-based
        val start = c.getAs[Long]("chunk_start").toInt
        assert(start == i * CorpusOps.ChunkStride)
        assert(c.getAs[String]("chunk_text") == text.substring(
          start, math.min(start + CorpusOps.ChunkSize, text.length)))
      }
      // coverage: the last chunk reaches the end of the document
      val last = sorted.last
      assert(last.getAs[Long]("chunk_start") + last.getAs[Long]("chunk_len")
        >= text.length)
      // no pure-duplicate tails: every chunk ends strictly beyond the
      // previous one, i.e. contributes at least one new character
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(b.getAs[Long]("chunk_start") + b.getAs[Long]("chunk_len") >
          a.getAs[Long]("chunk_start") + a.getAs[Long]("chunk_len"))
      }
    }
  }

  test("weightedSample: threshold respected, selective, deterministic") {
    val rows = CorpusOps.weightedSample(spark, dir).collect()
    val total = graft.Tables.load(spark, dir, "documents").count()
    assert(rows.nonEmpty && rows.length < total) // samples, not a pass-through
    rows.foreach { r =>
      assert(r.getAs[Long]("u_bucket") < r.getAs[Long]("w_buckets"))
      assert(r.getAs[Long]("w_buckets") <= 1024L)
    }
    val again = CorpusOps.weightedSample(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("temperatureSample: smallest group kept whole, big groups flattened") {
    val before = graft.Tables.load(spark, dir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = CorpusOps.temperatureSample(spark, dir).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    val minLang = before.minBy(_._2)._1
    // rate of the argmin group is 1 by construction: u² < 2³² always holds
    assert(kept(minLang) == before(minLang),
      s"smallest group '$minLang' must be kept exactly whole")
    // every strictly larger group is strictly subsampled
    before.filter(_._2 > before(minLang)).foreach { case (l, c) =>
      assert(kept(l) < c, s"group '$l' must shrink")
      // and lands near its geometric-mean target √(c_min·c_l): the hash
      // grid is uniform, so allow sampling noise of a few stddevs
      val target = math.sqrt(before(minLang).toDouble * c)
      assert(math.abs(kept(l) - target) < 4 * math.sqrt(target),
        s"group '$l': kept ${kept(l)} vs target $target")
    }
    // the mix flattens: dominant/min ratio strictly decreases
    val maxLang = before.maxBy(_._2)._1
    assert(kept(maxLang).toDouble / kept(minLang) <
      before(maxLang).toDouble / before(minLang))
  }

  test("incrementalMv: delta merge equals the from-scratch rollup") {
    val got = CorpusOps.incrementalMv(spark, dir).collect().map(_.toSeq)
    val want = graft.Tables.load(spark, dir, "documents")
      .groupBy("source", "lang")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum("n_chars").as("sum_chars"))
      .orderBy("source", "lang").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      "incrementally maintained view must equal the full recompute")
    // the persisted base view is reused, not rebuilt
    val f = new java.io.File(s"${CorpusOps.ensureAggMv(spark, dir)}/_SUCCESS")
    val before = f.lastModified()
    CorpusOps.ensureAggMv(spark, dir)
    assert(f.lastModified() == before)
  }

  test("an aggregate-MV root holding only _SUCCESS is rebuilt, not reused") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val root = CorpusOps.ensureAggMv(spark, dir)
    val (fs, p) = IndexCommit.fsOf(spark, root)
    fs.delete(p, true)
    fs.create(new org.apache.hadoop.fs.Path(p, "_SUCCESS")).close()
    assert(CorpusOps.ensureAggMv(spark, dir) == root)
    assert(IndexCommit.schemas(spark, root).keySet == Set(IndexCommit.Root))
    val got = spark.read.parquet(root).select("source", "lang", "n_docs", "sum_chars")
      .orderBy("source", "lang").collect().map(_.toSeq)
    val want = graft.Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} <> 0")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("source", "lang").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "the rebuilt view must hold the historical rollup")
  }

  test("fuzzyMatch: blocking finds every probe's source word") {
    val rows = CorpusOps.fuzzyMatch(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) <= 1))
    // recompute the deterministic corruption and demand recall = 1 on the
    // known (probe, source) pairs — the FastSS guarantee under test
    val vocab = graft.Tables.load(spark, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS w").where("w <> ''")
      .distinct().collect().map(_.getString(0))
    val matched = rows.map(r => (r.getString(0), r.getString(1))).toSet
    vocab.filter(_.length >= 3).foreach { w =>
      val pos = (Retrieval.polyHashLocal(w) % w.length).toInt
      val probe = w.substring(0, pos) + w.substring(pos + 1)
      assert(matched.contains((probe, w)),
        s"probe '$probe' must match its source '$w'")
    }
  }

  test("filterFunnel: stages chain and only shrink") {
    val rows = CorpusOps.filterFunnel(spark, dir).collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(rows.length == 4)
    assert(rows.head.getAs[Long]("n_in") ==
      graft.Tables.load(spark, dir, "documents").count())
    rows.foreach(r =>
      assert(r.getAs[Long]("n_out") <= r.getAs[Long]("n_in")))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_in") == a.getAs[Long]("n_out")) // chained gates
    }
  }

  test("importance sampling prefers target-like documents on a skewed corpus") {
    // disjoint vocabularies: src0 (target) docs speak language A, the
    // rest speak language B — A-bucket scores land near DsirQ (t ≈ r),
    // B-bucket scores near DsirQ/r. Acceptance must keep (nearly) all
    // target docs and reject (nearly) all off-target docs.
    val tmp = graft.TempDirs.scoped("dsir-skew")
    import spark.implicits._
    val rows = (0L until 200L).map { id =>
      val (src, words) =
        if (id % 2 == 0) ("src0", (0 until 30).map(i => s"a${(id + i) % 7}"))
        else ("src1", (0 until 30).map(i => s"b${(id + i) % 7}"))
      (id, words.mkString(" "), "en", src, 0L)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val kept = CorpusOps.importanceSample(spark, tmp).collect()
    val keptTarget = kept.count(_.getString(1) == "src0")
    val keptOther = kept.length - keptTarget
    assert(keptTarget >= 90,
      s"target slice must survive importance resampling ($keptTarget/100)")
    assert(keptOther <= 10,
      s"off-target docs must be (almost) all rejected ($keptOther/100)")
    // determinism: no RNG state anywhere
    val again = CorpusOps.importanceSample(spark, tmp).collect()
    assert(again.map(_.toSeq).toSeq == kept.map(_.toSeq).toSeq)
  }

  test("bloom-gated decontamination equals the exact join row-for-row") {
    // the structural guarantee stated in decontaminateBloom's scaladoc,
    // machine-checked: no false negatives means the Bloom pre-filter can
    // only ADD confirm-join probe rows, never change the result
    val exact = CorpusOps.decontaminate(spark, dir).collect().map(_.toSeq)
    val gated = CorpusOps.decontaminateBloom(spark, dir).collect().map(_.toSeq)
    assert(gated.toSeq == exact.toSeq)
  }

  test("compaction rewrites only fragmented partitions, preserving rows") {
    import spark.implicits._
    val work = graft.TempDirs.scoped("compact-spec") + "/t"
    // partition a: ONE file (not fragmented); partition b: three files
    Seq((1L, "a"), (2L, "a")).toDF("id", "source")
      .coalesce(1).write.mode("append").partitionBy("source").parquet(work)
    (0 until 3).foreach { i =>
      Seq((10L + i, "b")).toDF("id", "source")
        .coalesce(1).write.mode("append").partitionBy("source").parquet(work)
    }
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileIds(part: String): Set[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/source=$part"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.getName, f.getModificationTime)).toSet
    val aBefore = fileIds("a")
    val (before, after) = CorpusOps.compactFragmented(spark, work)
    assert(before == Map("a" -> 1L, "b" -> 3L) &&
      after == Map("a" -> 1L, "b" -> 1L), s"$before -> $after")
    // the untouched partition keeps its exact file (name AND mtime)
    assert(fileIds("a") == aBefore,
      "compaction touched a partition that was not fragmented")
    val rows = spark.read.parquet(work).select("id").as[Long]
      .collect().sorted.toSeq
    assert(rows == Seq(1L, 2L, 10L, 11L, 12L), "rows lost or duplicated")
  }

  test("compaction entry: every partition 4 files before, 1 after") {
    val rows = CorpusOps.compactPartitions(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("files_before") == CorpusOps.CompactWaves.toLong &&
        r.getAs[Long]("files_after") == 1L,
        s"unexpected file counts for ${r.getAs[String]("source")}")
    }
  }

  /** Constructed corpus for the end-to-end prepare funnel where EVERY
    * stage provably drops documents (on the real corpora the exact-dedup
    * stage happens to be a no-op — no exact dupes survive the quality
    * gate — so this is where stage liveness is pinned), plus an
    * independent Scala replica of the full funnel checking the corpus
    * fingerprint.
    */
  test("e2e prepare: every stage live on a constructed corpus, fp replica agrees") {
    import spark.implicits._
    // 40 distinct words ≈ 280 chars, distinct ratio 1.0: passes quality
    def good(seed: Int): String =
      (0 until 40).map(i => s"w${seed}x$i").mkString(" ")
    val rows = Seq.newBuilder[(Long, String, String, String, Long)]
    def add(id: Long, text: String, lang: String = "en"): Unit =
      rows += ((id, text, lang, s"src${id % 3}", text.length.toLong))
    add(0L, good(100)) // eval doc (id % 10 == 0)
    add(1L, good(1)); add(2L, good(2)); add(3L, good(3))
    add(4L, good(2))               // exact duplicate of doc 2 -> dedup drop
    add(5L, good(1), lang = "de")  // language gate drop
    add(6L, "short words only")    // length gate drop
    add(7L, Seq.fill(40)("rep").mkString(" ")) // distinct-ratio drop
    // shares EXACTLY one 5-gram run with eval doc 0 (the decontamination
    // trigger) while its shingle Jaccard to doc 0 stays ~0.04 — far under
    // the near-dup confirm, so THIS doc must reach and fail stage 6, not
    // be swallowed by the LSH stage
    add(8L, ((0 until 35).map(i => s"w8y$i") ++
      good(100).split(' ').take(5)).mkString(" "))
    add(9L, good(9)); add(11L, good(11))
    add(10L, good(200))            // second eval doc
    // near-dup of doc 3 (one trailing word swapped: shingle Jaccard ≈
    // 0.93, same band buckets) — survives exact dedup, drops at the LSH
    // stage under keep-first (12 > 3)
    add(12L, (good(3).split(' ').dropRight(1) :+ "w3swapped").mkString(" "))
    val dir2 = graft.TempDirs.scoped("e2e-spec")
    rows.result().toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir2/documents.parquet")

    val out = CorpusOps.e2ePrepare(spark, dir2).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // independent funnel replica (plain Scala, no Spark)
    val docs = rows.result()
    val quality = docs.filter { case (_, t, l, _, n) =>
      val ws = t.split(' ')
      l == "en" && n >= 100 && ws.distinct.length.toDouble / ws.length > 0.5 &&
        ws.length >= 30
    }
    val dedup = quality.groupBy(_._2).map { case (_, g) =>
      g.minBy(_._1)
    }.toSeq.sortBy(_._1)
    // MinHash-LSH + exact-Jaccard confirm replica from the published
    // constants (Dedup.H/B/R/As/Bs, TextAnalysis.FpMod, JaccardThreshold)
    val fp = TextAnalysis.FpMod
    def tokH(t: String): Vector[Long] =
      t.split(' ').toVector.map(Retrieval.polyHashLocal)
    def shingleH(t: String): Set[Long] = {
      val th = tokH(t)
      (0 to th.length - 3).map(i =>
        ((((th(i) * 31 + th(i + 1)) % fp) * 31) + th(i + 2)) % fp).toSet
    }
    def shingleS(t: String): Set[String] =
      t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    def sig(t: String): Vector[Long] = {
      val hs = shingleH(t)
      (0 until Dedup.H).map(i =>
        hs.map(h => (Dedup.As(i) * h + Dedup.Bs(i)) % fp).min).toVector
    }
    def bandKeys(t: String): Set[(Int, Long)] = {
      val s = sig(t)
      (0 until Dedup.B).map { b =>
        b -> (0 until Dedup.R).foldLeft(0L)((acc, r) =>
          (acc * 31 + s(b * Dedup.R + r)) % fp)
      }.toSet
    }
    def jac(a: String, b: String): Double = {
      val sa = shingleS(a); val sb = shingleS(b)
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val confirmedB = (for {
      a <- dedup; b <- dedup
      if a._1 < b._1 && bandKeys(a._2).intersect(bandKeys(b._2)).nonEmpty
      if jac(a._2, b._2) >= Dedup.JaccardThreshold
    } yield b._1).toSet
    val neardup = dedup.filterNot(d => confirmedB(d._1))
    val cand = neardup.filter(_._1 % CorpusOps.EvalEvery != 0)
    def grams(t: String): Set[String] =
      t.split(' ').sliding(CorpusOps.DecontamN).map(_.mkString(" ")).toSet
    val evalGrams = docs.filter(_._1 % CorpusOps.EvalEvery == 0)
      .flatMap(d => grams(d._2)).toSet
    val clean = cand.filter(d => grams(d._2).intersect(evalGrams).isEmpty)
    // every stage strictly drops
    assert(quality.size < docs.size, "quality gate idle")
    assert(dedup.size < quality.size, "exact dedup idle")
    assert(neardup.size < dedup.size, "LSH near-dup idle")
    assert(cand.size < neardup.size, "eval split-off idle")
    assert(clean.size < cand.size, "decontamination idle")
    assert(out((1L, "raw_docs")) == docs.size)
    assert(out((2L, "quality_docs")) == quality.size)
    assert(out((3L, "exact_dedup_docs")) == dedup.size)
    assert(out((4L, "lsh_neardup_docs")) == neardup.size)
    assert(out((5L, "train_candidates")) == cand.size)
    assert(out((6L, "decontaminated_docs")) == clean.size)
    // the constructed near-dup (doc 12, keep-first loser to doc 3) is the
    // stage-4 drop; its keeper survives
    assert(confirmedB == Set(12L), s"unexpected confirm set $confirmedB")
    // fingerprint: Σ polyhash over exactly the replica's surviving texts
    val wantFp = clean.map(d => Retrieval.polyHashLocal(d._2)).sum
    assert(out((8L, "corpus_fp")) == wantFp, "fingerprint replica disagrees")
    // pack algebra: pad = bins·budget − tokens, bins ≥ ceil(tokens/budget)
    val bins = out((7L, "packed_bins")); val toks = out((7L, "packed_tokens"))
    assert(out((7L, "pad_tokens")) == bins * CorpusOps.PackBudget - toks)
    assert(toks == clean.map(_._2.split(' ').length.toLong).sum)
  }

  test("semantic decontamination: copies flag, orthogonals pass, ties break low") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val d = 4
    def v(xs: Double*): Seq[Float] =
      (xs ++ Seq.fill(d - xs.length)(0.0)).map(_.toFloat)
    // eval ids: 0, 10, 20 (vec_id % 10 == 0); train: the rest
    val rows = Seq(
      0L -> v(1, 0, 0, 0), // eval axis x
      10L -> v(0, 1, 0, 0), // eval axis y
      20L -> v(1, 0, 0, 0), // eval DUPLICATE of 0 — the tie pair
      1L -> v(2, 0, 0, 0), // exact direction copy of eval 0 AND 20: sim 1
      2L -> v(0, 0, 3, 0), // orthogonal to every eval vector: sim 0
      3L -> v(1, 1, 0, 0) // 45° to x and y: sim ~0.7071 — contaminated
    )
    val out = CorpusOps.decontaminateSemanticCore(
        rows.toDF("vec_id", "embedding"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L), "only train docs are scored")
    // doc 1 ties between eval 0 and eval 20 at sim 1.0 — smaller id wins
    assert(out(1L) == ((0L, 1.0, true)))
    assert(out(2L)._2 == 0.0 && !out(2L)._3)
    assert(out(3L)._3 && math.abs(out(3L)._2 - 0.707107) < 1e-6)
  }

  test("semantic decontamination entry: both classes live, train-sized") {
    val df = CorpusOps.decontaminateSemantic(spark, "/root/testdata/sf0.001").cache()
    val nTrain = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .where(s"vec_id % ${CorpusOps.EvalEvery} <> 0").count()
    assert(df.count() == nTrain, "every train doc gets a verdict row")
    assert(df.where("contaminated").count() > 0, "contaminated class live")
    assert(df.where("NOT contaminated").count() > 0, "clean class live")
    // nearest_eval is always a genuine eval-slice id
    assert(df.where(s"nearest_eval % ${CorpusOps.EvalEvery} <> 0").count() == 0)
    df.unpersist()
  }
}
