package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Sanity/shape tests for the training-data pipeline operators (oracle
  * equality is covered by the driver gate + tools/check_oracle.py).
  */
class PipelineSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("text analysis: counts are consistent") {
    val t = TextAnalysis.tokens(spark, dir).collect()
    assert(t.nonEmpty)
    t.foreach { r =>
      val chars = r.getAs[Long]("n_chars_m")
      val ws = r.getAs[Long]("ws_tokens")
      val bpe = r.getAs[Long]("bpe_tokens")
      assert(ws >= 1 && chars >= ws - 1) // n-1 separators minimum
      assert(bpe >= ws - 1) // BPE-ish splits at least as fine as whitespace
    }
  }

  test("langid: prediction is one of the dictionary languages") {
    val langs = TextAnalysis.LangMarkers.map(_._1).toSet
    TextAnalysis.langId(spark, dir).collect()
      .foreach(r => assert(langs.contains(r.getAs[String]("lang_pred"))))
  }

  test("fingerprint: deterministic and within modulus") {
    val a = TextAnalysis.fingerprint(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = TextAnalysis.fingerprint(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
    a.foreach { case (_, fp) => assert(fp >= 0 && fp < TextAnalysis.FpMod) }
  }

  test("exact dedup groups cover all documents") {
    val total = graft.Tables.load(spark, dir, "documents").count()
    val groups = Dedup.exact(spark, dir).collect()
    assert(groups.map(_.getAs[Long]("n_copies")).sum == total)
  }

  test("minhash LSH candidates are a superset of high-jaccard pairs") {
    // with B=4/R=4, pairs over the jaccard threshold should be recalled
    val jac = Dedup.jaccard(spark, dir).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.5)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val cand = Dedup.minhashCandidates(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(jac.subsetOf(cand), s"missed: ${jac.diff(cand)}")
  }

  test("substring spans: exact-duplicate docs are fully span-contaminated") {
    val docs = graft.Tables.load(spark, dir, "documents")
    import org.apache.spark.sql.functions._
    // every doc that shares its full text with another doc must have EVERY
    // rolling window duplicated (dup_ratio == 1.0); counts must be sane
    val dupDocs = docs.groupBy(md5(col("text")).as("fp"))
      .agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")) >= 2)
      .selectExpr("explode(ids) AS doc_id").collect()
      .map(_.getLong(0)).toSet
    val rows = Dedup.substringSpans(spark, dir).collect()
    val byDoc = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // sf0.001 has no exact dupes; sf0.01+ does — check when present
    dupDocs.foreach { id =>
      byDoc.get(id).foreach { r => // absent = doc shorter than SpanTokens
        assert(r.getAs[Long]("n_dup_spans") == r.getAs[Long]("n_spans"),
          s"doc $id should be fully contaminated")
      }
    }
    rows.foreach { r =>
      val n = r.getAs[Long]("n_spans"); val d = r.getAs[Long]("n_dup_spans")
      assert(n >= 1 && d >= 0 && d <= n)
      assert(math.abs(r.getAs[Double]("dup_ratio") - d.toDouble / n) == 0.0)
    }
    // total spans must equal the directly-computed rolling-window count
    val expected = docs
      .selectExpr(s"greatest(size(split(text, ' ')) - ${Dedup.SpanTokens - 1}, 0) AS k")
      .agg(sum(col("k"))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("n_spans")).sum == expected)
  }

  test("simhash values fit in 32 bits") {
    Dedup.simhash(spark, dir).collect()
      .foreach(r => assert(r.getAs[Long]("simhash") >= 0 && r.getAs[Long]("simhash") < (1L << 32)))
  }

  test("brute-force topk returns k ordered neighbors per query") {
    val rows = Similarity.bruteForceTopK(spark, dir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == Similarity.QuerySetSize)
    byQ.values.foreach { g =>
      assert(g.length == Similarity.TopK)
      val sims = g.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("lsh topk results appear in brute-force ranking order") {
    val bf = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val lsh = Similarity.lshTopK(spark, dir).collect()
    assert(lsh.nonEmpty) // every query shares a bucket with someone
    // LSH is approximate: no strict subset guarantee, but sims must be valid
    lsh.foreach(r => assert(math.abs(r.getAs[Double]("sim")) <= 1.000001))
    assert(bf.nonEmpty)
  }

  test("aggregate top-k equals the window construction, with no Window node") {
    val window = Similarity.bruteForceTopK(spark, dir).collect().map(_.toSeq)
    val agg = Similarity.bruteForceAggTopK(spark, dir)
    assert(agg.collect().map(_.toSeq).toSeq == window.toSeq,
      "bounded-aggregator top-k diverged from the rank-window form")
    val hasWindow = agg.queryExecution.executedPlan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.nonEmpty
    assert(!hasWindow, "the whole point is a plan with no Window sort")
  }

  test("phash dedup: cross-clip classes live, not only padding frames") {
    val classes = Multimodal.phashDedup(spark, dir).collect()
    assert(classes.nonEmpty, "no duplicate frame classes at all")
    assert(classes.exists(_.getAs[Long]("n_docs") > 1),
      "no CROSS-clip duplicate class — the dedup surface is vacuous")
    assert(classes.exists(r =>
      r.getAs[Long]("phash_hi") != 0L || r.getAs[Long]("phash_lo") != 0L),
      "only the constant-padding class deduped — content hashing vacuous")
    classes.foreach { r =>
      assert(r.getAs[Long]("n_frames") > 1 &&
        r.getAs[Long]("n_docs") <= r.getAs[Long]("n_frames"))
    }
  }

  test("phash near-dup: banded candidates find every pair under threshold") {
    // brute truth: all-pairs Hamming over every frame hash (fine at the
    // spec sf; the entry's banding exists so production never does this)
    val docs = graft.Tables.load(spark, dir, "documents")
      .where("n_chars > 0").select("doc_id", "text").collect()
    val hashes = docs.flatMap { r =>
      val text = r.getString(1)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val nf = (text.length + 191) / 192
      val padded = java.util.Arrays.copyOf(text, nf * 192)
      java.util.Arrays.fill(padded, text.length, padded.length, 'x'.toByte)
      (0 until nf).map { i =>
        val y = java.util.Arrays.copyOfRange(padded, i * 192, i * 192 + 64)
        val (hi, lo) = Multimodal.aHashHalves(y)
        (r.getLong(0), i.toLong, hi, lo)
      }
    }
    // collapse to distinct hash classes (the entry's granularity)
    val classes = hashes.groupBy(h => (h._3, h._4))
      .map { case (k, v) => k -> v.size.toLong }
    val keys = classes.keys.toIndexedSeq.sorted
    val truth = (for {
      i <- keys.indices; j <- (i + 1) until keys.length
      a = keys(i); b = keys(j)
      ham = java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
      if ham <= Multimodal.PhashHamMax
    } yield (a._1, a._2, b._1, b._2) -> (classes(a), classes(b), ham.toLong))
      .toMap
    val got = Multimodal.phashNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("hi_a"), r.getAs[Long]("lo_a"),
        r.getAs[Long]("hi_b"), r.getAs[Long]("lo_b"))
        -> (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("hamming"))).toMap
    assert(got == truth,
      s"banded near-dup diverged from all-pairs truth: missing ${
        (truth.keySet -- got.keySet).take(3)}, extra ${
        (got.keySet -- truth.keySet).take(3)}")
    assert(truth.nonEmpty, "no near-dup edges at spec sf — surface vacuous")
    // ham = 0 cannot occur between DISTINCT hashes — every edge is near
    assert(got.values.forall(v => v._3 >= 1 && v._3 <= Multimodal.PhashHamMax))
    // member counts make the edge list expandable to frame pairs
    assert(got.values.exists(v => v._1 > 1 || v._2 > 1),
      "no edge touches a multi-frame class — counts vacuous")
  }

  test("clip near-dup: prefix filtering is complete and actually prunes") {
    // clip hash sets, brute all-pairs Jaccard truth
    val docs = graft.Tables.load(spark, dir, "documents")
      .where("n_chars > 0").select("doc_id", "text").collect()
    val sets = docs.map { r =>
      val text = r.getString(1)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val nf = (text.length + 191) / 192
      val padded = java.util.Arrays.copyOf(text, nf * 192)
      java.util.Arrays.fill(padded, text.length, padded.length, 'x'.toByte)
      r.getLong(0) -> (0 until nf).map { i =>
        Multimodal.aHashHalves(
          java.util.Arrays.copyOfRange(padded, i * 192, i * 192 + 64))
      }.toSet
    }.toMap
    val ids = sets.keys.toIndexedSeq.sorted
    val truth = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = sets(ids(i)); b = sets(ids(j))
      inter = (a intersect b).size
      if 3 * inter >= a.size + b.size
    } yield (ids(i), ids(j)) -> (inter.toLong, a.size.toLong, b.size.toLong))
      .toMap
    val got = Multimodal.clipNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        -> (r.getAs[Long]("n_shared"), r.getAs[Long]("size_a"),
          r.getAs[Long]("size_b"))).toMap
    assert(got == truth,
      s"prefix-filtered join diverged from all-pairs truth: missing ${
        (truth.keySet -- got.keySet).take(3)}, extra ${
        (got.keySet -- truth.keySet).take(3)}")
    assert(truth.nonEmpty, "no similar clip pairs at spec sf — vacuous")
    // and a NON-match exists (the threshold is doing work)
    assert(truth.size < ids.length.toLong * (ids.length - 1) / 2,
      "every clip pair similar — threshold vacuous")
  }

  test("two-level IVF recall clears its floor against brute-force truth") {
    val bf = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val hits = Similarity.ivf2TopK(spark, dir).collect()
      .count(r => bf((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))))
    // measured 23/25 at sf0.001 AND sf0.01; the floor (18/25 = 72%, the
    // ivf/ivfpq gate level) fails on a hierarchy-induced recall collapse
    // (e.g. the L1 expansion dropping the true nearest cells)
    assert(hits * 25 >= bf.size * 18,
      s"two-level IVF recall $hits/${bf.size} under the 72% floor")
  }

  test("trained IVF returns k ranked candidates bounded by the exact best") {
    val bfBest = Similarity.bruteForceTopK(spark, dir).collect()
      .filter(_.getAs[Long]("rk") == 1L)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("sim")).toMap
    val byQ = Similarity.ivfTrainedTopK(spark, dir).collect()
      .groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == Similarity.TopK)
      val sims = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "ranked desc")
      // an ANN candidate can never beat the exact best match
      assert(sims.head <= bfBest(q) + 1e-9)
    }
  }

  test("ANN top-k entries re-rank exactly, rank 1 under the exact best") {
    val emb = Similarity.embDouble(spark, dir)
    val best = Similarity.bruteForceTopK(spark, dir).where("rk = 1")
      .selectExpr("q_id", "sim AS best")
    Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "pq" -> Similarity.pqTopK, "ivfpq" -> Similarity.ivfPqTopK,
      "ivf_sq8" -> Similarity.ivfSq8TopK, "ivf" -> Similarity.ivfTopK,
      "ivf_trained" -> Similarity.ivfTrainedTopK, "ivf2" -> Similarity.ivf2TopK)
      .foreach { case (name, entry) =>
        val rows = entry(spark, dir)
          .join(emb.selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm"), "q_id")
          .join(emb.select("vec_id", "emb", "nrm"), "vec_id")
          .join(best, "q_id")
          .selectExpr("q_id", "vec_id", "rk", "sim", "best",
            "round(graft_dot(q_emb, emb) / (q_nrm * nrm), 6) AS exact")
          .collect()
        assert(rows.length == Similarity.QuerySetSize * Similarity.TopK, name)
        rows.foreach { r =>
          assert(r.getAs[Double]("sim") == r.getAs[Double]("exact"),
            s"$name: sim of (${r.getAs[Long]("q_id")}, ${r.getAs[Long]("vec_id")}) " +
              s"is ${r.getAs[Double]("sim")}, its exact cosine ${r.getAs[Double]("exact")}")
        }
        rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, qr) =>
          val sims = qr.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("sim"))
          assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
            s"$name: query $q ranked desc")
          assert(sims.head <= qr.head.getAs[Double]("best"),
            s"$name: query $q rank 1 beats the brute-force best")
        }
      }
  }

  test("recall gate: every approximate index clears its declared threshold") {
    val rows = Similarity.recallGate(spark, dir).collect()
    assert(rows.length == Similarity.RecallGatePct.size)
    rows.foreach { r =>
      val (method, hits, truth, ok) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(4))
      assert(truth == Similarity.QuerySetSize.toLong * Similarity.TopK)
      assert(hits >= 0 && hits <= truth, s"$method hits in range")
      assert(ok, s"$method recall ${hits}/$truth under its gate — an index " +
        "change degraded retrieval quality")
    }
  }

  test("wide simhash: pairs verified within hamming bound, graph naturally sparse") {
    val pairs = Dedup.simhashWide(spark, dir).collect()
    val docs = graft.Tables.load(spark, dir, "documents").count()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "canonical pair order")
      assert(r.getLong(2) <= Dedup.SimhashMaxBits, "confirmed popcount bound")
    }
    // the point of the production config: UNCAPPED output stays far from
    // the all-pairs surface the unigram demo drowns in
    assert(pairs.length < docs * docs / 100,
      s"pair graph must be sparse: ${pairs.length} of ${docs * docs / 2} possible")
  }

  test("wide simhash survives single-token and empty documents") {
    // the uncapped production entry must not throw on degenerate docs:
    // sequence(2, size(t)) DESCENDS for size(t)=1 and element_at(t, 0)
    // throws under ANSI mode without the size guard (code review r6)
    import spark.implicits._
    val tmp = graft.TempDirs.scoped("wide-docs")
    Seq((0L, "lonely"), (1L, ""), (2L, "two words"),
        (3L, "a b c d e f g h"), (4L, "a b c d e f g h"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.simhashWide(spark, tmp).collect()
    // the two identical multi-token docs pair up; degenerate docs just
    // contribute nothing
    assert(pairs.exists(r => r.getLong(0) == 3L && r.getLong(1) == 4L
      && r.getLong(2) == 0L))
  }

  test("duplicate clusters: transitive closure matches a union-find oracle") {
    val pairs = Dedup.jaccardLshGated(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // brute-force union-find over the (tiny) confirmed-pair list
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(d => d -> find(d)).toMap
    val got = Dedup.duplicateClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper")).toMap
    assert(got == want, "component keepers differ from union-find")
    // keeper is always the component minimum (so it survives pairwise kill)
    got.groupBy(_._2).foreach { case (keeper, members) =>
      assert(members.keys.min == keeper)
    }
  }

  test("best-of-cluster: canonical is the quality argmax, not the min id") {
    val rows = Dedup.bestOfCluster(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    // membership identical to the components entry
    val comp = Dedup.duplicateClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper")).toMap
    assert(rows.map(r => r._2 -> r._1).toMap == comp)
    rows.groupBy(_._1).foreach { case (_, members) =>
      // exactly one canonical per cluster; it is the (quality, -doc_id) max
      val canon = members.filter(_._5)
      assert(canon.length == 1)
      val want = members.minBy(m => (-m._3, m._2))
      assert(canon.head._2 == want._2, "canonical must be the quality argmax")
      // every member agrees on the canonical id column
      assert(members.map(_._4).distinct.toSeq == Seq(want._2))
    }
    // load-bearing: in SOME cluster the quality winner is NOT the min id
    val differs = rows.groupBy(_._1).count { case (_, ms) =>
      ms.find(_._5).get._2 != ms.map(_._2).min
    }
    assert(differs > 0, "quality selection must differ from keep-first somewhere")
  }

  test("cluster mix: verdict for every vector, exact accept algebra, min cluster whole") {
    val rows = Similarity.clusterMix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    val nVecs = graft.Tables.load(spark, dir, "embeddings").count()
    assert(rows.length == nVecs, "every vector gets a mix verdict")
    // per-cluster count column is the true member count
    rows.groupBy(_._2).foreach { case (_, ms) =>
      assert(ms.map(_._3).distinct.toSeq == Seq(ms.length.toLong))
    }
    val cMin = rows.map(_._3).min
    rows.foreach { case (docId, _, n, u, kept) =>
      // the integer accept test replayed exactly
      assert(u == ((docId % 2147483647L) * 2654435761L) % 2147483647L % 65536L)
      assert(kept == (u * u * n < cMin * 4294967296L),
        s"accept algebra diverged for doc $docId")
    }
    // argmin clusters keep every member (u² < 2³² always)
    rows.filter(_._3 == cMin).foreach(r => assert(r._5))
    // at least one larger cluster actually shrinks
    assert(rows.exists(r => !r._5), "subsampling must be live")
  }

  test("indexed semantic decon: never invents contamination, recall >= 75%") {
    val idx = Similarity.decontaminateSemanticIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(idx.nonEmpty, "flagged class must be live")
    val exact = CorpusOps.decontaminateSemantic(spark, dir).collect()
      .filter(_.getBoolean(3))
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    idx.foreach { case (d, ev, s) =>
      // only indexed-split, non-eval docs can be flagged
      assert(d % Similarity.IvfSplitMod != 0 && d % CorpusOps.EvalEvery != 0)
      assert(ev % CorpusOps.EvalEvery == 0, "nearest_eval must be an eval id")
      // no false positives: every indexed flag is exactly contaminated,
      // and the probed max can never exceed the exhaustive max
      assert(exact.contains(d), s"doc $d flagged by index but exactly clean")
      assert(s >= CorpusOps.SemanticTau && s <= exact(d))
    }
    // recall against the exact verdicts over the INDEXED split
    val truth = exact.keySet.filter(_ % Similarity.IvfSplitMod != 0)
    val recall = idx.map(_._1).toSet.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.75, s"indexed decon recall $recall < 0.75 " +
      s"(${idx.size}/${truth.size})")
  }

  test("semdedup: drop rule matches a brute-force within-cluster replica") {
    val out = Similarity.semDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("c_id"), r.getAs[Double]("csim"), r.getAs[Boolean]("keep")))
      .toMap
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Double](1).toArray).toMap
    assert(out.keySet == emb.keySet, "semdedup must verdict every vector")
    assert(out.values.exists(!_._3) && out.values.exists(_._3),
      "expected a mix of kept and dropped vectors at sf0.001")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCluster = out.groupBy(_._2._1)
    out.foreach { case (v, (c, csim, keep)) =>
      val beaten = byCluster(c).exists { case (o, (_, ocsim, _)) =>
        o != v && cos(emb(v), emb(o)) >= Similarity.NearDupThreshold &&
          (ocsim < csim || (ocsim == csim && o < v))
      }
      assert(keep == !beaten,
        s"vec $v: keep=$keep but brute-force says beaten=$beaten")
    }
    // each connected near-dup group keeps its extremal member: kept vectors
    // are never beaten, so at least one survivor exists per cluster
    byCluster.foreach { case (c, members) =>
      assert(members.values.exists(_._3), s"cluster $c kept nothing")
    }
  }

  test("cdc chunking is shift-tolerant where fixed-size chunking is not") {
    import spark.implicits._
    graft.Tables.load(spark, dir, "documents") // registers graft_polyhash
    val base = (1 to 120).map(i => s"tok${i % 37}").mkString(" ")
    val shifted = "INSERTED " + base // one token prepended at the front
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val fps = Dedup.cdcChunkFingerprints(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rows) => d -> rows.map(_.getAs[Long]("fp")).toSet }
    val survived = (fps(1L) & fps(2L)).size
    // content-defined boundaries resynchronize after the edit: most of the
    // original chunks keep their byte identity in the shifted doc
    assert(survived * 2 >= fps(1L).size,
      s"only $survived of ${fps(1L).size} chunks survived a 1-token prepend")
    // the fixed-size strawman on the same pair: offset-based chunks all
    // change when everything shifts by 9 chars
    val fixedA = base.grouped(40).toSet
    val fixedB = shifted.grouped(40).toSet
    assert((fixedA & fixedB).isEmpty,
      "fixed-size chunking unexpectedly survived the shift — strawman broken")
  }

  test("y4m frame features demux every padded payload byte exactly once") {
    // MIXED corpus: even docs are C444 (192-byte frames), odd C420 (96)
    val pl = Multimodal.Y4mW * Multimodal.Y4mH
    def fbOf(docId: Long): Long = if (docId % 2 == 0) 3L * pl else 3L * pl / 2
    val bytesPerDoc = Multimodal.binaryColumns(spark, dir)
      .selectExpr("doc_id", "meta.n_bytes AS n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      .filter(_._2 > 0)
    val frames = Multimodal.frameFeatures(spark, dir).collect()
    // frame count per doc = ceil(n_bytes / frameBytes); every frame full
    val counts = frames.groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.length.toLong).toMap
    assert(counts == bytesPerDoc.map { case (d, n) =>
      d -> ((n + fbOf(d) - 1) / fbOf(d))
    })
    frames.foreach { r =>
      assert(r.getAs[Long]("n_bytes") == fbOf(r.getAs[Long]("doc_id")))
      Seq("mean_y", "mean_u", "mean_v").foreach { c =>
        val m = r.getAs[Double](c)
        assert(m >= 0 && m <= 255, s"$c out of byte range: $m")
      }
      assert(r.getAs[String]("frame_fp").matches("[0-9a-f]{32}"))
    }
    // md5 of the demuxed planes == md5 of the padded text slice: the
    // decoder handed back exactly the bytes the container carried —
    // checked for one doc of EACH colorspace parity
    for (doc <- Seq(bytesPerDoc.keys.filter(_ % 2 == 0).min,
        bytesPerDoc.keys.filter(_ % 2 == 1).min)) {
      val fb = fbOf(doc).toInt
      val text = graft.Tables.load(spark, dir, "documents")
        .where(s"doc_id = $doc").select("text").head().getString(0)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val nf = (text.length + fb - 1) / fb
      val padded = java.util.Arrays.copyOf(text, nf * fb)
      java.util.Arrays.fill(padded, text.length, padded.length, 'x'.toByte)
      val wantFps = (0 until nf).map(i => Multimodal.PpmCodec.md5Hex(
        java.util.Arrays.copyOfRange(padded, i * fb, (i + 1) * fb)))
      val gotFps = frames.filter(_.getAs[Long]("doc_id") == doc)
        .sortBy(_.getAs[Long]("frame_idx")).map(_.getAs[String]("frame_fp"))
      assert(gotFps.toSeq == wantFps)
    }
  }
}
