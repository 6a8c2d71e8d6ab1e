package graft.pipeline

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The BM25 inverted-index family's non-oracle invariants: driver-side
  * hash parity (the pruning metadata), cross-run index reuse, pruned-probe
  * equivalence with the full-scan scorer, append visibility + corpus
  * totals accounting, and the stateless streaming routing twin.
  */
class RetrievalSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("driver-side polyhash mirror matches the engine expression") {
    graft.Tables.load(spark, dir, "documents") // registers graft_polyhash
    val terms = Retrieval.Queries.flatMap(_._2.split(' ')).distinct ++
      Seq("", "a", "zz9", "the")
    import spark.implicits._
    val engine = terms.toDF("term")
      .selectExpr("term", s"${TextAnalysis.polyHashExpr("term")} AS h")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach { t =>
      assert(Retrieval.polyHashLocal(t) == engine(t),
        s"polyHashLocal('$t') diverges from graft_polyhash")
    }
  }

  test("second build invocation reuses the committed index files") {
    val root = Retrieval.ensureBm25Index(spark, dir)
    val f = new java.io.File(s"$root/postings/_SUCCESS")
    assert(f.exists())
    val before = f.lastModified()
    Retrieval.ensureBm25Index(spark, dir)
    assert(f.lastModified() == before, "rebuild must not rewrite a committed index")
  }

  test("pruned probe equals the full-postings scorer") {
    val root = Retrieval.ensureBm25Index(spark, dir)
    val full = Retrieval.scoreTopK(
      Retrieval.queryTerms(spark),
      spark.read.parquet(s"$root/postings").select("term", "doc_id", "tf", "dl"),
      spark.read.parquet(s"$root/stats").select("term", "df"),
      Retrieval.metaFrame(spark, root)).collect().map(_.toSeq)
    val pruned = Retrieval.prunedTopK(spark, root).collect().map(_.toSeq)
    assert(pruned.toSeq == full.toSeq,
      "bucket pruning must not change the result")
  }

  test("append makes wave docs probe-visible and meta absorbs the wave") {
    val result = Retrieval.indexAppend(spark, dir).collect()
    val waveHits = result.count(_.getLong(1) % Dedup.IncrSplitMod == 0)
    assert(waveHits > 0,
      "appended wave docs must appear in the post-append top-k")
    // meta accounting: the appended index's scores use full-corpus N/TT —
    // proven by the entry's oracle (bm25 over ALL docs); here assert the
    // probe surface is the TopK shape
    assert(result.length == Retrieval.Queries.size * Retrieval.TopK)
    result.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(5)).sorted.toSeq ==
        (1L to Retrieval.TopK.toLong))
    }
  }

  test("streamed routing equals the batch core and keeps no state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Retrieval.ensureBm25Index(spark, dir)
    val (n, tt) = Retrieval.readTotals(spark, root)
    val payload = Retrieval.queryPayload(spark, root)
    val (nDocs, avgdlI) = (n, tt / n)
    val wave = graft.Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
      .select("doc_id", "text")

    val want = Retrieval.routeCore(wave, payload, nDocs, avgdlI)
      .collect().map(_.toSeq).sortBy(_.toString)

    val rows = wave.as[(Long, String)].collect()
    val src = MemoryStream[(Long, String)]
    val q = Retrieval.routeCore(
        src.toDS().toDF("doc_id", "text"), payload, nDocs, avgdlI)
      .writeStream.format("memory").queryName("bm25_route")
      .outputMode("append")
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(q.lastProgress.stateOperators.isEmpty,
        "routing must be stateless (no watermark, no state store)")
    } finally q.stop()

    val got = spark.table("bm25_route").collect()
      .map(_.toSeq).sortBy(_.toString)
    spark.catalog.dropTempView("bm25_route")
    assert(got.length == want.length,
      s"cardinality: streaming ${got.length} vs batch ${want.length}")
    assert(got.toSeq == want.toSeq, "streaming output must equal batch")
  }

  test("hybrid RRF actually fuses: both-leg and single-leg docs coexist") {
    val rows = Retrieval.hybridRrf(spark, dir).collect()
    assert(rows.length == Similarity.QuerySetSize * Retrieval.HybridK)
    // per query the emitted ranks are exactly 1..k
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq ==
        (1L to Retrieval.HybridK).toSeq, s"rank gap for query $q")
    }
    // fusion must be LIVE (vacuity guard): docs found by both legs, and
    // docs each leg contributes alone, all present in the fused top-k
    assert(rows.exists(r =>
      r.getAs[Long]("lex_rk") > 0 && r.getAs[Long]("vec_rk") > 0),
      "no doc retrieved by both legs — overlap surface vacuous")
    assert(rows.exists(r => r.getAs[Long]("lex_rk") == 0),
      "every fused doc has a lexical rank — vector leg adds nothing")
    assert(rows.exists(r => r.getAs[Long]("vec_rk") == 0),
      "every fused doc has a vector rank — lexical leg adds nothing")
    // the RRF identity: score == sum of the two quantized contributions
    rows.foreach { r =>
      def c(rk: Long) = if (rk > 0) Retrieval.RrfQ / (Retrieval.RrfC + rk) else 0L
      assert(r.getAs[Long]("rrf") ==
        c(r.getAs[Long]("lex_rk")) + c(r.getAs[Long]("vec_rk")))
    }
  }

  test("phrase search matches a brute-force sliding replay, all phrases live") {
    val texts = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' ')).toMap
    // brute truth: slide every phrase over every token array
    val truth = (for {
      (qid, phrase) <- Retrieval.Phrases
      terms = phrase.split(' ')
      (doc, toks) <- texts
      occs = (0 to toks.length - terms.length)
        .count(s => terms.indices.forall(o => toks(s + o) == terms(o)))
      if occs > 0
    } yield (qid, doc) -> occs.toLong).toMap
    val got = Retrieval.phraseSearch(spark, dir).collect()
    got.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
      assert(truth.get(k).contains(r.getAs[Long]("n_occ")),
        s"occurrence count mismatch for $k")
    }
    // every phrase — including the trigram and the REPEATED-TERM phrase —
    // must actually match documents, or the surface is vacuous
    val liveQueries = got.map(_.getAs[Long]("query_id")).toSet
    assert(liveQueries == Retrieval.Phrases.map(_._1).toSet,
      s"phrases without any match: ${Retrieval.Phrases.map(_._1).toSet -- liveQueries}")
  }

  test("positional postings: tf == |positions|, sorted; index probe exact") {
    val root = Retrieval.ensureBm25Index(spark, dir)
    val bad = spark.read.parquet(s"$root/postings")
      .where("tf <> size(positions) OR positions <> array_sort(positions)")
      .count()
    assert(bad == 0L, s"$bad postings break the positional-layout invariant")
    // the pruned positional probe equals the alignment construction run
    // directly over the index split's raw documents
    val direct = Retrieval.phraseRouteFrame(
        graft.Tables.load(spark, dir, "documents")
          .where(s"doc_id % ${Dedup.IncrSplitMod} <> 0"))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
        -> r.getAs[Long]("n_occ")).toMap
    Retrieval.phraseIndexSearch(spark, dir).collect().foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
      assert(direct.get(k).contains(r.getAs[Long]("n_occ")),
        s"index probe count diverged from the raw-document match for $k")
    }
  }

  test("streamed phrase routing is stateless and equals the batch matches") {
    // the same row-local frame over a real stream: zero state operators
    import graft.streaming.PacedReplay
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    val stage = graft.TempDirs.scoped("phrase-route-spec") + "/docs"
    PacedReplay.stage(docs, Seq("doc_id"),
      math.max(1L, docs.count() / 4L).toInt, stage)
    val qn = "graft_spec_phrase_route"
    val q = Retrieval.phraseRouteFrame(
        PacedReplay.stream(spark, stage, docs.schema))
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(q.lastProgress.stateOperators.isEmpty,
      "phrase routing must carry no state store")
    val streamed = spark.table(qn)
      .collect().map(_.toSeq).sortBy(_.toString)
    val batch = Retrieval.phraseRouteFrame(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.toSeq == batch.toSeq,
      "streamed match set diverged from the batch evaluation")
    // the row-local counts agree with the alignment construction's totals
    val aligned = Retrieval.phraseSearch(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("n_occ")).toMap
    val routed = spark.table(qn).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("n_occ")).toMap
    aligned.foreach { case (k, n) =>
      assert(routed.get(k).contains(n),
        s"HOF count and positional alignment disagree for $k")
    }
  }

  test("indexed hybrid fuses live and returns only indexed documents") {
    val rows = Retrieval.hybridRrfIndexed(spark, dir).collect()
    assert(rows.length == Similarity.QuerySetSize * Retrieval.HybridK)
    // every result comes from the indexed historical split — a doc from
    // the excluded wave appearing would mean a leg escaped its index
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % Dedup.IncrSplitMod != 0,
        s"non-indexed doc ${r.getAs[Long]("doc_id")} surfaced")
    }
    // both legs contribute (vacuity guards, as in the exact entry)
    assert(rows.exists(r =>
      r.getAs[Long]("lex_rk") > 0 && r.getAs[Long]("vec_rk") > 0))
    assert(rows.exists(_.getAs[Long]("lex_rk") == 0))
    assert(rows.exists(_.getAs[Long]("vec_rk") == 0))
  }
}
