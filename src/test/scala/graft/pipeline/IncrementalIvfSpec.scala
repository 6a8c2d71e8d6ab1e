package graft.pipeline

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Cross-run contracts of the incremental IVF (ANN) index — the embedding
  * twin of [[IncrementalDedupSpec]]: build-once reuse, manifest-gated
  * pruned probes, and the in-place list-wise append that makes appended
  * vectors probe-visible without touching unrelated lists.
  */
class IncrementalIvfSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def fileState(root: String): Set[(String, Long, Long)] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => (base.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis))
      .toSet
  }

  test("second probe reuses the persisted IVF index byte-for-byte") {
    val path = IvfIndex.path(spark, dir, IvfIndex.Float)
    deleteRecursively(Paths.get(path))

    val first = IvfIndex.search(spark, dir, IvfIndex.Float).collect().toSeq
    assert(new File(path + "/_SUCCESS").exists(), "index must be committed")
    assert(new File(path + "/" + IvfIndex.ListsManifestFile).exists(),
      "manifest must be committed with the index")
    val stateAfterBuild = fileState(path)

    val second = IvfIndex.search(spark, dir, IvfIndex.Float).collect().toSeq
    assert(second == first, "replayed probe must be bit-identical")
    assert(fileState(path) == stateAfterBuild,
      "second run must not rewrite any index file (reuse, not rebuild)")
  }

  test("index partitions every historical vector into exactly one list") {
    val path = IvfIndex.ensure(spark, dir, IvfIndex.Float)
    val idx = spark.read.parquet(path)
    val nHist = graft.Tables.load(spark, dir, "embeddings")
      .where(s"vec_id % ${Similarity.IvfSplitMod} <> 0").count()
    assert(idx.count() == nHist)
    assert(idx.select("vec_id").distinct().count() == nHist,
      "a vector must belong to exactly one inverted list")
    // manifest names exactly the non-empty lists (partition-column
    // inference reads c_id back as INT — cast to the manifest's LONG)
    val listsOnDisk = idx.selectExpr("CAST(c_id AS BIGINT)").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(IvfIndex.listsManifestRead(spark, path) == listsOnDisk)
  }

  test("append rewrites only probed/touched list dirs and surfaces wave-1") {
    IvfIndex.ensure(spark, dir, IvfIndex.Float)
    val out = IvfIndex.append(spark, dir, IvfIndex.Float)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // wave-2's neighbors may now include wave-1 vectors (vec_id % 8 == 0);
    // on this corpus at least one top-k hit comes from the appended wave
    val w = 2 * Similarity.IvfSplitMod
    assert(rows.exists(r => r.getLong(1) % w == 0),
      "appended wave-1 vectors must be probe-visible in wave-2's top-k")
    // and no result vector is outside historical ∪ wave-1
    assert(rows.forall { r =>
      val v = r.getLong(1)
      v % Similarity.IvfSplitMod != 0 || v % w == 0
    }, "wave-2 vectors must not be in the index")
  }

  test("streamed probe equals the batch core and keeps no state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val indexPath = IvfIndex.ensure(spark, dir, IvfIndex.Float)
    val idx = spark.read.parquet(indexPath)
    // same inputs the entry uses: wave vectors + the collected codebook
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    val wave = emb.where(s"vec_id % ${Similarity.IvfSplitMod} = 0")
    val model = IvfIndex.open(spark, indexPath, IvfIndex.Float)

    val want = IvfIndex.streamProbe(wave, idx, model, IvfIndex.Float).collect()
      .map(_.toSeq).sortBy(_.toString)

    val rows = wave.as[(Long, Seq[Double], Double)].collect()
    val src = MemoryStream[(Long, Seq[Double], Double)]
    val q = IvfIndex.streamProbe(
        src.toDS().toDF("vec_id", "emb", "nrm"), idx, model, IvfIndex.Float)
      .writeStream.format("memory").queryName("ivf_probe")
      .outputMode("append")
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(q.lastProgress.stateOperators.isEmpty,
        "the probe must be stateless (no watermark, no state store)")
    } finally q.stop()

    val got = spark.table("ivf_probe").collect()
      .map(_.toSeq).sortBy(_.toString)
    spark.catalog.dropTempView("ivf_probe")
    assert(got.length == want.length,
      s"cardinality: streaming ${got.length} vs batch ${want.length}")
    assert(got.toSeq == want.toSeq, "streaming output must equal batch")
  }

  test("SQ8 streamed probe equals the batch core and keeps no state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val indexPath = IvfIndex.ensure(spark, dir, IvfIndex.Sq8)
    val idx = spark.read.parquet(indexPath)
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    val wave = emb.where(s"vec_id % ${Similarity.IvfSplitMod} = 0")
    val model = IvfIndex.open(spark, indexPath, IvfIndex.Sq8)

    val want = IvfIndex.streamProbe(wave, idx, model, IvfIndex.Sq8).collect()
      .map(_.toSeq).sortBy(_.toString)

    val rows = wave.as[(Long, Seq[Double], Double)].collect()
    val src = MemoryStream[(Long, Seq[Double], Double)]
    val q = IvfIndex.streamProbe(
        src.toDS().toDF("vec_id", "emb", "nrm"), idx, model, IvfIndex.Sq8)
      .writeStream.format("memory").queryName("ivf_sq8_probe")
      .outputMode("append")
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(q.lastProgress.stateOperators.isEmpty,
        "the SQ8 probe must be stateless (no watermark, no state store)")
    } finally q.stop()

    val got = spark.table("ivf_sq8_probe").collect()
      .map(_.toSeq).sortBy(_.toString)
    spark.catalog.dropTempView("ivf_sq8_probe")
    assert(got.length == want.length,
      s"cardinality: streaming ${got.length} vs batch ${want.length}")
    assert(got.toSeq == want.toSeq, "streaming output must equal batch")
  }

  test("PQ streamed probe equals the batch core and keeps no state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val indexPath = IvfIndex.ensure(spark, dir, IvfIndex.Pq)
    val idx = spark.read.parquet(indexPath)
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    val wave = emb.where(s"vec_id % ${Similarity.IvfSplitMod} = 0")
    val model = IvfIndex.open(spark, indexPath, IvfIndex.Pq)

    val want = IvfIndex.streamProbe(wave, idx, model, IvfIndex.Pq).collect()
      .map(_.toSeq).sortBy(_.toString)

    val rows = wave.as[(Long, Seq[Double], Double)].collect()
    val src = MemoryStream[(Long, Seq[Double], Double)]
    val q = IvfIndex.streamProbe(
        src.toDS().toDF("vec_id", "emb", "nrm"), idx, model, IvfIndex.Pq)
      .writeStream.format("memory").queryName("ivf_pq_probe")
      .outputMode("append")
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(q.lastProgress.stateOperators.isEmpty,
        "the PQ probe must be stateless (no watermark, no state store)")
    } finally q.stop()

    val got = spark.table("ivf_pq_probe").collect()
      .map(_.toSeq).sortBy(_.toString)
    spark.catalog.dropTempView("ivf_pq_probe")
    assert(got.length == want.length,
      s"cardinality: streaming ${got.length} vs batch ${want.length}")
    assert(got.toSeq == want.toSeq, "streaming output must equal batch")
  }

  test("missing manifest: reader fails loud, ensure treats as uncommitted") {
    val path = IvfIndex.ensure(spark, dir, IvfIndex.Float)
    val mf = Paths.get(path, IvfIndex.ListsManifestFile)
    Files.delete(mf)
    // the probe's pruning input must never silently degrade to empty
    val e = intercept[IllegalStateException] {
      IvfIndex.listsManifestRead(spark, path)
    }
    assert(e.getMessage.contains(IvfIndex.ListsManifestFile))
    // an index without its manifest is uncommitted: the next ensure
    // rebuilds BOTH artifacts and the probe works again
    val rows = IvfIndex.search(spark, dir, IvfIndex.Float).collect()
    assert(Files.exists(mf) && rows.nonEmpty)
  }

  test("every layout: a missing artifact fails the reader loud and ensure rebuilds") {
    val layouts = Seq(IvfIndex.Float, IvfIndex.Sq8, IvfIndex.Pq, IvfIndex.PqRes,
      IvfIndex.Opq)
    for (layout <- layouts; artifact <- Seq("_SUCCESS", IvfIndex.CodebookDir,
        IvfIndex.ListsManifestFile) ++ layout.artifacts) {
      val path = IvfIndex.ensure(spark, dir, layout)
      deleteRecursively(Paths.get(path, artifact))
      val e = intercept[IllegalStateException] {
        IvfIndex.open(spark, path, layout)
      }
      assert(e.getMessage.contains(s"$layout IVF index") &&
        e.getMessage.contains(artifact), e.getMessage)
      // an index missing any artifact is uncommitted: ensure rebuilds it
      assert(IvfIndex.ensure(spark, dir, layout) == path)
      assert(Files.exists(Paths.get(path, artifact)),
        s"$layout: ensure must rebuild $artifact")
      IvfIndex.open(spark, path, layout)
    }
  }

  test("a failing append unpersists its wave and leaves the shared index untouched") {
    val path = IvfIndex.ensure(spark, dir, IvfIndex.Sq8)
    val before = fileState(path)
    val work = graft.TempDirs.scoped("ivf-append-fail") + "/index"
    graft.TempDirs.copyTree(spark, path, work)
    val model = IvfIndex.open(spark, work, IvfIndex.Sq8)
    // the manifest vanishes mid-append: after the wave is persisted and
    // upserted, the manifest read fails
    Files.delete(Paths.get(work, IvfIndex.ListsManifestFile))
    spark.catalog.clearCache()
    val wave = Similarity.corpusFloats(spark, dir)
      .where(s"vec_id % ${2 * Similarity.IvfSplitMod} = 0")
    intercept[IllegalStateException] {
      IvfIndex.appendWave(spark, work, IvfIndex.Sq8, model, wave)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the failed append must unpersist its wave")
    assert(fileState(path) == before, "the shared index must be untouched")
  }

  test("SQ8 index: 1 byte/dim lists, no float vectors, byte-for-byte reuse") {
    val path = IvfIndex.path(spark, dir, IvfIndex.Sq8)
    deleteRecursively(Paths.get(path))

    val first = IvfIndex.search(spark, dir, IvfIndex.Sq8).collect().toSeq
    assert(first.nonEmpty)
    assert(new File(path + "/_SUCCESS").exists(), "index must be committed")
    assert(new File(path + "/" + IvfIndex.ListsManifestFile).exists())
    val stateAfterBuild = fileState(path)

    val idx = spark.read.parquet(path)
    val cols = idx.columns.toSet
    assert(!cols.contains("emb"),
      "float vectors must live only in the corpus table, not the index")
    assert(idx.schema("qb").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // the storage contract: exactly Dim bytes per vector
    assert(idx.selectExpr(s"length(qb) = ${Similarity.Dim} AS ok")
      .where("NOT ok").count() == 0)
    val nHist = graft.Tables.load(spark, dir, "embeddings")
      .where(s"vec_id % ${Similarity.IvfSplitMod} <> 0").count()
    assert(idx.count() == nHist)

    val second = IvfIndex.search(spark, dir, IvfIndex.Sq8).collect().toSeq
    assert(second == first, "replayed probe must be bit-identical")
    assert(fileState(path) == stateAfterBuild,
      "second run must not rewrite any index file (reuse, not rebuild)")
  }

  test("SQ8 append surfaces wave-1 through the quantized lists") {
    IvfIndex.ensure(spark, dir, IvfIndex.Sq8)
    val rows = IvfIndex.append(spark, dir, IvfIndex.Sq8).collect()
    assert(rows.nonEmpty)
    val w = 2 * Similarity.IvfSplitMod
    assert(rows.exists(r => r.getLong(1) % w == 0),
      "appended wave-1 vectors must be probe-visible in wave-2's top-k")
    assert(rows.forall { r =>
      val v = r.getLong(1)
      v % Similarity.IvfSplitMod != 0 || v % w == 0
    }, "wave-2 vectors must not be in the index")
  }

  test("SQ8 probe's sims are EXACT cosines (re-rank contract) and list bytes shrink") {
    IvfIndex.ensure(spark, dir, IvfIndex.Float)
    val sq8Path = IvfIndex.ensure(spark, dir, IvfIndex.Sq8)
    val out = IvfIndex.search(spark, dir, IvfIndex.Sq8)
    // every emitted sim must equal the exact float cosine — the final
    // scoring never uses quantized arithmetic
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    val mismatches = out
      .join(emb.selectExpr("vec_id", "emb AS v_emb", "nrm AS v_nrm"), "vec_id")
      .join(emb.selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm"), "q_id")
      .selectExpr("sim",
        "round(graft_dot(q_emb, v_emb) / (q_nrm * v_nrm), 6) AS exact")
      .where("sim <> exact").count()
    assert(mismatches == 0, "emitted sims must be exact float cosines")
    // the point of the layout: quantized list files are much smaller than
    // the float64-array lists of the plain index (64 B vs 512 B payload)
    def listBytes(root: String): Long = {
      val base = Paths.get(root)
      Files.walk(base).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.toString.contains("c_id=") && p.toString.endsWith(".parquet"))
        .map(Files.size(_)).sum
    }
    val floatBytes = listBytes(IvfIndex.path(spark, dir, IvfIndex.Float))
    val sq8Bytes = listBytes(sq8Path)
    assert(sq8Bytes * 2 < floatBytes,
      s"sq8 lists ($sq8Bytes B) must be well under the float lists ($floatBytes B)")
  }

  test("PQ index: 2-byte packed codes, codebooks in the index, byte-for-byte reuse") {
    val path = IvfIndex.path(spark, dir, IvfIndex.Pq)
    deleteRecursively(Paths.get(path))

    val first = IvfIndex.search(spark, dir, IvfIndex.Pq).collect().toSeq
    assert(first.nonEmpty)
    assert(new File(path + "/_SUCCESS").exists(), "index must be committed")
    assert(new File(path + "/" + IvfIndex.ListsManifestFile).exists())
    val stateAfterBuild = fileState(path)

    val idx = spark.read.parquet(path)
    val cols = idx.columns.toSet
    assert(!cols.contains("emb") && !cols.contains("qb"),
      "PQ lists hold codes only — no float vectors, no SQ8 bytes")
    assert(idx.schema("pcode").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // the storage contract: PqM 4-bit codes in one 16-bit integer
    assert(idx.selectExpr("pcode >= 0 AND pcode < 65536 AS ok")
      .where("NOT ok").count() == 0)
    val nHist = graft.Tables.load(spark, dir, "embeddings")
      .where(s"vec_id % ${Similarity.IvfSplitMod} <> 0").count()
    assert(idx.count() == nHist)
    // both codebooks travel WITH the index: coarse (16+) + PQ (M×K rows)
    val pqc = IvfIndex.open(spark, path, IvfIndex.Pq).pq.get
    assert(pqc.count() == Similarity.PqM.toLong * Similarity.PqK)
    // every unpacked sub-code indexes a real codebook row
    val unpackOk = (0 until Similarity.PqM)
      .map(m => s"(pcode DIV ${1L << (4 * m)}) % ${Similarity.PqK} >= 0")
      .mkString(" AND ")
    assert(idx.selectExpr(s"$unpackOk AS ok").where("NOT ok").count() == 0)

    val second = IvfIndex.search(spark, dir, IvfIndex.Pq).collect().toSeq
    assert(second == first, "replayed probe must be bit-identical")
    assert(fileState(path) == stateAfterBuild,
      "second run must not rewrite any index file (reuse, not rebuild)")
  }

  test("PQ append surfaces wave-1 through the code lists") {
    IvfIndex.ensure(spark, dir, IvfIndex.Pq)
    val rows = IvfIndex.append(spark, dir, IvfIndex.Pq).collect()
    assert(rows.nonEmpty)
    val w = 2 * Similarity.IvfSplitMod
    assert(rows.exists(r => r.getLong(1) % w == 0),
      "appended wave-1 vectors must be probe-visible in wave-2's top-k")
    assert(rows.forall { r =>
      val v = r.getLong(1)
      v % Similarity.IvfSplitMod != 0 || v % w == 0
    }, "wave-2 vectors must not be in the index")
  }

  test("PQ probe's sims are EXACT cosines and code lists undercut SQ8's") {
    IvfIndex.ensure(spark, dir, IvfIndex.Sq8)
    val pqPath = IvfIndex.ensure(spark, dir, IvfIndex.Pq)
    val out = IvfIndex.search(spark, dir, IvfIndex.Pq)
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    val mismatches = out
      .join(emb.selectExpr("vec_id", "emb AS v_emb", "nrm AS v_nrm"), "vec_id")
      .join(emb.selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm"), "q_id")
      .selectExpr("sim",
        "round(graft_dot(q_emb, v_emb) / (q_nrm * v_nrm), 6) AS exact")
      .where("sim <> exact").count()
    assert(mismatches == 0, "emitted sims must be exact float cosines")
    // even at toy scale (parquet per-file overhead shared by both layouts)
    // the 2-byte-code lists must undercut the 64-byte SQ8 lists; the
    // <1/4 payload claim is measured where overhead amortizes
    // (graft.tools.Scale ivfprobe at x10/x100, NOTES_r14)
    def listBytes(root: String): Long = {
      val base = Paths.get(root)
      Files.walk(base).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.toString.contains("c_id=") && p.toString.endsWith(".parquet"))
        .map(Files.size(_)).sum
    }
    val sq8Bytes = listBytes(IvfIndex.path(spark, dir, IvfIndex.Sq8))
    val pqBytes = listBytes(pqPath)
    assert(pqBytes < sq8Bytes,
      s"pq code lists ($pqBytes B) must undercut sq8 lists ($sq8Bytes B)")
  }

  test("PQ persisted-layout recall gate holds against hist brute force") {
    val row = Similarity.ivfPqIdxRecallGate(spark, dir).collect()
    assert(row.length == 1)
    val r = row.head
    assert(r.getString(0) == "ivf_pq_idx")
    val (hits, truth) = (r.getLong(1), r.getLong(2))
    assert(truth ==
      Similarity.QuerySetSize.toLong * Similarity.TopK)
    assert(hits <= truth)
    assert(r.getBoolean(4) == (hits * 100 >= r.getLong(3) * truth),
      "ok must be the thresholded hits/truth comparison")
  }

  test("residual-PQ index: same 2-byte layout, live codebook, recall floor") {
    val path = IvfIndex.ensure(spark, dir, IvfIndex.PqRes)
    // lists carry only (vec_id, nrm, pcode) — 2-byte codes, no vectors
    val lists = spark.read.parquet(path)
    assert(lists.columns.toSet == Set("vec_id", "nrm", "pcode", "c_id"))
    assert(lists.where("pcode < 0 OR pcode >= 65536").count() == 0,
      "pcode must pack 4 four-bit cells")
    // the residual codebook must NOT be degenerate: the first-nc vectors
    // ARE the centroids (zero residuals), so seeds are offset — every
    // subspace has PqK codes and a nonzero spread (the r14 bug class)
    val pqc = IvfIndex.open(spark, path, IvfIndex.Pq).pq.get
    assert(pqc.groupBy("m").count().collect()
      .forall(_.getLong(1) == Similarity.PqK.toLong))
    val liveCodes = pqc.selectExpr("m", "p_id",
        "array_max(transform(p_sub, x -> abs(x))) AS mx")
      .where("mx > 1e-12").count()
    assert(liveCodes >= (Similarity.PqM * Similarity.PqK) / 2,
      s"residual codebook degenerate: only $liveCodes live codes")
    // probe output: exact-cosine sims, hist-split members, recall floor
    val out = IvfIndex.search(spark, dir, IvfIndex.PqRes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.length ==
      Similarity.QuerySetSize * Similarity.TopK)
    assert(out.forall(_._2 % Similarity.IvfSplitMod != 0),
      "only indexed-split vectors can be returned")
    // recall vs exact truth over the hist split (floor 50% at this tiny
    // SF; measured 72%/72% at sf0.01/sf0.1 with refine x2 — half the raw
    // layout's x4)
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    val w = 2 * Similarity.IvfSplitMod
    val q = emb.where(
        s"vec_id % $w = 0 AND vec_id < ${w.toLong * Similarity.QuerySetSize}")
      .selectExpr("vec_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    val truth = emb.where(s"vec_id % ${Similarity.IvfSplitMod} <> 0")
      .join(broadcast(q), expr("vec_id <> q_id"))
      .selectExpr("q_id", "vec_id",
        "round(graft_dot(q_emb, emb) / (q_nrm * nrm), 6) AS sim")
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)"))
      .where(s"rk <= ${Similarity.TopK}")
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = out.map(o => (o._1, o._2)).count(truth.contains)
    assert(hits * 2 >= truth.size,
      s"residual-PQ recall floor: $hits/${truth.size}")
  }
}
