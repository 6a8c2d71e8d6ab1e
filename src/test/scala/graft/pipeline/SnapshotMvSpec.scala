package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SnapshotMvSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fileStates(work: String, entries: Seq[(String, String)])
      : Map[String, Long] = {
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    entries.map { case (s, f) =>
      val p = new org.apache.hadoop.fs.Path(s"$work/source=$s/$f")
      s"$s/$f" -> fs.getFileStatus(p).getModificationTime
    }.toMap
  }

  test("snapshot isolation: a later commit never touches v1's files") {
    val work = graft.TempDirs.scoped("snap-spec") + "/t"
    val docs = SnapshotMv.waved(graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars"))
    SnapshotMv.commitInitial(spark, work, docs.where("NOT in_wave"))
    val v1Entries = SnapshotMv.readSnapshotManifest(spark, work, 1L)
    assert(v1Entries.nonEmpty)
    val v1Before = SnapshotMv.readSnapshot(spark, work, 1L)
      .collect().map(_.toSeq).sortBy(_.toString)
    val v1Files = fileStates(work, v1Entries)
    SnapshotMv.commitDelta(spark, work, docs.where("in_wave"), 2L)
    // every v1 file still exists with the same mtime, and reads back
    // row-identically AFTER the v2 commit
    assert(fileStates(work, v1Entries) == v1Files,
      "v2's commit touched a v1 data file — immutability broken")
    val v1After = SnapshotMv.readSnapshot(spark, work, 1L)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(v1After.toSeq == v1Before.toSeq, "time travel drifted")
    // v2 = v1 plus the wave, additively
    val v2 = SnapshotMv.readSnapshot(spark, work, 2L)
      .selectExpr("sum(n_docs) AS n").collect()(0).getLong(0)
    val v1n = SnapshotMv.readSnapshot(spark, work, 1L)
      .selectExpr("sum(n_docs) AS n").collect()(0).getLong(0)
    assert(v2 == docs.count() && v1n < v2,
      s"snapshot 2 rollup ($v2) must cover the whole corpus")
  }

  test("partition-spec evolution is metadata-only and keeps old readers " +
    "working") {
    val work = graft.TempDirs.scoped("snap-ev-spec") + "/t"
    val docs = SnapshotMv.waved(graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars"))
    SnapshotMv.commitInitial(spark, work, docs.where("NOT in_wave"))
    val v1Entries = SnapshotMv.readSnapshotManifest(spark, work, 1L)
    val v1Before = SnapshotMv.readSnapshot(spark, work, 1L)
      .collect().map(_.toSeq).sortBy(_.toString)
    val v1Files = fileStates(work, v1Entries)
    SnapshotMv.commitEvolved(spark, work, docs.where("in_wave"), 2L)
    // metadata-only: every v1 file untouched, carried forward VERBATIM
    assert(fileStates(work, v1Entries) == v1Files,
      "evolution must not rewrite or move a committed file")
    val v2Entries = SnapshotMv.readSnapshotManifest(spark, work, 2L)
    assert(v2Entries.toSet.intersect(v1Entries.toSet) == v1Entries.toSet,
      "every old-spec entry carries forward verbatim")
    // new-spec entries live under nested lang dirs with the v2 tag
    val evolved = v2Entries.filterNot(v1Entries.toSet)
    assert(evolved.nonEmpty &&
      evolved.forall { case (p, f) => p.contains("/lang=") && f.startsWith("v2-") })
    // the OLD reader still reads the OLD snapshot identically
    val v1After = SnapshotMv.readSnapshot(spark, work, 1L)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(v1After.toSeq == v1Before.toSeq)
    // the lang-restricted spec-aware read opens: ALL old-spec files (lang
    // is not in their layout) + exactly the matching new-spec dirs
    val (en, opened, total) =
      SnapshotMv.readSnapshotEvolved(spark, work, 2L, Some("en"))
    val enEvolved = evolved.count(_._1.endsWith("/lang=en"))
    assert(total == v2Entries.size.toLong)
    assert(opened == (v1Entries.size + enEvolved).toLong,
      s"opened $opened vs old ${v1Entries.size} + en $enEvolved")
    assert(opened < total, "pruning must actually skip new-spec files")
    assert(en.collect().forall(_.getString(2) == "en"))
  }

  test("untouched partitions are carried forward, not rewritten") {
    val work = graft.TempDirs.scoped("snap-spec2") + "/t"
    val docs = SnapshotMv.waved(graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars"))
    SnapshotMv.commitInitial(spark, work, docs.where("NOT in_wave"))
    SnapshotMv.commitDelta(spark, work, docs.where("in_wave"), 2L)
    val v1 = SnapshotMv.readSnapshotManifest(spark, work, 1L).toSet
    val v2 = SnapshotMv.readSnapshotManifest(spark, work, 2L).toSet
    val touched = docs.where("in_wave")
      .select("source").distinct().collect().map(_.getString(0)).toSet
    v2.foreach { case (s, f) =>
      if (touched(s)) assert(f.startsWith("v2-"),
        s"touched partition $s carries a stale file $f")
      else assert(v1((s, f)),
        s"untouched partition $s was rewritten in v2 ($f)")
    }
    assert(touched.nonEmpty && touched.size < v2.map(_._1).size,
      "harness degenerate: every partition touched (carry-forward untested)")
  }

  test("streaming ingest: one snapshot per micro-batch, all retained readable") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars")
    val rows = docs.as[(Long, String, String, Long)].collect()
    val work = graft.TempDirs.scoped("snap-stream") + "/t"
    val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq

    SnapshotMv.commitInitial(spark, work, spark.createDataFrame(
      chunks.head.toIndexedSeq).toDF("doc_id", "source", "lang", "n_chars"))
    // capture the per-version expected rollup as each commit lands
    var expected = Map[Long, Seq[Seq[Any]]]()
    def rollupOf(upTo: Int): Seq[Seq[Any]] =
      spark.createDataFrame(chunks.take(upTo).flatten.toIndexedSeq)
        .toDF("doc_id", "source", "lang", "n_chars")
        .groupBy("source", "lang")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
          org.apache.spark.sql.functions.sum("n_chars").as("sum_chars"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    expected += 1L -> rollupOf(1)

    val src = MemoryStream[(Long, String, String, Long)]
    val q = src.toDS().toDF("doc_id", "source", "lang", "n_chars")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // a production ingest commits ONE snapshot per micro-batch; the
        // batchId maps onto the version chain after the initial commit
        SnapshotMv.commitDelta(batch.sparkSession, work, batch, ver = id + 2)
      }
      .option("checkpointLocation", graft.TempDirs.scoped("snap-stream-ckpt"))
      .start()
    try {
      chunks.drop(1).zipWithIndex.foreach { case (chunk, i) =>
        src.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
        expected += (i + 2L) -> rollupOf(i + 2)
      }
    } finally q.stop()

    // EVERY retained snapshot — not just the head — reads back exactly
    // the rollup that was current when its commit landed
    expected.foreach { case (ver, want) =>
      val got = SnapshotMv.readSnapshot(spark, work, ver)
        .select("source", "lang", "n_docs", "sum_chars")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(got.toSeq == want,
        s"snapshot v$ver drifted after ${expected.size - 1} later commits")
    }
  }

  test("forget: old snapshot retains, new omits, delete+vacuum erases bytes") {
    val work = graft.TempDirs.scoped("snap-forget-spec") + "/t"
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars")
    SnapshotMv.commitInitial(spark, work, docs)
    SnapshotMv.commitDelete(spark, work, 2L, SnapshotMv.ForgetWhere)
    def matching(df: org.apache.spark.sql.DataFrame): Long =
      df.where(SnapshotMv.ForgetWhere).count()
    // retention: the pre-delete snapshot still shows the rows by design
    assert(matching(SnapshotMv.readSnapshot(spark, work, 1L)) > 0,
      "harness degenerate: nothing matched the forget predicate")
    // the delete snapshot provably lacks them
    assert(matching(SnapshotMv.readSnapshot(spark, work, 2L)) == 0,
      "deleted rows visible in the delete snapshot")
    // carry-forward stayed live (cold partitions keep their v1 files)
    assert(SnapshotMv.readSnapshotManifest(spark, work, 2L)
      .exists(_._2.startsWith("v1-")), "no partition carried forward")
    val keep = SnapshotMv.readSnapshot(spark, work, 2L)
      .collect().map(_.toSeq).sortBy(_.toString)
    // ERASURE = delete commit + vacuum of every pre-delete snapshot:
    // afterwards no parquet file anywhere under the table matches
    SnapshotMv.vacuum(spark, work, keep = 2L)
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val allFiles = fs.listStatus(new org.apache.hadoop.fs.Path(work))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))
      .flatMap(d => fs.listStatus(d.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString))
    assert(allFiles.nonEmpty)
    assert(matching(spark.read.option("basePath", work)
      .parquet(allFiles.toIndexedSeq: _*)) == 0,
      "forgotten rows still present in on-disk bytes after vacuum")
    val after = SnapshotMv.readSnapshot(spark, work, 2L)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(after.toSeq == keep.toSeq, "vacuum disturbed the kept snapshot")
  }

  test("vacuum deletes exactly the unreferenced files; kept snapshot intact") {
    val work = graft.TempDirs.scoped("snap-spec3") + "/t"
    val docs = SnapshotMv.waved(graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars"))
    SnapshotMv.commitInitial(spark, work, docs.where("NOT in_wave"))
    SnapshotMv.commitDelta(spark, work, docs.where("in_wave"), 2L)
    val keepRows = SnapshotMv.readSnapshot(spark, work, 2L)
      .collect().map(_.toSeq).sortBy(_.toString)
    SnapshotMv.vacuum(spark, work, keep = 2L)
    // the kept snapshot reads back unchanged
    val after = SnapshotMv.readSnapshot(spark, work, 2L)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(after.toSeq == keepRows.toSeq, "vacuum corrupted the kept snapshot")
    // the vacuumed snapshot fails LOUD, not empty
    val e = intercept[IllegalStateException] {
      SnapshotMv.readSnapshot(spark, work, 1L)
    }
    assert(e.getMessage.contains("vacuumed or never committed"))
    // no orphan data files remain beyond the kept manifest
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = SnapshotMv.readSnapshotManifest(spark, work, 2L)
      .map { case (s, f) => s"source=$s/$f" }.toSet
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(work))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))
      .flatMap(d => fs.listStatus(d.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => s"${d.getPath.getName}/${f.getPath.getName}")).toSet
    assert(onDisk == referenced, s"orphans after vacuum: ${onDisk -- referenced}")
  }

  test("streaming commit is idempotent under batch replay") {
    // the exactly-once core: a replayed foreachBatch (same batchId after
    // a sink-side failure) must be a no-op — manifest byte-identical,
    // no new data files — while the NEXT batchId still commits
    val work = graft.TempDirs.scoped("snap-idem-spec") + "/t"
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars")
    val (b1, b2) = (docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"))
    SnapshotMv.commitIdempotent(spark, work, 1L, b1)
    val m1 = SnapshotMv.readSnapshotManifest(spark, work, 1L)
    def dataFiles(): Set[String] = {
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(work))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))
        .flatMap(d => fs.listStatus(d.getPath)
          .map(f => s"${d.getPath.getName}/${f.getPath.getName}")).toSet
    }
    val filesAfterV1 = dataFiles()
    // replay batch 0 — WITH DIFFERENT DATA, the adversarial retry: a
    // correct sink keys idempotence on the batchId, not the payload
    SnapshotMv.commitIdempotent(spark, work, 1L, b2)
    assert(SnapshotMv.readSnapshotManifest(spark, work, 1L) == m1,
      "replayed batch must not alter the committed manifest")
    assert(dataFiles() == filesAfterV1,
      "replayed batch must not write new data files")
    // the next batch still goes through
    SnapshotMv.commitIdempotent(spark, work, 2L, b2)
    val v2 = SnapshotMv.readSnapshot(spark, work, 2L)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    assert(v2 == docs.count(), "v2 must hold the full corpus rollup")
  }

  test("optimize: fragmented partitions compact, single-file ones carry forward, time travel intact") {
    val work = graft.TempDirs.scoped("snap-opt-spec") + "/t"
    import spark.implicits._
    // srcA fragments across both appends; srcB only exists in commit 1
    val b1 = Seq((1L, "srcA", "en", 10L), (2L, "srcB", "en", 20L))
      .toDF("doc_id", "source", "lang", "n_chars")
    val b2 = Seq((3L, "srcA", "de", 30L)).toDF("doc_id", "source", "lang", "n_chars")
    SnapshotMv.commitAppend(spark, work, 1L, b1)
    SnapshotMv.commitAppend(spark, work, 2L, b2)
    val m2 = SnapshotMv.readSnapshotManifest(spark, work, 2L)
    assert(m2.count(_._1 == "srcA") == 2 && m2.count(_._1 == "srcB") == 1)
    SnapshotMv.commitOptimize(spark, work, 3L)
    val m3 = SnapshotMv.readSnapshotManifest(spark, work, 3L)
    assert(m3.count(_._1 == "srcA") == 1, "fragmented partition must compact to one file")
    assert(m3.filter(_._1 == "srcB") == m2.filter(_._1 == "srcB"),
      "single-file partition must carry forward VERBATIM (same file name)")
    // data identical across the optimize commit
    def rows(v: Long) = SnapshotMv.readSnapshot(spark, work, v)
      .select("doc_id", "source", "lang", "n_chars").collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(3L) == rows(2L), "OPTIMIZE must be data-identical")
    // time travel: v2 still readable and references the OLD fragmented files
    assert(SnapshotMv.readSnapshot(spark, work, 2L).count() == 3)
  }

  test("CDF apply: v1 + changes == v2 exactly, for both diffs") {
    // the CDC consumer contract: applying a feed to the old snapshot must
    // reconstruct the new one — drop deletes and update preimages, add
    // inserts and update postimages
    val work = graft.TempDirs.scoped("snap-cdf-spec") + "/t"
    val docs = SnapshotMv.waved(graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars"))
    SnapshotMv.commitInitial(spark, work, docs.where("NOT in_wave"))
    SnapshotMv.commitDelta(spark, work, docs.where("in_wave").drop("srk"), 2L)
    SnapshotMv.commitDelete(spark, work, 3L, SnapshotMv.ForgetWhere)
    def snap(v: Long): Set[(String, String, Long, Long)] =
      SnapshotMv.readSnapshot(spark, work, v)
        .select("source", "lang", "n_docs", "sum_chars").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    for ((vo, vn) <- Seq((1L, 2L), (2L, 3L))) {
      val feed = SnapshotMv.cdfBetween(spark, work, vo, vn, "t").collect()
        .map(r => (r.getString(1), (r.getString(2), r.getString(3),
          r.getLong(4), r.getLong(5))))
      val removed = feed.collect {
        case (c, row) if c == "delete" || c == "update_preimage" => row
      }.toSet
      val added = feed.collect {
        case (c, row) if c == "insert" || c == "update_postimage" => row
      }.toSet
      val applied = (snap(vo) -- removed) ++ added
      assert(applied == snap(vn),
        s"CDF v$vo->v$vn does not replay: " +
          s"extra=${applied -- snap(vn)} missing=${snap(vn) -- applied}")
      assert(feed.nonEmpty, s"diff v$vo->v$vn must not be empty")
    }
  }

  test("branch: zero-copy fork, two-way isolation, additive merge == full rollup") {
    val work = graft.TempDirs.scoped("snap-branch-spec") + "/t"
    val d = SnapshotMv.waved(graft.Tables.load(spark, dir, "documents")
        .select("doc_id", "source", "lang", "n_chars"))
      .withColumn("in_bwave", org.apache.spark.sql.functions.expr(
        s"srk <= ${SnapshotMv.WaveRanks} AND md5(source) >= '8'"))
    SnapshotMv.commitInitial(spark, work, d.where("NOT in_wave AND NOT in_bwave"))
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(work), true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath.toString
        if (f.endsWith(".parquet") && f.contains("source=")) b += f
      }
      b.result()
    }
    val beforeBranch = dataFiles()
    SnapshotMv.commitBranch(spark, work, 1L, "bdev")
    // zero-copy: branching wrote NO data file
    assert(dataFiles() == beforeBranch, "branch creation must be metadata-only")
    // branch base manifest lists exactly v1's files
    assert(SnapshotMv.readManifestNamed(spark, work, "bdev-v1").toSet ==
      SnapshotMv.readSnapshotManifest(spark, work, 1L).toSet)

    SnapshotMv.commitDelta(spark, work, d.where("in_wave"), 2L)
    val mainV2 = SnapshotMv.readSnapshot(spark, work, 2L)
      .collect().map(_.toSeq).sortBy(_.toString)
    SnapshotMv.commitBranchDelta(spark, work, "bdev", 2L, d.where("in_bwave"))
    // isolation: the branch commit left main v2 byte-identical
    assert(SnapshotMv.readSnapshot(spark, work, 2L)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq == mainV2.toSeq)

    SnapshotMv.mergeBranch(spark, work, 2L, "bdev", 1L, 2L, 3L)
    // merge completeness: v3 == the full-corpus rollup
    val got = SnapshotMv.readSnapshot(spark, work, 3L)
      .selectExpr("source", "lang", "n_docs", "sum_chars")
      .collect().map(_.toSeq).sortBy(_.toString)
    val want = graft.Tables.load(spark, dir, "documents")
      .groupBy("source", "lang")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum("n_chars").as("sum_chars"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.toSeq == want.toSeq, "merged snapshot must equal the full rollup")
    // untouched-by-merge partitions carry v2's files verbatim into v3
    val v2m = SnapshotMv.readSnapshotManifest(spark, work, 2L).toMap
    val v3m = SnapshotMv.readSnapshotManifest(spark, work, 3L).toMap
    val coldTouched = SnapshotMv.readManifestNamed(spark, work, "bdev-v2")
      .toSet.diff(SnapshotMv.readManifestNamed(spark, work, "bdev-v1").toSet)
      .map(_._1)
    v2m.keys.filterNot(coldTouched).foreach { s =>
      assert(v3m(s) == v2m(s), s"partition $s must carry forward verbatim")
    }
  }
}
