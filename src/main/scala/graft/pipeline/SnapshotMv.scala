package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Snapshot-versioned partitioned table — the MVCC commit protocol every
  * serious table format runs at 100 TB (Iceberg snapshots, Delta's
  * transaction log), re-expressed minimally on plain parquet + manifests:
  *
  *  - DATA FILES ARE IMMUTABLE. An update writes NEW files for the
  *    touched partitions only; it never rewrites or deletes a committed
  *    file. (The in-place upsert sink the incremental indexes use trades
  *    this away for layout stability — this module is the other point in
  *    the design space, and the one that gives readers isolation.)
  *  - A VERSION IS A MANIFEST, not a directory state: `_versions/v<N>`
  *    lists exactly the (partition, file) pairs visible at snapshot N —
  *    untouched partitions carry their previous files forward. Readers
  *    NEVER list the filesystem (the object-store contract shared with
  *    the index manifests).
  *  - COMMIT IS ONE RENAME: the manifest is staged under a dot-prefixed
  *    temp name and renamed into place, so a concurrent reader sees
  *    either the old snapshot or the new one, never a torn state.
  *  - TIME TRAVEL IS FREE: any retained snapshot remains byte-identically
  *    readable after later commits (`SnapshotMvSpec` pins file
  *    name+mtime equality under a post-commit read).
  *  - [[vacuum]] reclaims space by deleting exactly the files no retained
  *    manifest references — the only deletion in the protocol, and it
  *    never touches the current snapshot.
  *
  * The committed entry versions the [[CorpusOps.incrementalMv]] rollup:
  * snapshot 1 = the corpus minus the standard wave split, snapshot 2 =
  * wave delta merged in (touched-partition-only, batch-proportional IO —
  * the old rows re-read for the merge are selected through snapshot 1's
  * manifest, never a dir listing). The entry reads snapshot 1 AFTER
  * snapshot 2 is committed, so the oracle's hash gate IS the isolation
  * property: a protocol that mutated v1's files would change v1's rows.
  */
object SnapshotMv {

  private val VersionsDir = "_versions"

  /** Write manifest `lines` for snapshot `ver` and commit it atomically
    * (temp file + rename — the protocol's only commit primitive).
    */
  private def commitManifest(fs: FileSystem, work: String, ver: Long,
      entries: Seq[(String, String)]): Unit =
    commitManifestNamed(fs, work, s"v$ver", entries)

  /** Named-manifest form — version refs (`v<N>`) and branch refs
    * (`<branch>-v<N>`) share the one commit primitive.
    */
  private def commitManifestNamed(fs: FileSystem, work: String, name: String,
      entries: Seq[(String, String)]): Unit = {
    fs.mkdirs(new Path(work, VersionsDir))
    val tmp = new Path(s"$work/$VersionsDir/.tmp-$name")
    IndexCommit.writeLines(fs, tmp, entries.sorted.map { case (s, f) => s"$s,$f" })
    val fin = new Path(s"$work/$VersionsDir/$name")
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"manifest commit failed for $name")
  }

  /** The (partition, file) pairs of snapshot `ver`. FAILS LOUD when the
    * manifest is absent (vacuumed or never committed) — a reader must
    * never silently fall back to a directory listing.
    */
  def readSnapshotManifest(spark: SparkSession, work: String,
      ver: Long): Seq[(String, String)] =
    readManifestNamed(spark, work, s"v$ver")

  /** Named-ref read — fails loud like the versioned form. */
  def readManifestNamed(spark: SparkSession, work: String,
      name: String): Seq[(String, String)] = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    IndexCommit.readLines(fs, new Path(s"$work/$VersionsDir/$name"),
      s"snapshot $name has no manifest at $work — vacuumed or never committed")
      .map { l =>
        val i = l.indexOf(',')
        (l.substring(0, i), l.substring(i + 1))
      }
  }

  /** Read snapshot `ver`, optionally restricted to `sources` (manifest-
    * level pruning: only the named partitions' files are opened — the
    * touched-partition-only IO contract of the merge path).
    */
  def readSnapshot(spark: SparkSession, work: String, ver: Long,
      sources: Option[Set[String]] = None): DataFrame =
    readSnapshotNamed(spark, work, s"v$ver", sources)

  /** Named-ref snapshot read (same manifest-level pruning contract). */
  def readSnapshotNamed(spark: SparkSession, work: String, name: String,
      sources: Option[Set[String]] = None): DataFrame = {
    val entries = readManifestNamed(spark, work, name)
    val picked = sources match {
      case Some(keep) => entries.filter { case (s, _) => keep(s) }
      case None => entries
    }
    val paths = picked.map { case (s, f) => s"$work/source=$s/$f" }
    if (paths.isEmpty)
      throw new IllegalArgumentException(
        s"no partition of snapshot $name matches ${sources.getOrElse(Set())} " +
          "— callers must intersect with the manifest's partitions first")
    spark.read.option("basePath", work).parquet(paths: _*)
  }

  /** Write `rows` (must carry a `source` column) as one NEW immutable file
    * per touched partition and return the (source, file) pairs — staged
    * through a scoped dir, then moved under version-prefixed unique names
    * so no committed file is ever overwritten.
    */
  private def writePartitionFiles(spark: SparkSession, work: String,
      ver: Long, rows: DataFrame): Seq[(String, String)] =
    writePartitionFilesTagged(spark, work, s"v$ver", rows)

  /** Tagged form: `tag` prefixes the placed file names, so version and
    * branch commits can never collide on a name.
    */
  private def writePartitionFilesTagged(spark: SparkSession, work: String,
      tag: String, rows: DataFrame): Seq[(String, String)] = {
    val staging = graft.TempDirs.scoped(s"snap-$tag")
    rows.repartition(col("source"))
      .write.mode("overwrite").partitionBy("source").parquet(staging)
    val (fs, _) = IndexCommit.fsOf(spark, work)
    fs.listStatus(new Path(staging))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))
      .flatMap { d =>
        val src = d.getPath.getName.stripPrefix("source=")
        val tgtDir = new Path(s"$work/source=$src")
        fs.mkdirs(tgtDir)
        fs.listStatus(d.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map { f =>
            val name = s"$tag-${f.getPath.getName}"
            if (!fs.rename(f.getPath, new Path(tgtDir, name)))
              throw new java.io.IOException(s"failed to place $name")
            (src, name)
          }
      }.toSeq
  }

  /** Commit snapshot 1: the full rollup as the initial file set. */
  def commitInitial(spark: SparkSession, work: String, docs: DataFrame): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    val files = writePartitionFiles(spark, work, 1L, rollup(docs))
    commitManifest(fs, work, 1L, files)
  }

  /** Commit snapshot `ver`: merge a delta of raw document rows into the
    * touched partitions of snapshot `ver - 1` — old rows come through the
    * PREVIOUS manifest restricted to the touched sources, merged rows land
    * in NEW files, and the new manifest carries every untouched partition's
    * files forward verbatim.
    */
  def commitDelta(spark: SparkSession, work: String, docs: DataFrame,
      ver: Long): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    val delta = rollup(docs)
    val touched = delta.select("source").distinct()
      .collect().map(_.getString(0)).toSet // metadata-scale: partition keys
    val prev = readSnapshotManifest(spark, work, ver - 1)
    // only partitions that EXIST in the previous snapshot have old rows to
    // merge; a delta can also open brand-new partitions (no old files)
    val overlap = touched.intersect(prev.map(_._1).toSet)
    val base =
      if (overlap.isEmpty) delta
      else readSnapshot(spark, work, ver - 1, Some(overlap))
        .select("source", "lang", "n_docs", "sum_chars")
        .unionByName(delta)
    val merged = base.groupBy("source", "lang")
      .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"))
    val newFiles = writePartitionFiles(spark, work, ver, merged)
    val carried = prev.filter { case (s, _) => !touched(s) }
    commitManifest(fs, work, ver, carried ++ newFiles)
  }

  /** Commit snapshot `ver` that DELETES every row of `ver - 1` matching
    * `deleteWhere` — the right-to-be-forgotten statement on the snapshot
    * table: partitions containing matching rows are rewritten WITHOUT
    * them into new immutable files (a fully-emptied partition simply
    * leaves the manifest), untouched partitions carry forward. Note the
    * retention tension this protocol makes explicit: earlier snapshots
    * still SHOW the rows by design — actual ERASURE is this commit plus
    * [[vacuum]] of every pre-delete snapshot, and the spec proves the
    * bytes are gone from disk after that pair.
    */
  def commitDelete(spark: SparkSession, work: String, ver: Long,
      deleteWhere: String): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    val prev = readSnapshotManifest(spark, work, ver - 1)
    val touched = readSnapshot(spark, work, ver - 1)
      .where(deleteWhere).select("source").distinct()
      .collect().map(_.getString(0)).toSet // partition keys: metadata
    if (touched.isEmpty) { commitManifest(fs, work, ver, prev); return }
    val rewritten = readSnapshot(spark, work, ver - 1, Some(touched))
      .where(s"NOT ($deleteWhere)")
      .select("source", "lang", "n_docs", "sum_chars")
    val newFiles = writePartitionFiles(spark, work, ver, rewritten)
    val carried = prev.filter { case (s, _) => !touched(s) }
    commitManifest(fs, work, ver, carried ++ newFiles)
  }

  /** The forget-flow predicate: one language's rows in the md5-hot half
    * of the partitions — touches some partitions (rewrite path) and
    * leaves the rest carried (the same structural split as [[waved]]).
    */
  val ForgetWhere = "lang = 'de' AND md5(source) < '8'"

  /** Right-to-be-forgotten over the snapshot table: snapshot 1 holds the
    * full rollup, snapshot 2 is [[commitDelete]] of [[ForgetWhere]], and
    * the entry reads BOTH — v1 AFTER the delete commit, so the hash gate
    * proves the protocol's retention semantics exactly (the old snapshot
    * still shows the rows; the new one provably lacks them). The erasure
    * half (delete + vacuum ⇒ no matching bytes anywhere on disk) is
    * spec-pinned in `SnapshotMvSpec`.
    */
  def mvForget(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.TempDirs.scoped("snap-forget") + "/t"
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars")
    commitInitial(spark, work, docs)
    commitDelete(spark, work, 2L, ForgetWhere)
    val read = (v: Long) => readSnapshot(spark, work, v)
      .selectExpr(s"CAST($v AS BIGINT) AS snapshot",
        "source", "lang", "n_docs", "sum_chars")
    read(1L).unionByName(read(2L)).orderBy("snapshot", "source", "lang")
  }

  val mvForgetSql: String =
    s"""SELECT 1::BIGINT AS snapshot, source, lang, count(*)::BIGINT AS n_docs,
       |       sum(n_chars)::BIGINT AS sum_chars
       |FROM documents GROUP BY 2, 3
       |UNION ALL
       |SELECT 2::BIGINT, source, lang, count(*)::BIGINT, sum(n_chars)::BIGINT
       |FROM documents WHERE NOT (lang = 'de' AND md5(source) < '8')
       |GROUP BY 2, 3
       |ORDER BY snapshot, source, lang""".stripMargin

  /** Delete every data file not referenced by the `keep` manifest, and
    * every other version's manifest — the retention boundary. Never
    * touches a file the kept snapshot references.
    */
  def vacuum(spark: SparkSession, work: String, keep: Long): Unit = {
    val (fs, root) = IndexCommit.fsOf(spark, work)
    val referenced = readSnapshotManifest(spark, work, keep)
      .map { case (s, f) => s"source=$s/$f" }.toSet
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))
      .foreach { d =>
        fs.listStatus(d.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            if (!referenced(s"${d.getPath.getName}/${f.getPath.getName}"))
              fs.delete(f.getPath, false)
          }
      }
    fs.listStatus(new Path(work, VersionsDir))
      .filter(m => m.getPath.getName.matches("v\\d+") &&
        m.getPath.getName != s"v$keep")
      .foreach(m => fs.delete(m.getPath, false))
  }

  private def rollup(docs: DataFrame): DataFrame =
    docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))

  /** The committed entry: build snapshot 1 (corpus minus wave), commit
    * snapshot 2 (wave merged), then read BOTH snapshots — v1 read AFTER
    * v2's commit, so the hash gate proves time travel returns the exact
    * pre-commit rows. Emits the rollup of each snapshot tagged by
    * snapshot id.
    */
  /** The entry's wave split, STRUCTURAL rather than id-arithmetic: the
    * first [[WaveRanks]] docs (by id) of every source whose md5 starts
    * below '8' — so whatever the testdata's id↔source layout, the delta
    * (1) merges into partitions that already hold rows (the additive
    * path), and (2) leaves the other ~half of the partitions untouched
    * (the carry-forward path). The `doc_id % mod` split the dedup/MV
    * family uses is source-aligned in this corpus and would make one of
    * the two paths vacuous.
    */
  val WaveRanks = 5

  private[graft] def waved(docs: DataFrame): DataFrame =
    docs.withColumn("srk", expr(
        "row_number() OVER (PARTITION BY source ORDER BY doc_id)"))
      .withColumn("in_wave", expr(s"srk <= $WaveRanks AND md5(source) < '8'"))

  def mvSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.TempDirs.scoped("snap-mv") + "/t"
    val docs = waved(Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars"))
    commitInitial(spark, work, docs.where("NOT in_wave"))
    commitDelta(spark, work, docs.where("in_wave"), 2L)
    val read = (v: Long) => readSnapshot(spark, work, v)
      .selectExpr(s"CAST($v AS BIGINT) AS snapshot",
        "source", "lang", "n_docs", "sum_chars")
    read(1L).unionByName(read(2L)).orderBy("snapshot", "source", "lang")
  }

  val mvSnapshotSql: String =
    s"""WITH r AS (
       |  SELECT source, lang, n_chars,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS srk,
       |         md5(source) < '8' AS hot
       |  FROM documents)
       |SELECT 1::BIGINT AS snapshot, source, lang, count(*)::BIGINT AS n_docs,
       |       sum(n_chars)::BIGINT AS sum_chars
       |FROM r WHERE NOT (srk <= $WaveRanks AND hot) GROUP BY 2, 3
       |UNION ALL
       |SELECT 2::BIGINT, source, lang, count(*)::BIGINT, sum(n_chars)::BIGINT
       |FROM r GROUP BY 2, 3
       |ORDER BY snapshot, source, lang""".stripMargin

  // -------------------------------------------------------------- CDF

  /** Row-level change data feed between two committed snapshots, computed
    * from the MANIFESTS alone (the Delta "CDF without CDC files"
    * algorithm): partitions whose file set is identical in both manifests
    * are byte-identical by protocol (immutable files, carry-forward by
    * name) and are NEVER read — only changed partitions' old/new rows
    * meet in a full-outer join on the MV key. At 100 TB a commit touches
    * a handful of partitions, so the diff's IO is commit-sized, not
    * table-sized. Emits the Delta CDF change vocabulary: `insert`,
    * `delete`, and `update_preimage`/`update_postimage` pairs.
    */
  def cdfBetween(spark: SparkSession, work: String, vOld: Long, vNew: Long,
      tag: String): DataFrame = {
    val mOld = readSnapshotManifest(spark, work, vOld)
    val mNew = readSnapshotManifest(spark, work, vNew)
    val changed = ((mOld.toSet diff mNew.toSet) ++ (mNew.toSet diff mOld.toSet))
      .map(_._1)
    val cols = Seq("source", "lang", "n_docs", "sum_chars")
    def side(m: Seq[(String, String)], v: Long): DataFrame = {
      val present = changed.intersect(m.map(_._1).toSet)
      if (present.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("source",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("lang",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_docs",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_chars",
              org.apache.spark.sql.types.LongType))))
      else readSnapshot(spark, work, v, Some(present)).selectExpr(cols: _*)
    }
    val o = side(mOld, vOld)
      .selectExpr("source", "lang", "n_docs AS o_n", "sum_chars AS o_s")
    val n = side(mNew, vNew)
      .selectExpr("source", "lang", "n_docs AS n_n", "sum_chars AS n_s")
    o.join(n, Seq("source", "lang"), "full_outer")
      .where("NOT (o_n <=> n_n AND o_s <=> n_s)")
      .selectExpr("source", "lang",
        """explode(CASE
          |  WHEN o_n IS NULL THEN
          |    array(named_struct('c', 'insert', 'nd', n_n, 'sc', n_s))
          |  WHEN n_n IS NULL THEN
          |    array(named_struct('c', 'delete', 'nd', o_n, 'sc', o_s))
          |  ELSE array(
          |    named_struct('c', 'update_preimage', 'nd', o_n, 'sc', o_s),
          |    named_struct('c', 'update_postimage', 'nd', n_n, 'sc', n_s))
          |END) AS ch""".stripMargin)
      .selectExpr(s"'$tag' AS diff", "ch.c AS change", "source", "lang",
        "ch.nd AS n_docs", "ch.sc AS sum_chars")
  }

  /** The synthetic delta row that guarantees the INSERT change type is
    * live at any testdata layout: a brand-new partition (also exercising
    * the new-partition CDF path, where the old side has no files at all).
    */
  val CdfNewSource = "zz_cdf_src"

  /** Three commits, two diffs: v1 = corpus minus wave, v2 = wave merged
    * PLUS one brand-new partition (inserts + update pairs), v3 = the
    * forget-flow delete (deletes). The v1→v2 and v2→v3 feeds are emitted
    * together, so all four Delta change types are under one hash gate,
    * and the oracle recomputes both diffs from the raw table — a CDF that
    * missed a change, fabricated one, or mis-tagged pre/post breaks it.
    */
  def mvCdf(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.TempDirs.scoped("snap-cdf") + "/t"
    val docs = waved(Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars"))
    val synthetic = spark.range(1).selectExpr(
      "CAST(-10 AS BIGINT) AS doc_id", s"'$CdfNewSource' AS source",
      "'xx' AS lang", "CAST(1234 AS BIGINT) AS n_chars", "true AS in_wave")
    commitInitial(spark, work, docs.where("NOT in_wave"))
    commitDelta(spark, work,
      docs.where("in_wave").drop("srk").unionByName(synthetic), 2L)
    commitDelete(spark, work, 3L, ForgetWhere)
    cdfBetween(spark, work, 1L, 2L, "v1_v2")
      .unionByName(cdfBetween(spark, work, 2L, 3L, "v2_v3"))
      .orderBy("diff", "source", "lang", "change")
  }

  val mvCdfSql: String =
    s"""WITH r AS (
       |  SELECT source, lang, n_chars,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS srk,
       |         md5(source) < '8' AS hot
       |  FROM documents),
       |v1 AS (SELECT source, lang, count(*)::BIGINT AS n_docs,
       |              sum(n_chars)::BIGINT AS sum_chars
       |       FROM r WHERE NOT (srk <= $WaveRanks AND hot) GROUP BY 1, 2),
       |v2 AS (SELECT source, lang, count(*)::BIGINT AS n_docs,
       |              sum(n_chars)::BIGINT AS sum_chars
       |       FROM r GROUP BY 1, 2
       |       UNION ALL
       |       SELECT '$CdfNewSource', 'xx', 1::BIGINT, 1234::BIGINT),
       |v3 AS (SELECT * FROM v2
       |       WHERE NOT (lang = 'de' AND md5(source) < '8')),
       |d12 AS (
       |  SELECT 'insert' AS change, n.* FROM v2 n
       |  WHERE NOT EXISTS (SELECT 1 FROM v1 o
       |                    WHERE o.source = n.source AND o.lang = n.lang)
       |  UNION ALL
       |  SELECT 'delete', o.* FROM v1 o
       |  WHERE NOT EXISTS (SELECT 1 FROM v2 n
       |                    WHERE n.source = o.source AND n.lang = o.lang)
       |  UNION ALL
       |  SELECT 'update_preimage', o.* FROM v1 o JOIN v2 n USING (source, lang)
       |  WHERE o.n_docs <> n.n_docs OR o.sum_chars <> n.sum_chars
       |  UNION ALL
       |  SELECT 'update_postimage', n.* FROM v1 o JOIN v2 n USING (source, lang)
       |  WHERE o.n_docs <> n.n_docs OR o.sum_chars <> n.sum_chars),
       |d23 AS (
       |  SELECT 'insert' AS change, n.* FROM v3 n
       |  WHERE NOT EXISTS (SELECT 1 FROM v2 o
       |                    WHERE o.source = n.source AND o.lang = n.lang)
       |  UNION ALL
       |  SELECT 'delete', o.* FROM v2 o
       |  WHERE NOT EXISTS (SELECT 1 FROM v3 n
       |                    WHERE n.source = o.source AND n.lang = o.lang)
       |  UNION ALL
       |  SELECT 'update_preimage', o.* FROM v2 o JOIN v3 n USING (source, lang)
       |  WHERE o.n_docs <> n.n_docs OR o.sum_chars <> n.sum_chars
       |  UNION ALL
       |  SELECT 'update_postimage', n.* FROM v2 o JOIN v3 n USING (source, lang)
       |  WHERE o.n_docs <> n.n_docs OR o.sum_chars <> n.sum_chars)
       |SELECT * FROM (
       |  SELECT 'v1_v2' AS diff, change, source, lang, n_docs, sum_chars FROM d12
       |  UNION ALL
       |  SELECT 'v2_v3', change, source, lang, n_docs, sum_chars FROM d23)
       |ORDER BY diff, source, lang, change""".stripMargin

  /** Micro-batch count for the streaming/append entries. Declared ahead
    * of the SQL vals that interpolate it — a Scala object initializes
    * vals in declaration order, and a forward reference silently reads 0
    * (this bit: an oracle shipped `doc_id % 0`).
    */
  val StreamChunks = 4

  // ---------------------------------------------------- OPTIMIZE commit

  /** APPEND-style commit for a RAW data table under the same manifest
    * protocol: the batch's rows land as new files and the manifest keeps
    * every previous file — partitions accumulate one file per touching
    * commit (the MV commits above are merge-on-write and never fragment;
    * raw-table ingestion is where small files pile up).
    */
  def commitAppend(spark: SparkSession, work: String, ver: Long,
      rows: DataFrame): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    val prev = if (ver == 1L) Seq.empty
      else readSnapshotManifest(spark, work, ver - 1)
    commitManifest(fs, work, ver, prev ++ writePartitionFiles(spark, work, ver, rows))
  }

  /** Commit snapshot `ver` that REWRITES every partition carrying more
    * than one file into a single compacted file — Delta `OPTIMIZE` /
    * Iceberg rewrite_data_files expressed in the snapshot protocol:
    * data-IDENTICAL by construction (the only change is file layout),
    * single-file partitions carry forward verbatim, and because old
    * files are immutable and still referenced by earlier manifests,
    * time travel is untouched until a vacuum reclaims them.
    */
  def commitOptimize(spark: SparkSession, work: String, ver: Long): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    val prev = readSnapshotManifest(spark, work, ver - 1)
    val fragmented = prev.groupBy(_._1).filter(_._2.size > 1).keySet
    if (fragmented.isEmpty) { commitManifest(fs, work, ver, prev); return }
    val rewritten = readSnapshot(spark, work, ver - 1, Some(fragmented))
    val newFiles = writePartitionFiles(spark, work, ver, rewritten)
    val carried = prev.filter { case (s, _) => !fragmented(s) }
    commitManifest(fs, work, ver, carried ++ newFiles)
  }

  /** Four append commits (chunk = rank-within-source mod [[StreamChunks]])
    * fragment every partition into one file per touching batch; v5 is the
    * OPTIMIZE commit. The emitted surface pins both halves under one
    * hash: the v5 per-source totals (data-identical to v4 — the oracle
    * recomputes them from the raw table) AND the per-partition manifest
    * file counts before/after (fragmentation is deterministic: one file
    * per chunk that contains a doc of the source).
    */
  def mvOptimize(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.TempDirs.scoped("snap-opt") + "/t"
    // STRUCTURAL chunks (rank within source, the waved/compaction
    // precedent): doc_id % k is source-ALIGNED in this corpus (doc_id ≡
    // source index mod 20), which would put each source entirely inside
    // ONE batch and make compaction vacuous — the session-5 snapshot-MV
    // lesson, re-hit and re-fixed here
    val docs = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "source", "lang", "n_chars")
      .withColumn("ck", expr(
        s"pmod(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1, $StreamChunks)"))
    (1L to StreamChunks.toLong).foreach { v =>
      commitAppend(spark, work, v, docs.where(s"ck = ${v - 1}").drop("ck"))
    }
    val optVer = StreamChunks + 1L
    commitOptimize(spark, work, optVer)
    val before = readSnapshotManifest(spark, work, StreamChunks.toLong)
      .groupBy(_._1).map { case (s, fs0) => s -> fs0.size.toLong }
    val after = readSnapshotManifest(spark, work, optVer)
      .groupBy(_._1).map { case (s, fs0) => s -> fs0.size.toLong }
    val counts = before.toSeq.sortBy(_._1).map { case (s, b) =>
      (s, b, after(s))
    }
    import spark.implicits._
    val countsDf = counts.toDF("source", "files_before", "files_after")
    readSnapshot(spark, work, optVer)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .join(broadcast(countsDf), "source")
      .orderBy("source")
  }

  /** Oracle: per-source totals from the raw table, plus the
    * deterministic fragmentation arithmetic — files_before = number of
    * distinct structural chunks holding a doc of the source (one file
    * per touching append), files_after = 1 (every source at any tested
    * sf spans ≥ 2 chunks, so every partition compacts; the carry-forward
    * path for an already-compact partition is spec-covered on a
    * constructed table).
    */
  val mvOptimizeSql: String =
    s"""WITH d AS (SELECT (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
       |                  % $StreamChunks AS c, source, lang, n_chars
       |           FROM documents)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |       sum(n_chars)::BIGINT AS sum_chars,
       |       count(DISTINCT c)::BIGINT AS files_before,
       |       1::BIGINT AS files_after
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- streaming exactly-once

  /** The `foreachBatch` commit body with EXACTLY-ONCE semantics: version
    * = batchId + 1, and a version whose manifest already exists is a
    * REPLAYED batch (sink-side retry after a failure between the data
    * write and the checkpoint advance) — the commit is skipped, making
    * the sink idempotent; at-least-once delivery + idempotent commit =
    * exactly-once tables, the Delta streaming-sink txn contract. The
    * manifest rename is the atomic boundary: a crash BEFORE it leaves
    * only unreferenced files (vacuumable orphans), never a torn version.
    * Empty no-data triggers commit nothing.
    */
  def commitIdempotent(spark: SparkSession, work: String, ver: Long,
      batch: DataFrame): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    if (fs.exists(new Path(s"$work/$VersionsDir/v$ver"))) return
    if (batch.isEmpty) return
    if (ver == 1L) commitInitial(spark, work, batch)
    else commitDelta(spark, work, batch, ver)
  }

  /** Streaming ingestion into the snapshot table, driver-checked
    * END-TO-END: documents replay as [[StreamChunks]] micro-batches
    * ([[graft.streaming.PacedReplay]], chunk = doc_id mod chunks), each
    * batch committing one snapshot version through [[commitIdempotent]];
    * the entry then reads EVERY retained version — so the hash gate pins
    * the whole version history (each snapshot = rollup of the chunks
    * ingested so far), not just the final state. Replay-idempotence is
    * spec-pinned in `SnapshotMvSpec`.
    */
  def streamSnapshotCommit(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.TempDirs.scoped("snap-stream") + "/t"
    val docs = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "source", "lang", "n_chars",
        s"pmod(doc_id, $StreamChunks) AS rord")
    val stageDir = graft.TempDirs.scoped("snap-stream-stage") + "/docs"
    val rowsPerFile = math.max(1L, docs.count() / StreamChunks).toInt
    // The oracle's "version i == chunks with rord < i" equivalence holds
    // only if staging puts each rord group in EXACTLY one file, i.e.
    // every group has rowsPerFile rows (true for contiguous 0..n-1
    // doc_ids with n % StreamChunks == 0, the generated corpus shape).
    // A corpus regeneration that breaks this would otherwise stage a
    // ragged extra chunk and silently misalign every version's rollup —
    // fail loud instead (advisor round-12).
    val ragged = docs.groupBy("rord").count()
      .where(s"count <> $rowsPerFile").count()
    require(ragged == 0 && rowsPerFile.toLong * StreamChunks == docs.count(),
      s"streamSnapshotCommit needs equal-size doc_id mod-$StreamChunks " +
        s"groups of $rowsPerFile rows; corpus no longer chunks evenly")
    graft.streaming.PacedReplay.stage(docs, Seq("rord", "doc_id"),
      rowsPerFile, stageDir)
    val q = graft.streaming.PacedReplay.stream(spark, stageDir, docs.schema)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        commitIdempotent(b.sparkSession, work, id + 1, b.drop("rord"))
      }
      .option("checkpointLocation", graft.TempDirs.scoped("snap-stream-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val (fs, _) = IndexCommit.fsOf(spark, work)
    val versions = (1L to StreamChunks.toLong)
      .filter(v => fs.exists(new Path(s"$work/$VersionsDir/v$v")))
    versions.map { v =>
      readSnapshot(spark, work, v).selectExpr(
        s"CAST($v AS BIGINT) AS snapshot",
        "source", "lang", "n_docs", "sum_chars")
    }.reduce(_ unionByName _).orderBy("snapshot", "source", "lang")
  }

  val streamSnapshotCommitSql: String =
    s"""WITH d AS (SELECT doc_id % $StreamChunks AS c, source, lang, n_chars
       |           FROM documents)
       |SELECT v.v::BIGINT AS snapshot, source, lang,
       |       count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
       |FROM d JOIN (VALUES (1), (2), (3), (4)) v(v) ON d.c < v.v
       |GROUP BY 1, 2, 3
       |ORDER BY snapshot, source, lang""".stripMargin

  // ---------------------------------------------------------- branching

  /** Create branch `branch` at version `fromVer` — METADATA ONLY: the
    * branch's base manifest lists the very same immutable files (the
    * Nessie/Iceberg zero-copy branch property; the spec asserts no data
    * file is written). Branch refs live beside version refs in
    * `_versions/` as `<branch>-v<N>`.
    */
  def commitBranch(spark: SparkSession, work: String, fromVer: Long,
      branch: String): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    commitManifestNamed(fs, work, s"$branch-v1",
      readSnapshotManifest(spark, work, fromVer))
  }

  /** Commit a delta of raw document rows onto branch head `ver - 1` —
    * [[commitDelta]]'s logic against branch refs, file names prefixed
    * with the branch tag so main and branch commits can never collide.
    */
  def commitBranchDelta(spark: SparkSession, work: String, branch: String,
      ver: Long, docs: DataFrame): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    val delta = rollup(docs)
    val touched = delta.select("source").distinct()
      .collect().map(_.getString(0)).toSet // metadata-scale: partition keys
    val prev = readManifestNamed(spark, work, s"$branch-v${ver - 1}")
    val overlap = touched.intersect(prev.map(_._1).toSet)
    val base =
      if (overlap.isEmpty) delta
      else readSnapshotNamed(spark, work, s"$branch-v${ver - 1}", Some(overlap))
        .select("source", "lang", "n_docs", "sum_chars")
        .unionByName(delta)
    val merged = base.groupBy("source", "lang")
      .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"))
    val newFiles = writePartitionFilesTagged(spark, work, s"$branch-v$ver", merged)
    val carried = prev.filter { case (s, _) => !touched(s) }
    commitManifestNamed(fs, work, s"$branch-v$ver", carried ++ newFiles)
  }

  /** Merge a branch back into main as version `newVer`: the branch's net
    * change is derived FROM ITS SNAPSHOTS (per-key counter delta between
    * branch head and branch base over only the partitions whose file
    * sets differ — the [[cdfBetween]] manifest-diff trick), then applied
    * additively onto main's head. This is the mergeable-table merge:
    * because the MV is a sum rollup, a branch delta commutes with main
    * commits that landed meanwhile, so concurrent divergence resolves
    * without rebase. IO is commit-sized on both sides (changed branch
    * partitions + touched main partitions); untouched main partitions
    * carry forward verbatim.
    */
  def mergeBranch(spark: SparkSession, work: String, mainHeadVer: Long,
      branch: String, branchBase: Long, branchHead: Long,
      newVer: Long): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    val mBase = readManifestNamed(spark, work, s"$branch-v$branchBase").toSet
    val mHead = readManifestNamed(spark, work, s"$branch-v$branchHead").toSet
    val changed = ((mBase diff mHead) ++ (mHead diff mBase)).map(_._1)
    val mainPrev = readSnapshotManifest(spark, work, mainHeadVer)
    if (changed.isEmpty) { // nothing to merge: fast-forward main verbatim
      commitManifestNamed(fs, work, s"v$newVer", mainPrev)
      return
    }
    def side(name: String, keep: Set[String], n: String, c: String): DataFrame =
      readSnapshotNamed(spark, work, name,
          Some(keep.intersect(
            readManifestNamed(spark, work, name).map(_._1).toSet)))
        .selectExpr("source", "lang", s"n_docs AS $n", s"sum_chars AS $c")
    val pre = side(s"$branch-v$branchBase", changed, "n0", "c0")
    val post = side(s"$branch-v$branchHead", changed, "n1", "c1")
    val delta = post.join(pre, Seq("source", "lang"), "full_outer")
      .selectExpr("source", "lang",
        "coalesce(n1, CAST(0 AS BIGINT)) - coalesce(n0, CAST(0 AS BIGINT)) AS n_docs",
        "coalesce(c1, CAST(0 AS BIGINT)) - coalesce(c0, CAST(0 AS BIGINT)) AS sum_chars")
      .where("n_docs <> 0 OR sum_chars <> 0")
    val touched = delta.select("source").distinct()
      .collect().map(_.getString(0)).toSet // commit-sized partition keys
    val overlap = touched.intersect(mainPrev.map(_._1).toSet)
    val base =
      if (overlap.isEmpty) delta
      else readSnapshot(spark, work, mainHeadVer, Some(overlap))
        .select("source", "lang", "n_docs", "sum_chars")
        .unionByName(delta)
    val merged = base.groupBy("source", "lang")
      .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"))
    val newFiles = writePartitionFiles(spark, work, newVer, merged)
    val carried = mainPrev.filter { case (s, _) => !touched(s) }
    commitManifest(fs, work, newVer, carried ++ newFiles)
  }

  /** Q — branch/merge end-to-end under concurrent divergence: main
    * commits wave A (hot partitions) while branch `bdev`, forked at v1,
    * commits wave B (cold partitions); the merge lands both. The four
    * read points under one hash prove isolation in BOTH directions
    * (main v2 has A but not B; the branch head has B but not A) and
    * merge completeness (v3 equals the full-corpus rollup).
    */
  def mvBranch(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.TempDirs.scoped("snap-branch") + "/t"
    val d = waved(Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars"))
      .withColumn("in_bwave", expr(s"srk <= $WaveRanks AND md5(source) >= '8'"))
    commitInitial(spark, work, d.where("NOT in_wave AND NOT in_bwave")) // v1
    commitBranch(spark, work, 1L, "bdev") // zero-copy fork at v1
    commitDelta(spark, work, d.where("in_wave"), 2L) // main diverges
    commitBranchDelta(spark, work, "bdev", 2L, d.where("in_bwave"))
    mergeBranch(spark, work, 2L, "bdev", 1L, 2L, 3L)
    def readV(name: String, tag: String): DataFrame =
      readSnapshotNamed(spark, work, name)
        .selectExpr(s"'$tag' AS read_point", "source", "lang",
          "n_docs", "sum_chars")
    readV("v1", "1_main_v1")
      .unionByName(readV("v2", "2_main_v2"))
      .unionByName(readV("bdev-v2", "3_branch_head"))
      .unionByName(readV("v3", "4_merged"))
      .orderBy("read_point", "source", "lang")
  }

  val mvBranchSql: String =
    s"""WITH r AS (
       |  SELECT source, lang, n_chars,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS srk,
       |         md5(source) < '8' AS hot
       |  FROM documents),
       |t AS (SELECT source, lang, n_chars,
       |             srk <= $WaveRanks AND hot AS a,
       |             srk <= $WaveRanks AND NOT hot AS b
       |      FROM r)
       |SELECT '1_main_v1' AS read_point, source, lang,
       |       count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
       |FROM t WHERE NOT a AND NOT b GROUP BY 2, 3
       |UNION ALL
       |SELECT '2_main_v2', source, lang, count(*)::BIGINT, sum(n_chars)::BIGINT
       |FROM t WHERE NOT b GROUP BY 2, 3
       |UNION ALL
       |SELECT '3_branch_head', source, lang, count(*)::BIGINT, sum(n_chars)::BIGINT
       |FROM t WHERE NOT a GROUP BY 2, 3
       |UNION ALL
       |SELECT '4_merged', source, lang, count(*)::BIGINT, sum(n_chars)::BIGINT
       |FROM t GROUP BY 2, 3
       |ORDER BY read_point, source, lang""".stripMargin

  // ------------------------------------ partition-spec evolution (Iceberg)

  /** Place rollup rows under the EVOLVED (source, lang) layout and return
    * manifest entries whose partition field is the NESTED relative dir
    * suffix (`<src>/lang=<l>`) — the existing path builder
    * (`$work/source=$s/$f`) resolves it unchanged, so old readers of old
    * snapshots never see a format change.
    */
  private def writeEvolvedFiles(spark: SparkSession, work: String,
      tag: String, rows: DataFrame): Seq[(String, String)] = {
    val staging = graft.TempDirs.scoped(s"snap-$tag-ev")
    rows.repartition(col("source"), col("lang"))
      .write.mode("overwrite").partitionBy("source", "lang").parquet(staging)
    val (fs, _) = IndexCommit.fsOf(spark, work)
    fs.listStatus(new Path(staging))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))
      .flatMap { d =>
        val src = d.getPath.getName.stripPrefix("source=")
        fs.listStatus(d.getPath)
          .filter(l => l.isDirectory && l.getPath.getName.startsWith("lang="))
          .flatMap { ld =>
            val part = s"$src/${ld.getPath.getName}"
            val tgtDir = new Path(s"$work/source=$part")
            fs.mkdirs(tgtDir)
            fs.listStatus(ld.getPath)
              .filter(_.getPath.getName.endsWith(".parquet"))
              .map { f =>
                val name = s"$tag-${f.getPath.getName}"
                if (!fs.rename(f.getPath, new Path(tgtDir, name)))
                  throw new java.io.IOException(s"failed to place $name")
                (part, name)
              }
          }
      }.toSeq
  }

  /** Commit snapshot `ver` by APPENDING `docs`' rollup under the evolved
    * (source, lang) spec — the Iceberg partition-evolution contract: the
    * spec change is METADATA-ONLY (no committed file is rewritten or
    * moved; every previous entry carries forward verbatim), old data
    * stays under the old layout, and only data arriving AFTER the
    * evolution lands in the new one.
    */
  def commitEvolved(spark: SparkSession, work: String, docs: DataFrame,
      ver: Long): Unit = {
    val (fs, _) = IndexCommit.fsOf(spark, work)
    val prev = readSnapshotManifest(spark, work, ver - 1)
    val newFiles = writeEvolvedFiles(spark, work, s"v$ver", rollup(docs))
    commitManifest(fs, work, ver, prev ++ newFiles)
  }

  /** Spec-aware snapshot read across BOTH layouts: spec-1 entries (bare
    * source) and spec-2 entries (nested `src/lang=l`) are read as two
    * groups (mixed partition depths cannot share one Spark inference
    * pass) and unioned with a `spec` tag. `langFilter` shows what
    * evolution buys and costs: spec-2 files PRUNE at the manifest (only
    * matching `lang=` dirs open), spec-1 files cannot (lang is not in
    * their layout — all open, the filter applies to rows). Returns the
    * frame plus (files_opened, files_total) accounting.
    */
  def readSnapshotEvolved(spark: SparkSession, work: String, ver: Long,
      langFilter: Option[String]): (DataFrame, Long, Long) = {
    val entries = readSnapshotManifest(spark, work, ver)
    val (spec2, spec1) = entries.partition(_._1.contains("/lang="))
    val keep2 = langFilter match {
      case Some(l) => spec2.filter(_._1.endsWith(s"/lang=$l"))
      case None => spec2
    }
    val cols = Seq("source", "lang", "n_docs", "sum_chars")
    def readGroup(es: Seq[(String, String)], spec: Int): DataFrame = {
      val empty = spark.range(0).selectExpr("CAST(1 AS BIGINT) AS spec",
        "'' AS source", "'' AS lang", "CAST(0 AS BIGINT) AS n_docs",
        "CAST(0 AS BIGINT) AS sum_chars")
      if (es.isEmpty) empty
      else spark.read.option("basePath", work)
        .parquet(es.map { case (s, f) => s"$work/source=$s/$f" }: _*)
        .selectExpr(Seq(s"CAST($spec AS BIGINT) AS spec") ++ cols: _*)
    }
    val df = readGroup(spec1, 1).unionByName(readGroup(keep2, 2))
    val filtered = langFilter match {
      case Some(l) => df.where(s"lang = '$l'")
      case None => df
    }
    (filtered, (spec1.size + keep2.size).toLong, entries.size.toLong)
  }

  /** Partition-spec evolution, end-to-end under one hash: v1 commits the
    * pre-wave rollup under the ORIGINAL by-source spec, v2 appends the
    * wave delta under the EVOLVED (source, lang) spec without touching a
    * committed file, and the entry emits (a) the whole spec-aware v2 read
    * tagged by spec, (b) a lang-restricted read exercising the mixed
    * pruning path, and (c) the zonemap-style files_opened/files_total
    * accounting of that restricted read, all replayed exactly by the
    * oracle (file counts are derivable: one file per v1 source, one per
    * wave (source, lang)). [[SnapshotMvSpec]] additionally pins the
    * metadata-only contract (v1 bytes untouched, old snapshot readable
    * through the OLD reader after evolution).
    */
  def mvEvolve(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.TempDirs.scoped("snap-evolve") + "/t"
    val docs = waved(Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars"))
    commitInitial(spark, work, docs.where("NOT in_wave"))
    commitEvolved(spark, work, docs.where("in_wave"), 2L)
    val (full, _, _) = readSnapshotEvolved(spark, work, 2L, None)
    val (en, opened, total) = readSnapshotEvolved(spark, work, 2L, Some("en"))
    def tag(df: DataFrame, section: String): DataFrame =
      df.groupBy("spec", "source", "lang")
        .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"))
        .selectExpr(s"'$section' AS section", "spec", "source", "lang",
          "n_docs", "sum_chars")
    val prune = spark.range(1).selectExpr("'prune' AS section",
      "CAST(2 AS BIGINT) AS spec", "'*' AS source", "'en' AS lang",
      s"CAST($opened AS BIGINT) AS n_docs",
      s"CAST($total AS BIGINT) AS sum_chars")
    tag(full, "all").unionByName(tag(en, "en")).unionByName(prune)
      .orderBy("section", "spec", "source", "lang")
  }

  /** Oracle: both sections from the raw table, file counts from the same
    * construction (one file per v1 source, one per wave (source, lang)).
    */
  val mvEvolveSql: String =
    s"""WITH r AS (
       |  SELECT source, lang, n_chars,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS srk,
       |         md5(source) < '8' AS hot
       |  FROM documents),
       |t AS (SELECT source, lang, n_chars,
       |             srk <= $WaveRanks AND hot AS in_wave FROM r),
       |f1 AS (SELECT count(DISTINCT source)::BIGINT AS n FROM t WHERE NOT in_wave),
       |f2 AS (SELECT count(*)::BIGINT AS n FROM
       |         (SELECT DISTINCT source, lang FROM t WHERE in_wave)),
       |f2en AS (SELECT count(*)::BIGINT AS n FROM
       |         (SELECT DISTINCT source, lang FROM t WHERE in_wave
       |          AND lang = 'en'))
       |SELECT 'all' AS section, 1::BIGINT AS spec, source, lang,
       |       count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
       |FROM t WHERE NOT in_wave GROUP BY 3, 4
       |UNION ALL
       |SELECT 'all', 2::BIGINT, source, lang,
       |       count(*)::BIGINT, sum(n_chars)::BIGINT
       |FROM t WHERE in_wave GROUP BY 3, 4
       |UNION ALL
       |SELECT 'en', 1::BIGINT, source, lang,
       |       count(*)::BIGINT, sum(n_chars)::BIGINT
       |FROM t WHERE NOT in_wave AND lang = 'en' GROUP BY 3, 4
       |UNION ALL
       |SELECT 'en', 2::BIGINT, source, lang,
       |       count(*)::BIGINT, sum(n_chars)::BIGINT
       |FROM t WHERE in_wave AND lang = 'en' GROUP BY 3, 4
       |UNION ALL
       |SELECT 'prune', 2::BIGINT, '*', 'en',
       |       (SELECT n FROM f1) + (SELECT n FROM f2en),
       |       (SELECT n FROM f1) + (SELECT n FROM f2)
       |ORDER BY section, spec, source, lang""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_mv_snapshot" -> mvSnapshot,
    "pipeline_mv_evolve" -> mvEvolve,
    "pipeline_mv_branch" -> mvBranch,
    "pipeline_mv_forget" -> mvForget,
    "pipeline_mv_cdf" -> mvCdf,
    "pipeline_mv_optimize" -> mvOptimize,
    "stream_snapshot_commit" -> streamSnapshotCommit)

  val oracles: Map[String, String] = Map(
    "pipeline_mv_snapshot" -> mvSnapshotSql,
    "pipeline_mv_evolve" -> mvEvolveSql,
    "pipeline_mv_branch" -> mvBranchSql,
    "pipeline_mv_forget" -> mvForgetSql,
    "pipeline_mv_cdf" -> mvCdfSql,
    "pipeline_mv_optimize" -> mvOptimizeSql,
    "stream_snapshot_commit" -> streamSnapshotCommitSql)
}
