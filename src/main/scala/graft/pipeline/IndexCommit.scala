package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Cross-process atomic build-then-commit for the persisted index
  * families (MinHash band index, IVF inverted lists, BM25 postings).
  *
  * The pre-round-13 `ensure*` paths were check-then-build: two JVMs
  * racing both observe "uncommitted" and `mode("overwrite")` into the
  * SAME shared index root, clobbering each other mid-build. This helper
  * applies the snapshot protocol's only commit primitive
  * ([[SnapshotMv]]'s `commitManifest`: write aside, then ONE atomic
  * rename) at whole-index granularity: the build runs in a hidden
  * sibling temp dir (invisible to every reader — readers only ever
  * resolve the final root), and publication is a single
  * `fs.rename(tmp, finalRoot)`. Rename-onto-existing fails on every
  * Hadoop FileSystem when the destination is present, so of N racing
  * builders exactly one publishes; the losers observe the winner's
  * committed index, discard their temp, and proceed — no torn state is
  * ever visible at the final path.
  *
  * It also owns the one line-file format of the families' manifests
  * (`_buckets`, `_postings`, `_lists`, the snapshot versions): each caller
  * keeps its own line syntax and its own missing-manifest message.
  *
  * And it owns the one pruned reader of committed index artifacts: every
  * build records each artifact's schema in [[SchemaFile]] (one inference
  * at build time), and a probe reads exactly the dirs it touches under
  * that recorded schema ([[read]]) — no schema-inference job, no listing
  * of the artifact root, and an empty frame when nothing is touched.
  */
object IndexCommit {

  /** The schema record at an index root: one `artifact<TAB>schema-json`
    * line per committed artifact, `.` naming the root itself. An index
    * without it is uncommitted.
    */
  final val SchemaFile = "_schemas"

  /** The root itself as an artifact name (the MinHash, line and IVF list
    * layouts partition the index root directly).
    */
  final val Root = "."

  private def artifactPath(root: String, artifact: String): String =
    if (artifact == Root) root else s"$root/$artifact"

  /** The Hadoop FileSystem that serves `path`, with `path` itself. */
  def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Overwrite the line file `file` with `lines`, each newline-terminated
    * UTF-8. The manifests written here are metadata-scale by construction.
    */
  def writeLines(fs: FileSystem, file: Path, lines: Seq[String]): Unit = {
    val out = fs.create(file, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The non-empty lines of the manifest `file`. FAILS LOUD with
    * `missing` as the message when the file is absent: a pruned reader
    * must never silently degrade to "no entries, so an empty result" (the
    * failure mode of probing the filesystem from the driver on a store
    * where the paths never "exist").
    */
  def readLines(fs: FileSystem, file: Path, missing: => String): Seq[String] = {
    if (!fs.exists(file)) throw new IllegalStateException(missing)
    val in = fs.open(file)
    val text = try {
      val bs = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bs, 65536, false)
      bs.toString("UTF-8")
    } finally in.close()
    text.split('\n').toSeq.filter(_.nonEmpty)
  }

  /** Record the schemas of `artifacts` under `root` in its [[SchemaFile]],
    * each exactly as `spark.read.parquet` infers it (the one inference the
    * artifact ever gets), keeping any artifact recorded before.
    */
  def recordSchemas(spark: SparkSession, root: String,
      artifacts: Seq[String]): Unit = {
    val (fs, r) = fsOf(spark, root)
    val file = new Path(r, SchemaFile)
    val kept = if (fs.exists(file)) schemas(spark, root) else Map.empty
    val fresh = artifacts.map(a =>
      a -> spark.read.parquet(artifactPath(root, a)).schema)
    writeLines(fs, file, (kept ++ fresh).toSeq.sortBy(_._1).map {
      case (a, s) => s"$a\t${s.json}"
    })
  }

  /** Every recorded artifact schema of the index at `root`; fails loud
    * when the record is absent.
    */
  def schemas(spark: SparkSession, root: String): Map[String, StructType] = {
    val (fs, r) = fsOf(spark, root)
    readLines(fs, new Path(r, SchemaFile),
      s"no $SchemaFile record at $root — the index predates recorded " +
        "schemas or was not committed; rebuild the index")
      .map { l =>
        val Array(a, json) = l.split('\t')
        a -> DataType.fromJson(json).asInstanceOf[StructType]
      }.toMap
  }

  /** Whether `artifact` has a recorded schema under `root`. */
  def recorded(fs: FileSystem, root: Path, artifact: String): Boolean = {
    val file = new Path(root, SchemaFile)
    fs.exists(file) && readLines(fs, file, "")
      .exists(_.startsWith(artifact + "\t"))
  }

  /** The pruned reader: `dirs` (partition dirs relative to the artifact,
    * e.g. `tb=3` or `band=1/bhp=5`) of `artifact` under `root`, read as
    * basePath-rooted point lookups under the recorded schema. No dir
    * touched ⇒ an empty frame of that schema, and nothing under `root`
    * is listed. `dirs = None` reads the whole artifact.
    */
  def read(spark: SparkSession, root: String, artifact: String,
      dirs: Option[Seq[String]]): DataFrame = {
    val schema = schemas(spark, root).getOrElse(artifact,
      throw new IllegalStateException(
        s"no recorded schema for $artifact at $root — rebuild the index"))
    val base = artifactPath(root, artifact)
    dirs match {
      case Some(ds) if ds.isEmpty =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      case Some(ds) =>
        spark.read.schema(schema).option("basePath", base)
          .parquet(ds.map(d => s"$base/$d"): _*)
      case None => spark.read.schema(schema).parquet(base)
    }
  }

  /** Ensure a committed index at `finalRoot`: no-op when `isCommitted`
    * already holds; otherwise run `build` into a temp sibling and commit
    * it atomically. `build` receives the temp path and must leave a FULLY
    * committed layout there (data + manifests), because the rename makes
    * everything visible at once. A pre-protocol crash leftover (exists
    * but not committed) is cleared first — under this protocol partial
    * state can only ever exist at temp paths, never at `finalRoot`.
    */
  def ensure(fs: FileSystem, finalRoot: Path)(isCommitted: Path => Boolean)(
      build: Path => Unit): Unit = {
    if (isCommitted(finalRoot)) return
    val parent = finalRoot.getParent
    fs.mkdirs(parent)
    val tmp = new Path(parent, ".build-" + finalRoot.getName + "-" +
      java.util.UUID.randomUUID().toString.take(8))
    // Hadoop rename semantics: dst absent -> src becomes dst (atomic);
    // dst an existing dir -> src moves INSIDE dst (also "true"). So a
    // bare rename return value cannot distinguish winning from losing a
    // race — publish() applies the post-condition instead: if our temp
    // ended up nested under the destination we LOST (another writer owns
    // finalRoot); remove the stray and report failure.
    def publish(): Boolean = {
      if (fs.exists(finalRoot)) return false
      if (!fs.rename(tmp, finalRoot)) return false
      val stray = new Path(finalRoot, tmp.getName)
      if (fs.exists(stray)) { fs.delete(stray, true); false } else true
    }
    try {
      build(tmp)
      if (!publish() && !isCommitted(finalRoot)) {
        // The destination blocks publication yet holds no committed
        // index: under this protocol that can only be a PRE-protocol
        // crash leftover (a racing protocol writer only ever publishes a
        // complete index, atomically). Clearing it by a bare delete would
        // be a TOCTOU (ADVICE r13): a racer can publish between our
        // staleness observation and the delete, and the delete would
        // destroy the freshly COMMITTED index. Instead move the blocker
        // ASIDE with one atomic rename, then inspect what we actually
        // grabbed: a true leftover is discarded; a committed index that
        // raced in is put back (or, if yet another publication beat the
        // restore, dropped as a redundant identical build — `build` is a
        // deterministic function of the corpus).
        val trash = new Path(parent,
          ".trash-" + finalRoot.getName + "-" +
            java.util.UUID.randomUUID().toString.take(8))
        if (fs.rename(finalRoot, trash)) {
          if (isCommitted(trash)) {
            // we grabbed a committed index — restore it; if a racer
            // published meanwhile, both are complete so ours is surplus
            if (!fs.rename(trash, finalRoot)) fs.delete(trash, true)
          } else fs.delete(trash, true)
        }
        if (!publish() && !isCommitted(finalRoot))
          throw new java.io.IOException(
            s"index commit failed: cannot rename $tmp -> $finalRoot and " +
              "no committed index is present at the destination")
      }
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }
}
