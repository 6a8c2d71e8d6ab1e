package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, max, sum}
import org.apache.spark.sql.types.{DataType, StructType}

/** Where every persisted index lives and when it counts as committed,
  * written once for the families: the BM25 index (postings, stats and
  * block-max sidecar), the BM25 staged skew and WAND corpora, the MinHash
  * band index, the line index, the eval-gram table, the five IVF layouts,
  * the aggregate MV and the bucketed join tables.
  *
  * One root rule ([[root]]): [[Base]], the family's name, the corpus dir
  * with non-alphanumerics replaced, the family's layout parameters and a
  * content key from one memoized fingerprint query ([[content]]), so a
  * regenerated corpus at the same dir rebuilds instead of silently reusing
  * a stale index.
  *
  * One commit rule ([[publish]]): the build runs in a hidden sibling temp
  * dir (invisible to every reader — readers only ever resolve the final
  * root), the schemas of the declared artifacts are recorded, and
  * publication is a single `fs.rename(tmp, finalRoot)` — the snapshot
  * protocol's only commit primitive ([[SnapshotMv]]'s `commitManifest`:
  * write aside, then ONE atomic rename) at whole-index granularity. An
  * index is committed when every declared artifact has its `_SUCCESS` and
  * its schema record and every declared manifest file is present; nothing
  * ever writes into a published root. Rename-onto-existing fails on every
  * Hadoop FileSystem when the destination is present, so of N racing
  * builders exactly one publishes; the losers observe the winner's
  * committed index, discard their temp, and proceed — no torn state is
  * ever visible at the final path.
  *
  * It owns the one partition manifest of every bucketed index (the IVF
  * lists, the MinHash bands, the line index, the BM25 term buckets):
  * [[PartitionsFile]] at the index root, one partition dir per line
  * (`c_id=5`, `band=1/bhp=3`, `lb=7`, `tb=12`) plus the index's totals
  * (`#n_docs=N`). The build writes it from one listing of the dirs it
  * wrote ([[publishPartitioned]]), a probe reads only the touched dirs it
  * names ([[readPruned]]), and an append adds exactly the dirs it touched
  * ([[augment]]) — the touched set computed once ([[touchedDirs]]) and
  * shared with the upsert that writes them. The plain line files under it
  * ([[writeLines]], [[readLines]]) also carry the snapshot versions and
  * the OPQ rotation.
  *
  * And it owns the one pruned reader of committed index artifacts: the
  * schema record [[SchemaFile]] holds one inference per artifact, made at
  * build time, and a probe reads exactly the dirs it touches under that
  * recorded schema ([[read]]) — no schema-inference job, no listing of the
  * artifact root, and an empty frame when nothing is touched.
  */
object IndexCommit {

  /** The base of every index root: the stand-in for the warehouse path a
    * deployment would use.
    */
  final val Base = "/tmp"

  /** The schema record at an index root: one `artifact<TAB>schema-json`
    * line per committed artifact, `.` naming the root itself. An index
    * without it is uncommitted.
    */
  final val SchemaFile = "_schemas"

  /** The root itself as an artifact name (the MinHash, line, eval-gram,
    * aggregate-MV and IVF list layouts partition the index root directly).
    */
  final val Root = "."

  private def artifactPath(root: String, artifact: String): String =
    if (artifact == Root) root else s"$root/$artifact"

  /** A table's content key: its row count, the largest value of its first
    * key column and an order-free hash-sum over the key columns.
    */
  final case class Content(rows: Long, maxKey: Long, fp: Long)

  private val contentCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Seq[String]), Content]

  /** The [[Content]] of `table` under `dir` over `cols`, from ONE
    * aggregate pass memoized per JVM: the count also sizes the
    * corpus-adaptive layouts without a scan per plan built.
    */
  def content(spark: SparkSession, dir: String, table: String,
      cols: String*): Content =
    contentCache.getOrElseUpdate((dir, table, cols), {
      val r = graft.Tables.load(spark, dir, table)
        .agg(count(lit(1)), max(col(cols.head).cast("long")),
          sum(expr(s"CAST(pmod(hash(${cols.mkString(", ")}), 1000003) AS BIGINT)")))
        .head()
      Content(r.getLong(0), r.getLong(1), math.floorMod(r.getLong(2), 1000000007L))
    })

  /** The one root rule: `<Base>/graft_<family>/<dir><layout>_n<rows>_f<fp><tag>`,
    * `dir` with every character but letters, digits and dots replaced by
    * `_`, `layout` the family's layout parameters, `key` the content key
    * and `tag` a layout variant that follows it (the IVF list layouts).
    * A throwaway corpus under the [[graft.TempDirs]] root keeps its index
    * under that root instead of [[Base]], so the index goes when the
    * corpus does.
    */
  def root(family: String, dir: String, layout: String, key: Content,
      tag: String = ""): String =
    s"${graft.TempDirs.holding(dir).getOrElse(Base)}/graft_$family/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + s"${layout}_n${key.rows}_f${key.fp}$tag"

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

  /** The one partition manifest of a bucketed index, at its root: one
    * partition dir per line, relative to the partitioned artifact
    * (`c_id=5`, `band=1/bhp=3`), then one `#<key>=<value>` line per index
    * total. A dir line starts with its column name, so no `#` total
    * line reads as a dir. The probes' ONLY pruning input: never the
    * filesystem, whose "exists" is slow or wrong on an object store.
    */
  final val PartitionsFile = "_partitions"

  private val TotalMark = "#"

  /** Partition dirs in value order: numeric values compare as numbers. */
  private val DirOrder: Ordering[String] = {
    import scala.math.Ordering.Implicits.seqOrdering
    Ordering.by((d: String) => d.split('/').toSeq.map { kv =>
      val (k, v) = kv.splitAt(kv.indexOf('=') + 1)
      (k, v.toLongOption.getOrElse(Long.MaxValue), v)
    })
  }

  private def writePartitions(spark: SparkSession, root: String,
      dirs: Iterable[String], totals: Map[String, Long]): Unit = {
    val (fs, r) = fsOf(spark, root)
    writeLines(fs, new Path(r, PartitionsFile), dirs.toSeq.distinct.sorted(DirOrder) ++
      totals.toSeq.sortBy(_._1).map { case (k, v) => s"$TotalMark$k=$v" })
  }

  /** The committed dirs and totals of the index at `root`; fails loud when
    * the manifest is absent ([[readLines]]).
    */
  private def manifest(spark: SparkSession,
      root: String): (Set[String], Map[String, Long]) = {
    val (fs, r) = fsOf(spark, root)
    val (totals, dirs) = readLines(fs, new Path(r, PartitionsFile),
      s"no $PartitionsFile manifest at $root — the index was not committed " +
        "by IndexCommit.publishPartitioned; rebuild the index")
      .partition(_.startsWith(TotalMark))
    (dirs.toSet, totals.map { l =>
      val Array(k, v) = l.stripPrefix(TotalMark).split('='); k -> v.toLong
    }.toMap)
  }

  /** The committed partition dirs of the index at `root`. */
  def partitions(spark: SparkSession, root: String): Set[String] =
    manifest(spark, root)._1

  private def noTotal(root: String, key: String) = new IllegalStateException(
    s"no total $key in the $PartitionsFile manifest at $root; rebuild the index")

  /** The committed totals `keys` of the index at `root`; fails loud when
    * the manifest or one of the totals is absent.
    */
  def totals(spark: SparkSession, root: String, keys: Seq[String]): Seq[Long] = {
    val committed = manifest(spark, root)._2
    keys.map(k => committed.getOrElse(k, throw noTotal(root, k)))
  }

  /** The partition dirs (`c=v[/c=v]`) of `frame`'s distinct `cols` values:
    * the dirs a batch lands in or a probe touches, through ONE collect
    * (metadata-scale: at most the index's partition count).
    */
  def touchedDirs(frame: DataFrame, cols: String*): Seq[String] =
    frame.select(cols.map(col): _*).distinct().collect().toSeq
      .map(r => cols.indices.map(i => s"${cols(i)}=${r.get(i)}").mkString("/"))
      .sorted(DirOrder)

  /** The `cols` partition dirs (`c=v[/c=v]`) under `dir`: a build's one
    * listing of the layout it just wrote.
    */
  private def listPartitions(fs: FileSystem, dir: Path,
      cols: Seq[String]): Seq[String] =
    fs.globStatus(new Path(dir, cols.map(c => s"$c=*").mkString("/")))
      .toSeq.filter(_.isDirectory).map(s => Iterator.iterate(s.getPath)(_.getParent)
        .take(cols.size).map(_.getName).toSeq.reverse.mkString("/"))

  /** Record the schemas of `artifacts` under `root` in its [[SchemaFile]],
    * each exactly as `spark.read.parquet` infers it (the one inference the
    * artifact ever gets).
    */
  private[pipeline] def recordSchemas(spark: SparkSession, root: String,
      artifacts: Seq[String]): Unit = {
    val (fs, r) = fsOf(spark, root)
    writeLines(fs, new Path(r, SchemaFile), artifacts.sorted.map(a =>
      s"$a\t${spark.read.parquet(artifactPath(root, a)).schema.json}"))
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

  /** What the index at `root` lacks of its declared `artifacts` (each one's
    * `_SUCCESS` and schema record) and `files`, relative to `root`: empty
    * exactly when the index is committed.
    */
  def missing(spark: SparkSession, root: String, artifacts: Seq[String],
      files: Seq[String]): Seq[String] = {
    val (fs, r) = fsOf(spark, root)
    val record = new Path(r, SchemaFile)
    val recorded =
      if (!fs.exists(record)) Set.empty[String]
      else readLines(fs, record, "").map(_.takeWhile(_ != '\t')).toSet
    artifacts.flatMap { a =>
      val success = if (a == Root) "_SUCCESS" else s"$a/_SUCCESS"
      Option.when(!fs.exists(new Path(r, success)))(success) ++
        Option.when(!recorded(a))(s"$SchemaFile:$a")
    } ++ files.filterNot(m => fs.exists(new Path(r, m)))
  }

  /** [[missing]] for a bucketed index, whose manifest is declared too. */
  def missingPartitioned(spark: SparkSession, root: String,
      artifacts: Seq[String], files: Seq[String] = Nil): Seq[String] =
    missing(spark, root, artifacts, PartitionsFile +: files)

  /** The one commit rule: reuse the committed index at `root`, or run
    * `build` into a temp sibling dir (it writes the declared `artifacts`,
    * each with its `_SUCCESS`, and the declared line `files`), record the
    * artifacts' schemas and publish the whole index with one atomic
    * rename ([[ensure]]). Returns `root`.
    */
  def publish(spark: SparkSession, root: String, artifacts: Seq[String],
      files: Seq[String] = Nil)(build: String => Unit): String = {
    val (fs, r) = fsOf(spark, root)
    ensure(fs, r)(p => missing(spark, p.toString, artifacts, files).isEmpty) {
      tmp =>
        build(tmp.toString)
        recordSchemas(spark, tmp.toString, artifacts)
    }
    root
  }

  /** [[publish]] for a bucketed index: `artifact` is written partitioned
    * by `cols`, and its manifest is the one listing of the partition dirs
    * the build wrote plus the totals `build` returns. An index without the
    * manifest is uncommitted, so a root from before it rebuilds once.
    */
  def publishPartitioned(spark: SparkSession, root: String,
      artifacts: Seq[String], cols: Seq[String], files: Seq[String] = Nil,
      artifact: String = Root)(build: String => Map[String, Long]): String =
    publish(spark, root, artifacts, PartitionsFile +: files) { tmp =>
      val totals = build(tmp)
      val (fs, dir) = fsOf(spark, artifactPath(tmp, artifact))
      writePartitions(spark, tmp, listPartitions(fs, dir, cols), totals)
    }

  /** The pruned read of a bucketed index: the `touched` dirs of `artifact`
    * that its manifest names, read by [[read]]. A touched dir absent from
    * the manifest holds no rows; a missing manifest fails loud.
    */
  def readPruned(spark: SparkSession, root: String, artifact: String,
      touched: Seq[String]): DataFrame = {
    val committed = partitions(spark, root)
    read(spark, root, artifact, Some(touched.distinct.filter(committed).sorted(DirOrder)))
  }

  /** The append commit of a bucketed index: the `touched` dirs join its
    * manifest and `added` is summed into its totals, in one write. Fails
    * loud when the manifest or one of the added totals is absent.
    */
  def augment(spark: SparkSession, root: String, touched: Seq[String],
      added: Map[String, Long] = Map.empty): Unit = {
    val (dirs, totals) = manifest(spark, root)
    writePartitions(spark, root, dirs ++ touched, totals ++ added.map {
      case (k, v) => k -> (v + totals.getOrElse(k, throw noTotal(root, k)))
    })
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
  private[pipeline] def ensure(fs: FileSystem, finalRoot: Path)(
      isCommitted: Path => Boolean)(
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
