package graft

import java.nio.file.{Files, Path}

/** JVM-scoped temp directories with shutdown cleanup. Entries that stage
  * data (format round-trips, streaming sinks, replay checkpoints) run up to
  * 4× per Bench pass — unmanaged `Files.createTempDirectory` calls would
  * accumulate full table copies in /tmp across rounds until the box fills
  * (code review r6). All scoped dirs live under one root that a single
  * shutdown hook deletes recursively.
  */
object TempDirs {

  /** Optional scratch-placement hint, set by an entrypoint BEFORE the
    * first [[scoped]] call (r17, guide §6 I/O placement): the bench and
    * the timing tools put `spark.local.dir` (shuffle + RocksDB working
    * dirs) on tmpfs when /dev/shm probes as RAM — entry-internal staging
    * and throwaway streaming checkpoints belong on the same scratch tier,
    * not on whatever disk backs java.io.tmpdir (measured: each
    * micro-batch pays 100-400 ms of RocksDB changelog + WAL fsync against
    * ext4 /tmp). Ignored once the root exists; correctness runs (Verify)
    * set no hint and keep the default placement.
    */
  @volatile private var rootHint: Option[Path] = None

  def preferRoot(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (Files.isDirectory(p) && Files.isWritable(p)) rootHint = Some(p)
  }

  private lazy val root: Path = {
    val r = rootHint match {
      case Some(base) => Files.createTempDirectory(base, "graft-run-")
      case None => Files.createTempDirectory("graft-run-")
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** A fresh directory under the managed root. */
  def scoped(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  /** Byte-level recursive tree copy via the Hadoop FS API (works for any
    * configured filesystem, not just local disk). Used for the hermetic
    * working-copy seeds of the incremental-index entries: the persisted
    * index is ALREADY in its final bucketed hive layout (one sorted file
    * per partition dir, manifest + _SUCCESS inside), so copying the files
    * is both faster than a Spark read→repartition→rewrite (no
    * decode/encode, no shuffle — the r12 bench showed the rewrite seed
    * costing more than the operation under test) and strictly more
    * faithful to the on-disk artifact the probes then read.
    *
    * PARALLEL (r16 optimization, guide §5 — driver-side work): the
    * bucketed indexes hold hundreds of small files (B × IndexBuckets
    * dirs), and `FileUtil.copy`'s sequential walk made the seed a
    * multi-second driver stall in every append-family entry (3.4 s of
    * dedup_incremental_append's 13 s at sf0.1). Directories are created
    * in one walk, then file bodies copy on a bounded thread pool — the
    * per-file Hadoop `FileUtil.copy` is unchanged, so the result is
    * byte-identical on any store.
    */
  def copyTree(spark: org.apache.spark.sql.SparkSession, src: String,
      dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    val fs = sp.getFileSystem(conf)
    // one recursive walk: collect (srcFile, dstFile) pairs, mkdir dirs
    val files = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]
    def walk(s: org.apache.hadoop.fs.Path,
        d: org.apache.hadoop.fs.Path): Unit = {
      val st = fs.getFileStatus(s)
      if (st.isDirectory) {
        fs.mkdirs(d)
        fs.listStatus(s).foreach(c =>
          walk(c.getPath, new org.apache.hadoop.fs.Path(d, c.getPath.getName)))
      } else files += ((s, d))
    }
    walk(sp, dp)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, files.size)))
    try {
      val futures = files.map { case (s, d) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            if (!org.apache.hadoop.fs.FileUtil.copy(fs, s, fs, d,
                /* deleteSource = */ false, /* overwrite = */ true, conf))
              throw new java.io.IOException(s"file copy failed: $s -> $d")
        })
      }
      try futures.foreach(_.get()) // propagate the first failure
      catch {
        case e: java.util.concurrent.ExecutionException =>
          // surface the IOException the sequential path threw (ADVICE r16),
          // and quiesce dst before the caller's cleanup sees the error: a
          // pool.shutdown() alone would let queued copies keep writing
          pool.shutdownNow()
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          throw Option(e.getCause).getOrElse(e)
      }
    } finally pool.shutdown()
  }

  private def deleteRecursively(p: Path): Unit = {
    import java.nio.file.{FileVisitResult, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    try Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    })
    catch { case _: java.io.IOException => () } // best-effort at JVM exit
  }
}
