package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.streaming.FadsStream

/** The one session policy every main runs on, so the engine Verify checks
  * is the engine Bench times: local mode on [[cpus]] cores with one
  * shuffle partition per core, AQE on, UTC, UI off, `spark.local.dir` and
  * the catalog warehouse on the probed scratch tier ([[placeScratch]]), then
  * [[FadsStream.configure]] (RocksDB state store with changelog
  * checkpointing, local checkpoint files through java.nio, listing
  * threshold, cached-plan AQE, codegen cache).
  */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Measured placement evidence for a directory: the statfs type and the
    * ms of a 1 MiB write+fsync (-1 when the probe failed). An artifact must
    * prove where its bytes went, not assert intent: a run once showed
    * 48.9 s of RocksDB fsync under a declared-RAM placement.
    */
  final case class Probe(fsType: String, fsyncMs: Double) {
    def json(kind: String): String =
      s"""{"kind":"$kind","fs_type":"$fsType","fsync_probe_ms":${String
        .format(java.util.Locale.ROOT, "%.3f", Double.box(fsyncMs))}}"""
  }

  def probe(dir: Path): Probe = {
    val fsType =
      try Files.getFileStore(dir).`type`()
      catch { case NonFatal(_) => "unknown" }
    val ms = try {
      val f = Files.createTempFile(dir, "graft-fsprobe", ".bin")
      try {
        val buf = java.nio.ByteBuffer.wrap(Array.fill(1 << 20)(0x5a.toByte))
        val t = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.WRITE)
        try { ch.write(buf); ch.force(true) } finally ch.close()
        (System.nanoTime() - t) / 1e6
      } finally Files.deleteIfExists(f)
    } catch { case NonFatal(_) => -1.0 }
    Probe(fsType, ms)
  }

  /** tmpfs fsyncs 1 MiB in ~0.1 ms; a "tmpfs" that probes at disk speed
    * (exotic sandbox mounts) is not RAM.
    */
  def onRam(p: Probe): Boolean =
    p.fsType == "tmpfs" && p.fsyncMs >= 0 && p.fsyncMs < 20.0

  /** The scratch tier: `dir` holds shuffle spill and the RocksDB working
    * dirs (`spark.local.dir`) plus [[TempDirs]] staging and throwaway
    * checkpoints. `kind` is "ramfs" when `dir` sits on a probe-verified
    * tmpfs, else "disk"; `shm` is the probe that decided it.
    */
  final case class Scratch(dir: Path, kind: String, shm: Probe, dirProbe: Probe)

  /** Scratch on `shm` when it probes as RAM, else under java.io.tmpdir.
    * RAM matters because the per-trigger RocksDB changelog and WAL fsync
    * of a disk-backed /tmp rode the disk's mood into every streaming
    * number (100-400 ms a micro-batch on ext4).
    */
  def placeScratch(shm: Path = Paths.get("/dev/shm")): Scratch = {
    val shmProbe =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) probe(shm)
      else Probe("absent", -1.0)
    val ram = onRam(shmProbe)
    val dir =
      if (ram) Files.createTempDirectory(shm, "graft-scratch")
      else Files.createTempDirectory("graft-scratch")
    // removed at exit once Spark and TempDirs have emptied it; the empty
    // catalog warehouse inside it is registered second, so it goes first
    dir.toFile.deleteOnExit()
    dir.resolve("warehouse").toFile.deleteOnExit()
    Scratch(dir, if (ram) "ramfs" else "disk", shmProbe, probe(dir))
  }

  /** The session policy applied to `base` (a spec passes a builder it can
    * read back). Also points [[TempDirs]] at the scratch tier.
    */
  def builder(appName: String, scratch: Scratch,
      base: SparkSession.Builder = SparkSession.builder()): SparkSession.Builder = {
    TempDirs.preferRoot(scratch.dir.toString)
    FadsStream.configure(base
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.dir.toString)
      // the catalog makes this dir at session start; default is the cwd
      .config("spark.sql.warehouse.dir", scratch.dir.resolve("warehouse").toString))
  }

  /** Run `body` with each of `pins` set on the session, then put every
    * pinned key back as it was, on every exit path: its prior value, or
    * unset when it was unset before. A leaked override would silently
    * change every later query of the session.
    */
  def withConfs[A](spark: SparkSession, pins: Map[String, String])(body: => A): A = {
    val prior = spark.conf.getAll
    try {
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally pins.keys.foreach { k =>
      prior.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Start (or join) the session on `scratch`, logging errors only. */
  def start(appName: String, scratch: Scratch = placeScratch()): SparkSession = {
    val spark = builder(appName, scratch).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
