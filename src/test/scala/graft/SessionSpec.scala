package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{FadsStream, LocalCheckpointFiles}

/** The one session policy, read back from a recording builder without
  * starting a session, and the one builder site on each side of the source
  * tree.
  */
class SessionSpec extends AnyFunSuite {

  /** A builder that only records what is set on it. */
  private class Recording extends SparkSession.Builder {
    def confs: Map[String, String] = options.toMap
  }

  test("the policy sets every FadsStream.configure conf and one shuffle partition per core") {
    val fads = new Recording
    FadsStream.configure(fads)
    assert(fads.confs("spark.sql.sources.parallelPartitionDiscovery.threshold") == "1024")
    assert(fads.confs("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(fads.confs("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(fads.confs(LocalCheckpointFiles.ConfKey) == classOf[LocalCheckpointFiles].getName)
    // a scratch dir that does not exist leaves the TempDirs hint untouched
    val scratch = Session.Scratch(Paths.get("/nonexistent/graft-scratch"), "disk",
      Session.Probe("absent", -1.0), Session.Probe("absent", -1.0))
    val policy = new Recording
    Session.builder("spec", scratch, policy)
    val confs = policy.confs
    fads.confs.foreach { case (k, v) =>
      assert(confs.get(k).contains(v), s"$k must be $v")
    }
    val cpus = Session.cpus
    assert(confs("spark.master") == s"local[$cpus]")
    assert(confs("spark.sql.shuffle.partitions") == cpus.toString)
    assert(confs("spark.sql.adaptive.enabled") == "true")
    assert(confs("spark.sql.session.timeZone") == "UTC")
    assert(confs("spark.ui.enabled") == "false")
    assert(confs("spark.local.dir") == scratch.dir.toString)
    assert(confs("spark.sql.warehouse.dir") == scratch.dir.resolve("warehouse").toString)
  }

  test("scratch is labelled disk when /dev/shm is absent or probes at disk speed") {
    val s = Session.placeScratch(Paths.get("/nonexistent/shm"))
    try {
      assert(s.kind == "disk")
      assert(s.shm.fsType == "absent")
      assert(s.dir.getParent == Paths.get(System.getProperty("java.io.tmpdir")))
    } finally Files.deleteIfExists(s.dir)
    assert(!Session.onRam(Session.Probe("tmpfs", 35.0)), "tmpfs at disk speed")
    assert(!Session.onRam(Session.Probe("tmpfs", -1.0)), "failed probe")
    assert(!Session.onRam(Session.Probe("ext4", 0.1)), "fast disk")
    assert(Session.onRam(Session.Probe("tmpfs", 0.1)))
  }

  /** `path:line` of every code line under `root` that holds `needle`;
    * comment lines are skipped. Unless `inStrings`, string literals are
    * blanked before matching, so the needles below and the test names that
    * quote them are not sites.
    */
  private def sites(root: String, needle: String,
      inStrings: Boolean = false): List[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir))
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if (if (inStrings) l else l.replaceAll("\"[^\"]*\"", "\"\""))
                .contains(needle) && {
                val t = l.trim
                !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
              } => s"${dir.relativize(f)}:${i + 1}"
        }
      } finally walk.close()
  }

  private def builderSites(root: String): List[String] =
    sites(root, "SparkSession.builder()")

  test("Session.scala holds the only SparkSession.builder() call under src/main") {
    val sites = builderSites("src/main/scala")
    assert(sites.size == 1 && sites.head.startsWith("graft/Session.scala:"),
      s"builder sites: $sites")
  }

  test("under src/test only VectorExpressionsSpec's GraftExtensions case " +
    "builds a session; every other spec runs on SparkSpec") {
    val sites = builderSites("src/test/scala")
    assert(sites.size == 1 &&
      sites.head.startsWith("graft/functions/VectorExpressionsSpec.scala:"),
      s"builder sites: $sites")
  }

  test("under src/main only IndexCommit calls IndexCommit.ensure and recordSchemas") {
    val calls = Seq("IndexCommit.ensure", "IndexCommit.recordSchemas")
      .flatMap(sites("src/main/scala", _))
      .filterNot(_.startsWith("graft/pipeline/IndexCommit.scala:"))
    assert(calls.isEmpty, s"commit calls outside IndexCommit: $calls")
  }

  test("under src/main only IndexCommit names the partition manifest or " +
    "reads and writes it, and no retired per-family manifest is named") {
    val named = (Seq("PartitionsFile", "writePartitions", "IndexCommit.manifest")
      .flatMap(sites("src/main/scala", _)) ++
      Seq("\"_partitions\"", "\"_lists\"", "\"_buckets\"", "\"_postings\"")
        .flatMap(sites("src/main/scala", _, inStrings = true)))
      .filterNot(_.startsWith("graft/pipeline/IndexCommit.scala:"))
    assert(named.isEmpty, s"partition manifest named outside IndexCommit: $named")
  }

  test("under src/main only the FadsReplays variant table calls the FADS " +
    "batch replay, and only Sinks names MemoryStream") {
    val replays = sites("src/main/scala", "FadsBatch.anonymize")
      .filterNot(_.startsWith("graft/ops/FadsReplays.scala:"))
    assert(replays.isEmpty, s"FADS batch replays outside the table: $replays")
    val memory = sites("src/main/scala", "MemoryStream")
      .filterNot(_.startsWith("graft/streaming/Sinks.scala:"))
    assert(memory.isEmpty, s"MemoryStream outside Sinks: $memory")
  }

  test("the /tmp index base is written only in IndexCommit") {
    val bases = sites("src/main/scala", "\"/tmp", inStrings = true)
    assert(bases.size == 1 && bases.head.startsWith("graft/pipeline/IndexCommit.scala:"),
      s"/tmp literals: $bases")
  }

  test("Files.createTempDirectory is called only by TempDirs, Session and " +
    "Bench's disk checkpoint, and by no spec") {
    val needle = "Files.createTempDirectory"
    val (bench, others) = sites("src/main/scala", needle)
      .partition(_.startsWith("graft/Bench.scala:"))
    assert(bench.size == 1, s"Bench temp dirs: $bench")
    assert(others.forall(s => s.startsWith("graft/TempDirs.scala:") ||
      s.startsWith("graft/Session.scala:")), s"temp dirs outside TempDirs: $others")
    val specs = sites("src/test/scala", needle)
    assert(specs.isEmpty, s"specs must use TempDirs.scoped: $specs")
  }
}
