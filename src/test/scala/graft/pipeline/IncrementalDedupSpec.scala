package graft.pipeline

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Cross-run reuse contract of the incremental dedup flow: the FIRST
  * invocation builds and persists the historical MinHash band index; every
  * later invocation (same corpus) must answer from the persisted files
  * WITHOUT rewriting a byte of them — that is what makes the batch pass a
  * cross-run operation instead of a one-shot recompute.
  */
class IncrementalDedupSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** (relative path, size, mtime) of every file under the index dir. */
  private def fileState(root: String): Set[(String, Long, Long)] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => (base.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis))
      .toSet
  }

  test("second run reuses the persisted index byte-for-byte") {
    val path = Dedup.indexPath(spark, dir)
    deleteRecursively(Paths.get(path))

    val first = Dedup.incrementalBatch(spark, dir).collect().toSeq
    assert(new File(path + "/_SUCCESS").exists(), "index must be committed")
    val stateAfterBuild = fileState(path)

    val second = Dedup.incrementalBatch(spark, dir).collect().toSeq
    assert(second == first, "replayed batch must be bit-identical")
    assert(fileState(path) == stateAfterBuild,
      "second run must not rewrite any index file (reuse, not rebuild)")
  }

  test("index covers every historical doc exactly B times") {
    val nHist = graft.Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} <> 0").count()
    val idx = Dedup.incrementalIndex(spark, dir)
    assert(idx.count() == nHist * Dedup.B)
    assert(idx.select("doc_id").distinct().count() == nHist)
  }

  test("batch verdicts agree with signature agreement recomputed from scratch") {
    // independent recomputation: sign BOTH sides fresh (no index) and
    // compare the candidate surface — catches a stale or mis-keyed index
    val docs = graft.Tables.load(spark, dir, "documents")
    val viaIndex = Dedup.incrementalBatch(spark, dir)
      .select("doc_id", "hist_id", "matches").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sig = Dedup.minhashSignatures(docs)
    val fresh = sig.collect().map { r =>
      r.getLong(0) -> (1 until r.length).map(r.getLong)
    }.toMap
    val bandsOf = (s: Seq[Long]) =>
      (0 until Dedup.B).map(b =>
        (b, s.slice(b * Dedup.R, (b + 1) * Dedup.R)
          .foldLeft(0L)((acc, m) => ((acc * 31) + m) % TextAnalysis.FpMod)))
    val expected = (for {
      (nd, ns) <- fresh.toSeq if nd % Dedup.IncrSplitMod == 0
      (hd, hs) <- fresh.toSeq if hd % Dedup.IncrSplitMod != 0
      if bandsOf(ns).intersect(bandsOf(hs)).nonEmpty
    } yield (nd, hd, ns.zip(hs).count { case (a, b) => a == b }.toLong)).toSet
    assert(viaIndex == expected)
  }

  test("pruned probe scans only touched (band,bhp) buckets and matches the full scan") {
    val path = Dedup.ensureMinhashIndex(spark, dir)
    // tiny fixed batch — the production probe shape where pruning pays
    val tiny = graft.Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} = 0")
      .orderBy("doc_id").limit(4)

    val pruned = Dedup.incrementalProbe(spark, tiny, path, prune = true)
    val full = Dedup.incrementalProbe(spark, tiny, path)
    assert(pruned.collect().toSeq == full.collect().toSeq,
      "bucket pruning must not change the candidate surface")

    val scans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths
          .exists(_.toString.contains("graft_minhash_index")) => f
    }
    assert(scans.nonEmpty, "index file scan not found in the probe plan")
    val scan = scans.head
    // pruning is PATH SELECTION (point lookups under basePath), so the
    // scan's roots are exactly the touched bucket dirs — a root-dir scan
    // would have ONE root and list all B×IndexBuckets dirs
    val roots = scan.relation.location.rootPaths.map(_.toString)
    assert(roots.forall(_.matches(".*/band=\\d+/bhp=\\d+$")),
      s"pruned scan must be rooted at bucket dirs, got ${roots.take(3)}")
    // 4 docs × B bands touch at most 16 buckets of the B×IndexBuckets dirs
    assert(roots.length <= 4 * Dedup.B,
      s"probe must open ≤${4 * Dedup.B} touched buckets, opened ${roots.length}")
    val totalDirs = Files.list(Paths.get(Dedup.indexPath(spark, dir))).iterator()
      .asScala.count(p => p.getFileName.toString.startsWith("band="))  *
      Dedup.indexBuckets(spark, dir)
    assert(roots.length < totalDirs,
      s"probe must open fewer dirs than the full index (${roots.length}/$totalDirs)")
    spark.catalog.clearCache()
  }

  test("pruned probe's only pruning input is the build-time manifest") {
    val path = Dedup.ensureMinhashIndex(spark, dir)
    val tiny = graft.Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${Dedup.IncrSplitMod} = 0").orderBy("doc_id").limit(4)

    // the manifest is complete and exact: it names precisely the bucket
    // dirs the build committed (so intersecting against it is equivalent
    // to — and replaces — any filesystem existence probing)
    val manifest = IndexCommit.partitions(spark, path)
    val onDisk = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("bhp="))
      .map(p => s"${p.getParent.getFileName}/${p.getFileName}").toSet
    assert(manifest == onDisk,
      "manifest must name exactly the committed bucket dirs")

    // hide the manifest: the probe must FAIL LOUD at plan-construction
    // time, not fall back to filesystem probing or a silent empty result
    // (the object-store failure mode of driver-side java.io.File checks)
    val mf = Paths.get(path, IndexCommit.PartitionsFile)
    val hidden = Paths.get(path + ".manifest_hidden")
    Files.move(mf, hidden)
    try {
      val ex = intercept[IllegalStateException] {
        Dedup.incrementalProbe(spark, tiny, path, prune = true)
      }
      assert(ex.getMessage.contains(IndexCommit.PartitionsFile),
        s"error must name the missing manifest, got: ${ex.getMessage}")
    } finally Files.move(hidden, mf)
  }

  test("in-place append rewrites only touched buckets and preserves the layout") {
    import org.apache.spark.sql.functions.col
    val path = Dedup.ensureMinhashIndex(spark, dir)
    // layout-preserving scratch copy (what incrementalAppendInplace seeds),
    // REBUCKETED to a width larger than the wave's touched set: the
    // adaptive default sizes this tiny corpus at the bucket floor, where a
    // wave legitimately touches every bucket — the strict-subset property
    // under test here is about a production-proportioned index, so the
    // spec pins one explicitly (the bucket count rides in the path, which
    // is the layout contract appendInplaceCore reads back)
    val specBuckets = 64
    val aug = graft.TempDirs.scoped("inplace-spec") +
      s"/index_b$specBuckets"
    IndexCommit.publishPartitioned(spark, aug, Seq(IndexCommit.Root),
        Seq("band", "bhp")) { tmp =>
      spark.read.parquet(path)
        .withColumn("bhp", org.apache.spark.sql.functions.expr(
          s"CAST(pmod(bh, $specBuckets) AS INT)"))
        .repartition(col("band"), col("bhp"))
        .sortWithinPartitions("band", "bhp", "bh")
        .write.mode("overwrite").partitionBy("band", "bhp").parquet(tmp)
      Map.empty
    }
    val rowsBefore = spark.read.parquet(aug).count()
    val before = fileState(aug)
      .filter(_._1.startsWith("band=")) // data files only, not _SUCCESS etc.

    val viaInplace = Dedup.appendInplaceCore(spark, dir, aug).collect().toSeq
    val viaFullScan = Dedup.incrementalAppend(spark, dir).collect().toSeq
    assert(viaInplace == viaFullScan,
      "pruned-probe and full-scan-probe append cycles must yield identical verdicts")

    val after = fileState(aug).filter(_._1.startsWith("band="))
    val changedDirs = ((after -- before) ++ (before -- after))
      .map(_._1.split('/').init.mkString("/"))
    val allDirs = after.map(_._1.split('/').init.mkString("/"))
    assert(changedDirs.nonEmpty, "append must have written something")
    assert(changedDirs.size < allDirs.size,
      s"append must rewrite a strict subset of buckets " +
        s"(${changedDirs.size}/${allDirs.size} rewritten)")
    // layout survives: still exactly one parquet file per bucket dir
    allDirs.foreach { d =>
      val files = after.filter(_._1.startsWith(d + "/"))
        .filter(_._1.endsWith(".parquet"))
      assert(files.size == 1, s"bucket $d must hold one file, has ${files.size}")
    }
    // the appended rows are really there, and the manifest still names
    // every bucket: the PRUNED probe over the augmented index agrees with
    // an unpruned full scan of it
    val wave2 = graft.Tables.load(spark, dir, "documents")
      .where(s"doc_id % ${2 * Dedup.IncrSplitMod} = ${Dedup.IncrSplitMod}")
    val pruned = Dedup.incrementalProbe(spark, wave2, aug, prune = true)
      .collect().toSeq
    val full = Dedup.incrementalProbe(spark, wave2, aug).collect().toSeq
    assert(pruned == full,
      "pruned probe must see all appended rows (manifest complete)")
    assert(spark.read.parquet(aug).count() > rowsBefore,
      "augmented index must contain the accepted wave-1 band rows")
    deleteRecursively(Paths.get(aug).getParent)
  }

  test("index layout: exactly one bh-sorted file per bucket dir") {
    // the two storage properties the flat probe rests on: a bucket is ONE
    // file (point lookup = one open), and rows inside it are bh-sorted
    // (tight row-group stats if a bucket ever spans row groups)
    val path = Dedup.ensureMinhashIndex(spark, dir)
    val bucketDirs = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("bhp=")).toSeq
    assert(bucketDirs.nonEmpty, "bucketed index must have bhp= dirs")
    bucketDirs.foreach { b =>
      val files = Files.list(b).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.size == 1, s"bucket $b must hold exactly one file, has ${files.size}")
    }
    import org.apache.spark.sql.functions.{col, input_file_name}
    val perFile = spark.read.parquet(path)
      .select(input_file_name().as("f"), col("bh"))
      .rdd.mapPartitions { it =>
        // rows of one file arrive in file order; track the previous bh per
        // file so packed multi-file partitions don't cross-contaminate
        var bad = 0L
        var prev = Map.empty[String, Long]
        it.foreach { r =>
          val f = r.getString(0); val bh = r.getLong(1)
          if (prev.get(f).exists(_ > bh)) bad += 1
          prev += (f -> bh)
        }
        Iterator.single(bad)
      }.sum()
    assert(perFile == 0, s"$perFile out-of-order bh rows inside bucket files")
  }
}
