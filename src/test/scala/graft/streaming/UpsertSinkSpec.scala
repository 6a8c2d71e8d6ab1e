package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

case class Upd(event_id: Long, user_id: Long, event_type: String,
    value: Double, ts_us: Long)

/** Streaming upsert sink: after replaying the events table in chunks, the
  * snapshot equals the batch latest-per-key compaction
  * (graft.ops.TableOps.latestByKey) — streaming merge == batch merge.
  */
class UpsertSinkSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming upsert snapshot equals batch latest-by-key") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = graft.Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "user_id", "event_type", "value",
        "ts div 1000L AS ts_us")
      .as[Upd].collect().sortBy(u => (u.ts_us, u.event_id))

    val stream = MemoryStream[Upd]
    val outDir = graft.TempDirs.scoped("ups-out") + "/snap"
    val ckpt = graft.TempDirs.scoped("ups-ckpt")
    val q = Sinks.upsertParquet(stream.toDF(), outDir, ckpt,
      keyCols = Seq("user_id"), versionCols = Seq("ts_us", "event_id")).start()
    try {
      rows.grouped(math.max(1, rows.length / 4)).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()

    val got = spark.read.parquet(outDir)
      .selectExpr("user_id", "event_id", "ts_us")
      .as[(Long, Long, Long)].collect().sorted
    val want = graft.ops.TableOps.latestByKey(spark, sfDir)
      .selectExpr("user_id", "event_id", "ts_us")
      .as[(Long, Long, Long)].collect().sorted
    assert(want.nonEmpty)
    assert(got.toSeq == want.toSeq)

    // no leftover tmp/old dirs from the swap protocol
    val parent = new java.io.File(outDir).getParentFile
    assert(parent.listFiles().map(_.getName).count(_.startsWith("snap")) == 1)
  }

  test("streaming partitioned upsert rewrites only touched partition dirs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val outDir = graft.TempDirs.scoped("pups-out") + "/idx"
    val ckpt = graft.TempDirs.scoped("pups-ckpt")

    Seq((1L, 0, 10L), (2L, 0, 20L), (3L, 1, 30L))
      .toDF("doc_id", "band", "bh")
      .write.partitionBy("band").parquet(outDir)
    def bandFiles(b: Int): Set[(String, Long, Long)] = {
      val d = new java.io.File(s"$outDir/band=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSet
    }
    val band1Before = bandFiles(1)
    assert(band1Before.nonEmpty)

    // batch touches band 0 (newer version of doc 1) and band 2 (new);
    // band 1 must come through the merge byte-identical — the
    // only-touched-dirs rewrite a bucketed index relies on
    val stream = MemoryStream[(Long, Int, Long)]
    val q = Sinks.partitionedUpsertParquet(
      stream.toDS().toDF("doc_id", "band", "bh"), outDir, ckpt,
      partitionCols = Seq("band"), keyCols = Seq("doc_id", "band"),
      versionCols = Seq("bh"), sortCols = Seq("bh")).start()
    try {
      stream.addData((1L, 0, 99L), (4L, 2, 40L))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(outDir)
      .select("doc_id", "band", "bh").as[(Long, Int, Long)].collect().sorted
    assert(got.toSeq ==
      Seq((1L, 0, 99L), (2L, 0, 20L), (3L, 1, 30L), (4L, 2, 40L)))
    assert(bandFiles(1) == band1Before)
  }

  test("recoverSwap repairs every crash shape of the rename swap") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)

    def writeSnap(dir: String, ids: Seq[Long]): Unit =
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    def readIds(dir: String): Seq[Long] =
      spark.read.parquet(dir).as[Long].collect().toSeq.sorted
    def fresh(): String =
      graft.TempDirs.scoped("ups-rec") + "/snap"

    // Shape 1: crash between rename(live, old) and rename(tmp, live) —
    // live missing, complete tmp present. tmp must be promoted (it holds
    // old ∪ batch); restoring old alone would also be safe but tmp is newer.
    val s1 = fresh()
    writeSnap(s"$s1.tmp-7", Seq(1L, 2L, 3L))
    writeSnap(s"$s1.old-7", Seq(1L, 2L))
    Sinks.recoverSwap(fs, s1)
    assert(readIds(s1) == Seq(1L, 2L, 3L))
    assert(!fs.exists(new Path(s"$s1.tmp-7")) && !fs.exists(new Path(s"$s1.old-7")))

    // Shape 2: crash mid-write of tmp (no _SUCCESS) with live already
    // renamed away — fall back to old. (Cannot arise from the real
    // ordering, but recovery must still never promote an incomplete tmp.)
    val s2 = fresh()
    writeSnap(s"$s2.tmp-9", Seq(9L))
    fs.delete(new Path(s"$s2.tmp-9/_SUCCESS"), false)
    writeSnap(s"$s2.old-9", Seq(4L, 5L))
    Sinks.recoverSwap(fs, s2)
    assert(readIds(s2) == Seq(4L, 5L))
    assert(!fs.exists(new Path(s"$s2.tmp-9")))

    // Shape 3: live intact, stale orphans from an earlier crash — live is
    // authoritative; orphans are dropped, content untouched.
    val s3 = fresh()
    writeSnap(s3, Seq(10L, 11L))
    writeSnap(s"$s3.tmp-3", Seq(99L))
    writeSnap(s"$s3.old-2", Seq(98L))
    Sinks.recoverSwap(fs, s3)
    assert(readIds(s3) == Seq(10L, 11L))
    assert(!fs.exists(new Path(s"$s3.tmp-3")) && !fs.exists(new Path(s"$s3.old-2")))

    // End-to-end: simulate the mid-swap crash, then run a NEW upsert stream
    // over the same path — prior keys must survive (this was the silent
    // truncation ADVICE r4 flagged).
    val s4 = fresh()
    val ck4 = graft.TempDirs.scoped("ups-rec-ckpt")
    writeSnap(s"$s4.tmp-0", Seq(1L, 2L, 3L))   // crashed mid-swap…
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Long]
    val q = Sinks.upsertParquet(
      stream.toDF().withColumnRenamed("value", "id"), s4, ck4,
      keyCols = Seq("id"), versionCols = Seq("id")).start()
    try {
      stream.addData(3L, 4L)
      q.processAllAvailable()
    } finally q.stop()
    assert(readIds(s4) == Seq(1L, 2L, 3L, 4L))
  }
}
