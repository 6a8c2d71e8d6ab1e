package graft.tools

import org.apache.spark.sql.functions._

import graft.Session
import graft.pipeline.Dedup

/** Scratch measurement harness (guide §1) for the bucket-wise upsert that
  * dominates the append-family entries: seeds a working copy of the
  * persisted MinHash index, prepares the accepted-wave band rows exactly
  * like appendDocsBatch, then times each internal step of the
  * partition-wise upsert separately, twice (cold/warm).
  *
  * Usage: runMain graft.tools.UpsertProbe <sfDir>
  */
object UpsertProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.start("graft-upsert-probe")
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime(); val a = body
      println(f"[probe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      a
    }
    val path = Dedup.ensureMinhashIndex(spark, sfDir)

    (1 to 2).foreach { round =>
      println(s"[probe] ---- round $round ----")
      // name the working copy with the layout suffix like the pipeline
      // does — bucketsOf(aug) inside the pruned probe parses it (ADVICE r16:
      // a bare "/idx" crashed the probe's first round)
      val aug = graft.TempDirs.scoped("upsert-probe") +
        s"/index_b${Dedup.indexBuckets(spark, sfDir)}"
      timed("copyTree")(graft.TempDirs.copyTree(spark, path, aug))
      // the accepted wave-1 band rows, persisted+materialized (as in
      // appendDocsBatch after the probe phase)
      val docs = graft.Tables.load(spark, sfDir, "documents")
      val wave1 = docs.where(s"doc_id % ${2 * Dedup.IncrSplitMod} = 0")
      val dup1 = Dedup.incrementalProbe(spark, wave1, aug, prune = true)
        .where("is_dup = 1").select("doc_id").distinct()
      val accepted = Dedup.bandRowsFor(
          wave1.join(dup1, Seq("doc_id"), "left_anti"),
          Dedup.indexBuckets(spark, sfDir))
        .persist()
      timed("materialize_accepted")(accepted.count())

      // --- the upsert internals, step by step ---
      val touched = timed("touched_collect") {
        accepted.select("band", "bhp").distinct().collect()
          .map(r => (r.getInt(0), r.getInt(1)))
      }
      val root = new org.apache.hadoop.fs.Path(aug)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existing = timed("fs_exists_loop") {
        touched.map { case (b, h) => s"band=$b/bhp=$h" }
          .filter(d => fs.exists(new org.apache.hadoop.fs.Path(root, d)))
          .map(d => s"$aug/$d").toSeq
      }
      val current = timed("read_current_plan") {
        spark.read.option("basePath", aug).parquet(existing: _*)
      }
      val merged = current.unionByName(accepted.toDF())
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id"), col("band"))
        .orderBy(col("bh").desc)
      val snap = merged
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .drop("__rn")
        .repartition(col("band"), col("bhp"))
        .sortWithinPartitions(col("band"), col("bhp"), col("bh"))
      timed("snap_compute_noop") {
        snap.write.format("noop").mode("overwrite").save()
      }
      val fresh = graft.TempDirs.scoped("upsert-probe") + "/fresh"
      timed("plain_write_fresh_dir") {
        snap.write.mode("overwrite").partitionBy("band", "bhp").parquet(fresh)
      }
      val fresh2 = graft.TempDirs.scoped("upsert-probe") + "/fresh2"
      timed("write_committer_v2") {
        spark.conf.set(
          "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        try snap.write.mode("overwrite").partitionBy("band", "bhp")
          .parquet(fresh2)
        finally spark.conf.unset(
          "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version")
      }
      val fresh3 = graft.TempDirs.scoped("upsert-probe") + "/fresh3"
      timed("write_uncompressed") {
        snap.write.mode("overwrite").option("compression", "none")
          .partitionBy("band", "bhp").parquet(fresh3)
      }
      val fresh4 = graft.TempDirs.scoped("upsert-probe") + "/fresh4"
      timed("write_coalesce8") {
        snap.coalesce(8).write.mode("overwrite")
          .partitionBy("band", "bhp").parquet(fresh4)
      }
      timed("dynamic_overwrite_write") {
        snap.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("band", "bhp")
          .parquet(aug)
      }
      accepted.unpersist()
    }
    spark.stop()
  }
}
