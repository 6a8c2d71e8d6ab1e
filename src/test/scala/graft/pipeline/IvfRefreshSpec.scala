package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Contracts of the drift-refresh entry (`sim_ivf_refresh`): the drifted
  * wave measurably loses recall through the frozen codebook and recovers
  * through the retrained one, and the refreshed artifact is a complete,
  * atomically-published index (codebook + manifest + bucketed lists)
  * whose content equals the stale index's content re-coded — nothing
  * lost, nothing duplicated.
  */
class IvfRefreshSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("frozen-codebook recall decays under drift and the retrained index recovers it") {
    val rows = Similarity.ivfRefresh(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (staleHits, truth) = rows("stale")
    val (refHits, truth2) = rows("refreshed")
    assert(truth == truth2 && truth > 0)
    assert(staleHits < truth,
      s"drift must cost the frozen codebook recall ($staleHits/$truth)")
    assert(refHits > staleHits,
      s"re-train + re-code must recover recall ($staleHits -> $refHits)")
  }

  test("the refreshed root is a complete atomic artifact holding exactly the stale content") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    val emb = Similarity.corpusFloats(spark, dir)
    val w = 2 * Similarity.IvfSplitMod
    val wave = emb.where(s"vec_id % $w = 0")
      .selectExpr("vec_id",
        s"transform(emb, x -> x + CAST(${Similarity.DriftShift} AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    val content = emb.where(s"vec_id % ${Similarity.IvfSplitMod} <> 0")
      .select("vec_id", "emb", "nrm").unionByName(wave)
    val root = IvfIndex.refresh(spark, dir, content)

    // complete layout: data _SUCCESS, codebook, manifest
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_SUCCESS")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/${IvfIndex.CodebookDir}/_SUCCESS")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      root, IndexCommit.PartitionsFile)))

    // re-code preserved the vector set exactly: same ids, same count,
    // and the manifest names exactly the non-empty lists
    val stored = spark.read.parquet(root)
    assert(stored.select("vec_id").distinct().count() == stored.count(),
      "re-code must not duplicate a vector")
    val storedIds = stored.select("vec_id").collect().map(_.getLong(0)).toSet
    val contentIds = content.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(storedIds == contentIds, "re-code must not lose a vector")
    val listDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("c_id=") )
      .map(_.getPath.getName).toSet
    assert(IndexCommit.partitions(spark, root) == listDirs,
      "manifest must name exactly the written lists")

    // the retrained codebook differs from the frozen one — the refresh
    // actually moved the centroids toward the drifted content
    val frozen = IvfIndex.open(spark,
      IvfIndex.ensure(spark, dir, IvfIndex.Float), IvfIndex.Float).cent
      .orderBy("c_id").collect().map(_.getSeq[Double](1))
    val retrained = IvfIndex.open(spark, root, IvfIndex.Float).cent
      .orderBy("c_id").collect().map(_.getSeq[Double](1))
    // Lloyd means drop empty clusters, so the retrained book may be
    // smaller; it must differ from the frozen one in content
    assert(retrained.nonEmpty)
    assert(frozen.toSeq != retrained.toSeq,
      "retraining must move at least one centroid")
  }
}
