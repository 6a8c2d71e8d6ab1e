package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SketchesSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("sketch aggregates land within tolerance of exact answers") {
    val rows = Sketches.approxStats(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("parts_ok"),
        s"HLL outside ${Sketches.DistinctTol} tolerance for ${r.getAs[String]("rf")}")
      assert(r.getAs[Boolean]("median_ok"),
        s"approx median outside ${Sketches.MedianTol} tolerance for ${r.getAs[String]("rf")}")
      assert(r.getAs[Long]("exact_parts") > 0)
    }
  }

  test("count-min: never underestimates, and collisions actually occur") {
    val rows = Sketches.cmsHeavy(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("lower_bound_ok"),
        s"CMS underestimated '${r.getAs[String]("token")}'")
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt"))
    }
    // w=16 < vocabulary by design: if nothing collides the error surface
    // is vacuous and the entry stops testing the sketch at all
    assert(rows.exists(_.getAs[Long]("cms_over") > 0),
      "no colliding cells — CmsW is no longer exercising the min-across-rows path")
  }

  test("count-min: disjoint-split sketches merge by cell-wise sum") {
    val docs = graft.Tables.load(spark, dir, "documents")
    def sketchOf(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      Sketches.cmsSketch(Sketches.cmsTokenCounts(df)).collect()
        .map(r => (r.getAs[Int]("r"), r.getAs[Long]("cell")) -> r.getAs[Long]("cellsum"))
        .toMap
    val whole = sketchOf(docs)
    val a = sketchOf(docs.where("doc_id % 2 = 0"))
    val b = sketchOf(docs.where("doc_id % 2 = 1"))
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged == whole,
      "cell-wise sum of split sketches diverged from the whole-corpus sketch")
  }

  test("qsketch: split histograms merge by bucket-wise sum, bounded size") {
    val cents = Sketches.qsCents(spark, dir)
    def histOf(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] =
      Sketches.qsHist(df).collect()
        .map(r => (r.getAs[String]("rf"), r.getAs[Long]("b")) -> r.getAs[Long]("cnt"))
        .toMap
    val whole = histOf(cents)
    val a = histOf(cents.where("l_orderkey % 2 = 0"))
    val b = histOf(cents.where("l_orderkey % 2 = 1"))
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged == whole,
      "bucket-wise sum of split histograms diverged from the whole build")
    // bounded whatever the corpus: ≤ 64 octaves × S sub-buckets per group
    val perGroup = whole.keys.groupBy(_._1).view.mapValues(_.size)
    assert(perGroup.values.forall(_ <= 64 * Sketches.QsS),
      s"histogram exceeded the structural bound: $perGroup")
  }

  test("qsketch: every quantile inside the guarantee, estimation live") {
    val rows = Sketches.qsketchQuantiles(spark, dir).collect()
    assert(rows.length == 3 * Sketches.QsPcts.length)
    assert(rows.forall(_.getAs[Boolean]("rel_ok")),
      "a quantile estimate escaped the 1/(2S) relative-error guarantee")
    // the estimator must actually be approximating (CmsW lesson: a gate
    // over a vacuous surface proves nothing) — at S=16 the bucket midpoint
    // almost never lands exactly on the true quantile value
    assert(rows.exists(r => r.getAs[Long]("est_c") != r.getAs[Long]("exact_c")),
      "every estimate exactly equals the exact quantile — vacuous gate")
  }

  test("streaming qsketch equals the batch entry and is re-runnable") {
    val batch = Sketches.qsketchQuantiles(spark, dir).collect().map(_.toSeq)
    val first = Sketches.streamQsketchQuantiles(spark, dir).collect().map(_.toSeq)
    assert(first.toSeq == batch.toSeq,
      "streamed histogram end-state diverged from the one-shot build")
    val again = Sketches.streamQsketchQuantiles(spark, dir).collect().map(_.toSeq)
    assert(again.toSeq == batch.toSeq, "second streaming run diverged")
  }

  test("kmv: merge of disjoint sketches equals the direct union sketch") {
    // the property the testdata can't show (every event_type there sees
    // every user): two DISJOINT user populations, sketched separately,
    // merged by re-ranking the kept minima — must equal the sketch built
    // directly over the union, because the k smallest of A ∪ B are a
    // subset of (k smallest of A) ∪ (k smallest of B)
    import spark.implicits._
    def mix(u: Long) = ((u % Sketches.KmvP) * 2654435761L) % Sketches.KmvP
    def kmv(users: Seq[Long]): Seq[Long] =
      users.map(mix).distinct.sorted.take(Sketches.KmvK)
    val a = (0L until 500L).map(_ * 7 + 1)
    val b = (0L until 500L).map(_ * 11 + 100000L)
    val merged = (kmv(a) ++ kmv(b)).distinct.sorted.take(Sketches.KmvK)
    assert(merged == kmv(a ++ b),
      "re-ranked merge of partial KMV sketches diverged from direct build")
    // estimator sanity on the same population: within the 50% gate
    val hk = kmv(a ++ b).last
    val est = (Sketches.KmvK - 1) * Sketches.KmvP / hk
    val exact = (a ++ b).distinct.size
    assert(math.abs(est - exact) * 2 <= exact,
      s"KMV estimate $est vs exact $exact outside the 50% gate")
    // and the engine agrees with the driver-side mirror: the entry's
    // 'all' row must carry the same h_k as a local replay over testdata
    val evUsers = graft.Tables.load(spark, dir, "events")
      .select("user_id").distinct().as[Long].collect().toSeq
    val allRow = Sketches.kmvDistinct(spark, dir).collect()
      .find(_.getAs[String]("scope") == "all").get
    assert(allRow.getAs[Long]("h_k") == kmv(evUsers).last)
  }

  test("streaming kmv equals the batch entry and is re-runnable") {
    val batch = Sketches.kmvDistinct(spark, dir).collect().map(_.toSeq)
    val first = Sketches.streamKmvDistinct(spark, dir).collect().map(_.toSeq)
    assert(first.toSeq == batch.toSeq,
      "streamed KMV end state diverged from the one-shot build")
    // bench runs entries repeatedly in one session: staged dirs and the
    // memory sink name must not collide across runs
    val again = Sketches.streamKmvDistinct(spark, dir).collect().map(_.toSeq)
    assert(again.toSeq == batch.toSeq)
  }

  test("streaming count-min equals the batch sketch and is re-runnable") {
    val first = Sketches.streamCmsHeavy(spark, dir).collect().toSeq
    // bench executes every entry multiple times in one session: the memory
    // sink's queryName and the staged chunk dirs must not collide across runs
    val second = Sketches.streamCmsHeavy(spark, dir).collect().toSeq
    assert(first == second, "repeat run diverged")
    val batch = Sketches.cmsHeavy(spark, dir).collect().toSeq
    assert(first == batch, "streamed sketch state != one-shot batch sketch")
  }

  test("BoundsAgg matches min/max and works registered in SQL") {
    BoundsAgg.register(spark)
    graft.Tables.registerAll(spark, dir)
    val r = spark.sql(
      """SELECT graft_bounds(l_extendedprice) AS b,
        |       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM lineitem""".stripMargin).collect()(0)
    val b = r.getStruct(0)
    assert(b.getDouble(0) == r.getDouble(1))
    assert(b.getDouble(1) == r.getDouble(2))
  }
}
