package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** OPTIMIZE contract of the persisted float-IVF index (r14 verdict item
  * 4): a file-append ingest wave fragments its touched inverted lists;
  * compaction collapses every list back to ONE sorted data file; and the
  * probe answers are bit-identical on both sides — compaction is a pure
  * layout change, invisible to results.
  */
class IvfCompactSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val (frag, opt) = IvfIndex.compactedWorkingIndex(spark, dir)

  test("file-append fragments touched lists; compaction collapses " +
    "every list to one data file") {
    val before = IvfIndex.listFileCounts(spark, frag)
    val after = IvfIndex.listFileCounts(spark, opt)
    assert(before.values.exists(_ > 1),
      s"the append wave must fragment at least one list, got $before")
    assert(after.keySet == before.keySet,
      "compaction must preserve the manifest's list set")
    assert(after.values.forall(_ == 1),
      s"every compacted list must be exactly one data file, got $after")
  }

  test("probe results are identical on the fragmented and compacted index") {
    val emb = Similarity.corpusFloats(spark, dir)
    val wave2 = emb.where(s"vec_id % ${2 * Similarity.IvfSplitMod} = " +
      s"${Similarity.IvfSplitMod} AND vec_id < " +
      s"${2L * Similarity.IvfSplitMod * Similarity.QuerySetSize + Similarity.IvfSplitMod}")
    def probe(path: String) = IvfIndex.probe(spark, dir, path, IvfIndex.Float,
        wave2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val pre = probe(frag)
    val post = probe(opt)
    assert(pre.nonEmpty, "the probe surface must be non-empty")
    assert(pre == post,
      "compaction changed probe results — it must be layout-only")
  }
}
