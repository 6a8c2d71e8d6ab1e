package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Liveness + saturation gates for the per-file bloom skip index (value
  * correctness is the driver oracle's job).
  */
class BloomSkipSpec extends AnyFunSuite with SparkSpec {

  test("bloom skip prunes files and fetches every probe on testdata") {
    val r = Formats.bloomskipPrune(spark, "/root/testdata/sf0.001").head()
    val (nProbes, nHits, filesRead, filesTotal) =
      (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
    assert(nProbes >= 1, "probe batch must be non-empty")
    assert(nHits == nProbes, "bloom must never lose a probe (no false negatives)")
    assert(filesRead < filesTotal, "pruning must be live, not read-everything")
  }

  test("adaptive sizing keeps pruning live at 10x per-file density") {
    // 250 docs/source — the sf0.1 per-file density where a FIXED-size
    // bloom saturates and admits every file; the ⌈n/2⌉-word sizing must
    // keep the false-positive admission rate low enough that pruning
    // still skips most files
    val tmp = graft.TempDirs.scoped("bloomskip-dense")
    import spark.implicits._
    (0L until 2000L)
      .map(id => (id, s"t$id", "en", s"src${id % 8}", (id % 97) + 1))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Formats.bloomskipPrune(spark, tmp).head()
    val (nProbes, nHits, filesRead, filesTotal) =
      (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
    assert(nProbes == 4 && nHits == 4) // ids 7, 507, 1007, 1507
    // true owners: sources of the 4 probes (7%8, 507%8, 1007%8, 1507%8 =
    // 7, 3, 7, 3 → 2 distinct); admit ≤ owners + a small FP allowance
    assert(filesRead >= 2, "owner files must always be admitted")
    assert(filesRead <= 4,
      s"bloom saturated at 250 keys/file: read $filesRead of $filesTotal")
  }
}
