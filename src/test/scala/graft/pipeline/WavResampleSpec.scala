package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Exact 2:1 decimation algebra on hand-built waveforms — truncation
  * semantics on negative odd pair sums (the `//`-compatibility rule the
  * scaladoc pins), odd-tail passthrough, and the sequence fingerprint.
  */
class WavResampleSpec extends AnyFunSuite with SparkSpec {

  /** Build a text whose decoded 16-bit samples are exactly `samples`
    * (inverse of the entry's text→sample map: lo = (v+16384) & 0xff,
    * hi = (v+16384) >> 8 — both must land in printable ASCII for the
    * all-ASCII corpus contract, which the chosen test values do).
    */
  private def textFor(samples: Seq[Int]): String =
    samples.flatMap { v =>
      val u = v + 16384
      Seq((u & 0xff).toChar, ((u >> 8) & 0xff).toChar)
    }.mkString

  private def run(texts: (Long, String)*): Map[Long, (Long, Long, Long, Long)] = {
    import spark.implicits._
    Multimodal.wavResampleCore(texts.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(8))))
      .toMap
  }

  test("pair means truncate toward zero, matching the SQL twin") {
    // samples (321, 322): mean 321.5 -> 321 (positive truncation);
    // (-448, -449): mean -448.5 -> -448 (toward ZERO, not floor — a
    // floor-semantics drift on either engine fails here)
    val pos = textFor(Seq(321, 322))
    val neg = textFor(Seq(-448, -449))
    val out = run(0L -> pos, 1L -> neg)
    // fp = ((0*31 + v + 32768) % P) for the single output sample
    assert(out(0L) == ((2L, 1L, 321L, 321L + 32768L)))
    assert(out(1L) == ((2L, 1L, 448L, -448L + 32768L)))
  }

  test("an odd tail passes through unaveraged") {
    val t = textFor(Seq(64, 320, 4200))
    val out = run(0L -> t)
    val fp = Seq(192L, 4200L).foldLeft(0L)((a, v) =>
      (a * 31 + v + 32768L) % 1000000007L)
    assert(out(0L) == ((3L, 2L, 4200L, fp)))
  }

  test("entry runs the real container at the halved rate") {
    val rows = Multimodal.wavResample(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getLong(4) == 4000L, "rate_out must be the halved rate")
      assert(r.getLong(2) == (r.getLong(1) + 1) / 2, "n_out = ceil(n/2)")
    }
  }
}
