package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Line-derivation arithmetic, corpus-global keep-first semantics, and
  * reassembly order on constructed corpora, plus class liveness on the
  * committed entry's real corpus.
  */
class LineDedupSpec extends AnyFunSuite with SparkSpec {

  private def run(docs: (Long, String)*): Map[Long, (Long, Long, String)] = {
    import spark.implicits._
    LineDedup.dedupLines(LineDedup.lineTable(docs.toDF("doc_id", "text")))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(6))))
      .toMap
  }

  // 8 words exactly — one derived line
  private val lineA = "a b c d e f g h"
  private val lineB = "p q r s t u v w"
  private val lineC = "j k l m n o x y"

  test("a shared line drops from the later doc only; order preserved") {
    val out = run(
      0L -> s"$lineA $lineB",
      1L -> s"$lineC $lineA")
    // doc 0: both lines first occurrences
    assert(out(0L) == ((2L, 2L, s"$lineA $lineB")))
    // doc 1: lineC survives, the repeated lineA drops; order of the
    // survivors is the doc's own line order
    assert(out(1L) == ((2L, 1L, lineC)))
  }

  test("an exact duplicate document reassembles to the empty string") {
    val out = run(0L -> s"$lineA $lineB", 7L -> s"$lineA $lineB")
    assert(out(7L) == ((2L, 0L, "")))
    assert(out(0L)._3 == s"$lineA $lineB")
  }

  test("trailing short line is a line: dedups and counts like any other") {
    // 10 words -> lines of 8 and 2; the 2-word tail repeats across docs
    val out = run(
      0L -> s"$lineA tail tail",
      1L -> s"$lineB tail tail")
    assert(out(0L) == ((2L, 2L, s"$lineA tail tail")))
    assert(out(1L) == ((2L, 1L, lineB)))
    // within ONE doc too: first copy kept, second dropped
    val self = run(3L -> s"$lineA $lineA")
    assert(self(3L) == ((2L, 1L, lineA)))
  }

  test("all-unique corpus is untouched and chars reconcile") {
    val out = LineDedup.dedupLines(LineDedup.lineTable {
      import spark.implicits._
      Seq((0L, s"$lineA $lineB $lineC")).toDF("doc_id", "text")
    }).collect().head
    assert(out.getLong(1) == 3L && out.getLong(2) == 3L)
    assert(out.getLong(4) == out.getLong(5), "chars_in == chars_kept when nothing drops")
    assert(out.getString(6) == s"$lineA $lineB $lineC")
  }

  test("streamed dedup state is stateful and equals the batch firsts") {
    val dir = "/root/testdata/sf0.001"
    val streamed = LineDedup.streamQuery(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the batch firsts table, derived independently
    val lines = LineDedup.lineTable(
      graft.Tables.load(spark, dir, "documents"))
    val batch = lines
      .selectExpr("line", s"doc_id * ${1L << LineDedup.IdxBits} + line_idx AS k")
      .groupBy("line")
      .agg(org.apache.spark.sql.functions.expr("min(k) AS first_key"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, "standing state must equal the batch firsts")
    // the dedup filter is genuinely stateful: one state row per distinct line
    val qn = "graft_spec_line_dedup_state"
    import graft.streaming.PacedReplay
    val docs = graft.Tables.load(spark, dir, "documents").select("doc_id", "text")
    val stage = graft.TempDirs.scoped("line-dedup-spec") + "/docs"
    PacedReplay.stage(docs, Seq("doc_id"),
      math.max(1L, docs.count() / 4L).toInt, stage)
    val q = LineDedup.lineTable(PacedReplay.stream(spark, stage, docs.schema))
      .selectExpr("line", s"doc_id * ${1L << LineDedup.IdxBits} + line_idx AS k")
      .groupBy("line")
      .agg(org.apache.spark.sql.functions.expr("min(k) AS first_key"))
      .writeStream.outputMode("complete").format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val state = q.lastProgress.stateOperators
    assert(state.nonEmpty, "line dedup must carry a state store")
    assert(state.head.numRowsTotal == batch.size.toLong,
      "state rows must equal the distinct-line count")
    spark.catalog.dropTempView(qn)
  }

  test("entry: both classes live on the real corpus, totals reconcile") {
    val df = LineDedup.query(spark, "/root/testdata/sf0.001").cache()
    assert(df.where("lines_dropped > 0").count() > 0, "repeats must be live")
    assert(df.where("lines_dropped = 0").count() > 0, "untouched docs must be live")
    assert(df.where("lines_kept + lines_dropped <> lines_total").count() == 0)
    // global keep-first: total surviving lines == distinct lines corpus-wide
    val lines = LineDedup.lineTable(
      graft.Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val distinctLines = lines.select("line").distinct().count()
    val kept = df.agg(org.apache.spark.sql.functions.expr("sum(lines_kept)"))
      .collect().head.getLong(0)
    assert(kept == distinctLines)
    df.unpersist()
  }
}
