package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, SparkEntry, SparkSpec, Tables, TempDirs}

/** End-to-end reference-pipeline parity (SURVEY.md §2.1 wiring): paced source
  * (O1) → FADS generalizer (O6) → memory sink (O7), with throughput history
  * (O5) recorded by the listener; the bounded-stream runner
  * ([[PacedReplay.drain]]) and the timed FADS runner
  * ([[FadsStream.timedRun]]) with its [[ProgressSummary]].
  */
class PacedReplaySpec extends AnyFunSuite with SparkSpec {

  test("paced replay drives the full pipeline and records throughput") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")

    val stageDir = graft.TempDirs.scoped("paced-stage")
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile = 100, stageDir)

    val listener = ThroughputHistory.attach(spark)
    val stream = PacedReplay.stream(spark, stageDir, events.schema, filesPerTrigger = 5)
    val ckpt = graft.TempDirs.scoped("paced-ckpt")
    val q = FadsStream.anonymize(stream.as[Event], SparkEntry.eventsFadsConfig)
      .writeStream.format("memory").queryName("paced_gen").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(PacedReplay.trigger(0))
      .start()
    try q.processAllAvailable() finally q.stop()

    val n = spark.table("paced_gen").count()
    // un-drained tail stays in the buffer (<= bufferConstraint + 1)
    assert(n >= 1000 - (SparkEntry.eventsFadsConfig.bufferConstraint + 1))
    assert(listener.totalRows == 1000, "listener saw every source row")
    assert(listener.history.nonEmpty, "throughput history recorded")
    spark.streams.removeListener(listener)
  }

  test("staged chunks replay in chunk order under concurrent writers") {
    val chunks = 40
    val stageDir = graft.TempDirs.scoped("order-stage")
    // four writer tasks finish their chunk files in any order; AQE would
    // otherwise coalesce this tiny input into a single writer
    Session.withConfs(spark, Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false")) {
      PacedReplay.stage(spark.range(0, 2 * chunks).selectExpr("id AS i"),
        Seq("i"), rowsPerFile = 2, stageDir)
    }

    val root = new org.apache.hadoop.fs.Path(stageDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(root, "__chunk=*/*.parquet"))
      .sortBy(_.getPath.toString)
    assert(files.length == chunks, "one file per chunk")
    val mtimes = files.map(_.getModificationTime).toSeq
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"chunk mtimes must strictly increase in chunk order: $mtimes")

    val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Long)]()
    val q = PacedReplay.stream(spark, stageDir, new org.apache.spark.sql.types.StructType()
        .add("i", "long"), filesPerTrigger = 1)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val r = df.agg(org.apache.spark.sql.functions.min("i"),
          org.apache.spark.sql.functions.max("i")).head()
        batches.add((id, r.getLong(0), r.getLong(1)))
        ()
      }
      .option("checkpointLocation", graft.TempDirs.scoped("order-ckpt"))
      .trigger(PacedReplay.trigger(0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = batches.toArray(Array.empty[(Long, Long, Long)]).sortBy(_._1).toSeq
    assert(got == (0 until chunks).map(c => (c.toLong, 2L * c, 2L * c + 1)),
      "one chunk per trigger, admitted in chunk order")
  }

  test("runFor enforces the reference's wall-clock runtime bound") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
    val stageDir = graft.TempDirs.scoped("runfor-stage")
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile = 100, stageDir)
    val ckpt = graft.TempDirs.scoped("runfor-ckpt")
    // one file per 10 s trigger: 10 files cannot finish inside the bound
    val q = PacedReplay.stream(spark, stageDir, events.schema, filesPerTrigger = 1)
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(PacedReplay.trigger(10000))
      .start()
    val finished = PacedReplay.runFor(q, runtimeMs = 3000)
    assert(!finished, "bound elapsed before the stream could finish")
    assert(!q.isActive, "query stopped at the runtime bound")
  }

  /** The session state [[PacedReplay.drain]] must leave as it found it:
    * the two pinned confs as explicitly set (absent = unset), the active
    * queries and whether the sink view `name` exists.
    */
  private def sessionState(name: String) = {
    val set = spark.conf.getAll
    (set.get(FadsStream.ProviderKey), set.get("spark.sql.shuffle.partitions"),
      spark.streams.active.toSeq, spark.catalog.tableExists(name))
  }

  /** Run `body` with the provider conf set to `provider` (None = unset),
    * then put back whatever the session had.
    */
  private def withProvider(provider: Option[String])(body: => Unit): Unit =
    Session.withConfs(spark, Map(FadsStream.ProviderKey -> provider.getOrElse(""))) {
      if (provider.isEmpty) spark.conf.unset(FadsStream.ProviderKey)
      body
    }

  test("drain: a failure inside a batch propagates, and the query, the " +
    "pinned confs (an unset provider stays unset) and the view are gone") {
    withProvider(None) {
      val before = sessionState("drain_fail_batch")
      assert(before._1.isEmpty && before._3.isEmpty && !before._4)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        PacedReplay.drain(spark.range(0, 40).selectExpr("id AS i"), Seq("i"),
            40, "drain_fail_batch", "append", Some(3)) {
          _.selectExpr("CASE WHEN i = 25 THEN raise_error('boom in batch') " +
            "ELSE i END AS i")
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom in batch")))
      assert(sessionState("drain_fail_batch") == before)
    }
  }

  test("drain: a failure at start() propagates, and the query, the pinned " +
    "confs and the view are gone") {
    val hdfs = "org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"
    withProvider(Some(hdfs)) {
      val before = sessionState("drain_fail_start")
      assert(before._1.contains(hdfs))
      // complete mode needs an aggregation: analysis fails at start()
      intercept[org.apache.spark.sql.AnalysisException] {
        PacedReplay.drain(spark.range(0, 40).selectExpr("id AS i"), Seq("i"),
          40, "drain_fail_start", "complete", Some(3))(df => df)
      }
      assert(sessionState("drain_fail_start") == before)
    }
  }

  test("drain: a result keeps its own rows after a second run under the " +
    "same query name") {
    def run(from: Long, until: Long) =
      PacedReplay.drain(spark.range(from, until).selectExpr("id AS i"),
        Seq("i"), until - from, "drain_twice", "append", None)(df => df)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    val first = run(0, 8)
    val second = run(100, 104)
    assert(ids(first) == (0L until 8L))
    assert(ids(second) == (100L until 104L))
    assert(!spark.catalog.tableExists("drain_twice"))
  }

  /** sf0.001 `events`, staged once for the [[FadsStream.timedRun]] cases. */
  private lazy val staged =
    FadsStream.stageEvents(FadsStream.eventsFrame(spark, "/root/testdata/sf0.001"))

  /** One single-key and one 3-shard run of the staged events. */
  private lazy val timedRuns = Seq(1, 3).map { shards =>
    shards -> FadsStream.timedRun(spark, staged, shards,
      TempDirs.scoped("timed-ckpt"))()
  }

  test("timedRun: single-key and 3-shard runs process every staged row on " +
    "2 and 3 state partitions, and stop their query") {
    assert(staged.rows == 1000)
    timedRuns.foreach { case (shards, run) =>
      assert(run.sec > 0)
      assert(run.progress.map(_.numInputRows).sum == staged.rows, s"shards=$shards")
      val ops = run.progress.flatMap(_.stateOperators)
      assert(ops.nonEmpty, s"shards=$shards")
      assert(ops.forall(_.numShufflePartitions == math.max(2, shards)),
        s"shards=$shards: ${ops.map(_.numShufflePartitions)}")
    }
    assert(spark.streams.active.isEmpty)
  }

  test("timedRun: a failure at start(), inside a batch or in the caller's " +
    "wait propagates, and the query and the pinned confs are gone") {
    def chain(t: Throwable) =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    withProvider(None) {
      val before = sessionState("timed_run")
      assert(before._1.isEmpty && before._3.isEmpty)
      // a checkpoint root that is a file: start() cannot create its logs
      val fileCkpt = Files.createFile(
        java.nio.file.Paths.get(TempDirs.scoped("timed-ckpt"), "file")).toString
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
        FadsStream.timedRun(spark, staged, 1, fileCkpt)()
      }
      assert(sessionState("timed_run") == before)
      // a null user_id fails the typed decode of the batch that holds it
      val nullUser = FadsStream.stageEvents(spark.range(0, 40).selectExpr(
        "id AS event_id", "id AS ts",
        "CASE WHEN id = 25 THEN NULL ELSE id END AS user_id",
        "'view' AS event_type", "CAST(id AS DOUBLE) AS value", "'' AS props"))
      val inBatch = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        FadsStream.timedRun(spark, nullUser, 3,
          TempDirs.scoped("timed-ckpt"))()
      }
      assert(chain(inBatch).exists(t => String.valueOf(t.getMessage).contains("NOT_NULL_ASSERT_VIOLATION")),
        inBatch.getMessage)
      assert(sessionState("timed_run") == before)
      val inWait = intercept[IllegalStateException] {
        FadsStream.timedRun(spark, staged, 3,
          TempDirs.scoped("timed-ckpt")) { _ =>
          throw new IllegalStateException("boom in wait")
        }
      }
      assert(inWait.getMessage == "boom in wait")
      assert(sessionState("timed_run") == before)
    }
  }

  test("ProgressSummary totals are the sums over the same progress's state " +
    "operators") {
    timedRuns.foreach { case (shards, run) =>
      val ops = run.progress.flatMap(_.stateOperators)
      val fsync = "rocksdbCommitFileSyncLatencyMs"
      assert(ops.forall(_.customMetrics.containsKey(fsync)), s"shards=$shards")
      val s = run.summary
      assert(s.rows == staged.rows)
      assert(s.stateCommitMs == ops.map(_.commitTimeMs).sum)
      assert(s.rocksdbFsyncMs == ops.map(_.customMetrics.get(fsync).longValue).sum)
      assert(s.stateUpdateMs == ops.map(_.allUpdatesTimeMs).sum)
      assert(s.stateJson == s"""{"state_commit_ms":${s.stateCommitMs},""" +
        s""""rocksdb_fsync_ms":${s.rocksdbFsyncMs},"state_update_ms":${s.stateUpdateMs}}""")
      assert(s.lines.size == run.progress.size)
      s.lines.zip(run.progress).foreach { case (l, p) =>
        assert(l.startsWith(s"trigger ${p.name} batch=${p.batchId} in=${p.numInputRows} "), l)
        assert(l.contains(s"shards=${math.max(2, shards)}"), l)
      }
    }
  }
}
