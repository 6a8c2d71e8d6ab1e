package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Structural properties of the event-analytics operators that the
  * cross-engine oracle cannot see: funnel stage monotonicity, session
  * partition integrity, SCD2 interval chaining, and the RANGE-frame
  * peer-inclusion semantics.
  */
class EventAnalyticsSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("funnel stages are strictly ordered and reached matches null shape") {
    val rows = EventAnalytics.funnel(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = Option(r.getAs[java.lang.Long]("first_view_us")).map(_.toLong)
      val c = Option(r.getAs[java.lang.Long]("first_click_us")).map(_.toLong)
      val p = Option(r.getAs[java.lang.Long]("first_purchase_us")).map(_.toLong)
      // each stage requires the previous and is strictly later
      assert(c.isEmpty || v.isDefined)
      assert(p.isEmpty || c.isDefined)
      for (t1 <- v; t2 <- c) assert(t2 > t1)
      for (t2 <- c; t3 <- p) assert(t3 > t2)
      val reached = r.getAs[Long]("reached")
      assert(reached == Seq(v, c, p).count(_.isDefined))
    }
    // funnel attrition: stage counts must be non-increasing
    val n = (1 to 3).map(s => rows.count(_.getAs[Long]("reached") >= s))
    assert(n == n.sorted.reverse)
  }

  test("sessionize partitions each user's events into gap-consistent sessions") {
    import spark.implicits._
    val sessions = EventAnalytics.sessionize(spark, sfDir).collect()
    val nEvents = graft.Tables.load(spark, sfDir, "events").count()
    // partition integrity: every event lands in exactly one session
    assert(sessions.map(_.getAs[Long]("n_events")).sum == nEvents)
    sessions.foreach { s =>
      val dur = s.getAs[Long]("duration_us")
      assert(dur == s.getAs[Long]("end_us") - s.getAs[Long]("start_us"))
      assert(dur >= 0)
    }
    // consecutive sessions of one user are separated by more than the gap
    sessions.groupBy(_.getAs[Long]("user_id")).foreach { case (_, ss) =>
      val ordered = ss.sortBy(_.getAs[Long]("session_idx"))
      assert(ordered.map(_.getAs[Long]("session_idx")).toSeq ==
        (1L to ordered.length.toLong))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_us") - a.getAs[Long]("end_us") >
            EventAnalytics.SessionGapUs)
        case _ => ()
      }
    }
  }

  test("scd2 versions chain: valid_to equals the next version's valid_from") {
    val rows = EventAnalytics.scd2(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, vs) =>
      val ordered = vs.sortBy(_.getAs[Long]("version"))
      assert(ordered.map(_.getAs[Long]("version")).toSeq ==
        (1L to ordered.length.toLong))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") == b.getAs[Long]("valid_from"))
          // consecutive versions hold different states (else not a change)
          assert(a.getAs[String]("state") != b.getAs[String]("state"))
        case _ => ()
      }
      // only the last version is open-ended
      assert(ordered.last.isNullAt(ordered.last.fieldIndex("valid_to")))
      assert(ordered.init.forall(!_.isNullAt(ordered.head.fieldIndex("valid_to"))))
    }
  }

  test("time-range frame sums exactly the orders within the trailing window") {
    val rows = EventAnalytics.timeRangeFrame(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // brute-force re-check the frame per customer
    rows.groupBy(_.getAs[Long]("o_custkey")).foreach { case (_, os) =>
      os.foreach { o =>
        val d = o.getAs[Long]("d")
        val expect = os.filter { p =>
          val pd = p.getAs[Long]("d")
          pd >= d - EventAnalytics.RangeDays && pd <= d
        }
        assert(o.getAs[Long]("trail30_cents") ==
          expect.map(_.getAs[Long]("cents")).sum)
        assert(o.getAs[Long]("trail30_orders") == expect.length.toLong)
      }
    }
  }

  test("corr stats lie in [-1, 1] and track native corr to float tolerance") {
    val rows = EventAnalytics.corrStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val native = graft.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.corr("l_quantity", "l_extendedprice")
        .as("c"))
      .collect().map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("c"))
      .toMap
    rows.foreach { r =>
      val c = r.getAs[Double]("corr_qty_price")
      assert(c >= -1.0 && c <= 1.0)
      // cents quantization + exact moments vs float accumulation: agree to 1e-6
      assert(math.abs(c - native(r.getAs[String]("rf"))) < 1e-6)
    }
  }
}
