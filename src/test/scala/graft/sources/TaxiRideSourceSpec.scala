package graft.sources

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Reference O1/O2 parse semantics (NYCTaxiRideSource.fromString,
  * /root/reference/src/main/java/datasources/NYCTaxiRideSource.java:204-244):
  * START/END time swap, empty lon/lat → 0.0, gzip transparency, typed fields.
  */
class TaxiRideSourceSpec extends AnyFunSuite with SparkSpec {

  private def writeGz(lines: Seq[String]): String = {
    val dir = new java.io.File(graft.TempDirs.scoped("taxi"))
    val f = new java.io.File(dir, "rides.gz")
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(f)), "UTF-8"))
    lines.foreach { l => w.write(l); w.newLine() }
    w.close()
    f.getAbsolutePath
  }

  test("START/END swap, empty coords, gzip, typed output") {
    val path = writeGz(Seq(
      // rideId, START|END, time1, time2, sLon, sLat, eLon, eLat, pax, taxiId, driverId
      "1,START,2013-01-01 00:00:00,2013-01-01 00:10:00,-73.99,40.75,-73.98,40.76,2,100,200",
      "1,END,2013-01-01 00:10:00,2013-01-01 00:00:00,-73.99,40.75,-73.98,40.76,2,100,200",
      "2,START,2013-01-01 01:00:00,2013-01-01 01:05:00,,,,,1,101,201"))
    val df = TaxiRideSource.read(spark, path)
    val rows = df.collect().sortBy(r => (r.getAs[Long]("rideId"), !r.getAs[Boolean]("isStart")))

    val start = rows(0)
    assert(start.getAs[Boolean]("isStart"))
    assert(start.getAs[Long]("startTime") == 1356998400000L) // 2013-01-01 00:00 UTC
    assert(start.getAs[Long]("endTime") == 1356999000000L)   // 00:10

    val end = rows(1)
    assert(!end.getAs[Boolean]("isStart"))
    // END line carries (endTime, startTime) — parser must swap back
    assert(end.getAs[Long]("startTime") == 1356998400000L)
    assert(end.getAs[Long]("endTime") == 1356999000000L)

    val empty = rows(2)
    assert(empty.getAs[Double]("startLon") == 0.0)
    assert(empty.getAs[Double]("endLat") == 0.0)
    assert(empty.getAs[Short]("passengerCnt") == 1.toShort)
    assert(empty.getAs[Long]("taxiId") == 101L)
  }

  test("end-to-end taxi FADS replay preserves cardinality with sane intervals") {
    val dir = "/root/testdata/sf0.001"
    val nRides = TaxiRideSource.syntheticRides(spark, dir).count()
    val out = graft.SparkEntry.queries("taxi_fads_replay")(spark, dir).collect()
    assert(out.length == nRides, "one release per ride after drain")
    // QID intervals well-formed; taxiId intervals stay inside the generated
    // taxiId domain [1000, 1000 + maxUser]
    val maxTaxi = 1000.0 + out.map(_.getAs[Long]("driverId")).max - 2000.0
    out.foreach { r =>
      Seq("rideId", "taxiId", "endTime").foreach { q =>
        assert(r.getAs[Double](s"${q}_lo") <= r.getAs[Double](s"${q}_hi"))
      }
      assert(r.getAs[Double]("taxiId_lo") >= 1000.0 &&
        r.getAs[Double]("taxiId_hi") <= maxTaxi)
    }
  }

  test("contiguous PID is dense from 0 and order-stable") {
    val path = writeGz((0 until 25).map(i =>
      s"$i,START,2013-01-01 00:00:0${i % 10},2013-01-01 00:10:00,1.0,2.0,3.0,4.0,1,${i + 1000},${i + 2000}"))
    val withPid = TaxiRideSource.withContiguousPid(TaxiRideSource.read(spark, path))
    val pids = withPid.collect().map(_.getAs[Long]("pid")).sorted
    assert(pids.toSeq == (0L until 25L))
  }
}
