package graft

import java.nio.file.{Files, Paths}

import graft.operators.LinearRoad
import graft.sources.EventSources

/** Reference-exact VehicleTelematics reports, driven through the CSV
  * source with the reference's own input format.
  */
class LinearRoadSpec extends SparkSpec {

  /** Rows are (time,vid,spd,xway,lane,dir,seg,pos) like the reference CSV. */
  private def writeCsv(rows: Seq[String]): String = {
    val f = Files.createTempFile("cardata-", ".csv")
    Files.writeString(f, rows.mkString("\n"))
    f.toString
  }

  private val referenceInput = "/root/reference/VehicleTelematics/input"

  /** The reference's accident scenario: 8 reports of vid 3 at pos 139158,
    * 30 s apart from t=870. The sliding countWindow(4,1) emits from the 4th
    * report on -> 5 rows, run start 870.
    */
  private def checkAccidentScenario(path: String): Unit = {
    val got = LinearRoad.accidents(EventSources.carDataCsv(spark, path))
      .orderBy("time2").collect()
    assert(got.length == 5)
    assert(got.forall(_.getAs[Int]("time1") == 870))
    assert(got.map(_.getAs[Int]("time2")).toSeq == Seq(960, 990, 1020, 1050, 1080))
    assert(got.forall(r => r.getAs[Int]("vid") == 3 && r.getAs[Int]("pos") == 139158))
  }

  /** All three reports over one input, each against an independent
    * expectation: fines = the rows at >= 90, accidents = a Scala fold over
    * each vid's time-ordered reports, emitting from the 4th consecutive
    * same-pos on. Returns (fines, accidents).
    */
  private def checkAllReports(path: String): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    val cars = EventSources.carDataCsv(spark, path)
    val fines = LinearRoad.speedFines(cars).collect()
    assert(fines.length == cars.filter(col("spd") >= 90).count().toInt)
    assert(fines.forall(_.length == 6)) // (time, vid, xway, seg, dir, spd)
    val expected = cars.select("vid", "time", "pos").collect()
      .groupBy(_.getAs[Int]("vid")).values.map { rows =>
        val sorted = rows.sortBy(_.getAs[Int]("time")).map(_.getAs[Int]("pos"))
        sorted.foldLeft((0, Option.empty[Int], 0)) {
          case ((emits, prev, runLen), pos) =>
            val len = if (prev.contains(pos)) runLen + 1 else 1
            (emits + (if (len >= 4) 1 else 0), Some(pos), len)
        }._1
      }.sum
    val accidents = LinearRoad.accidents(cars).count()
    assert(accidents == expected)
    LinearRoad.avgSpeedFines(cars).collect() // runs; 52->56 pairs may be absent
    (fines.length, accidents)
  }

  test("the reference's own accident_test_data.csv produces its expected reports") {
    val path = s"$referenceInput/accident_test_data.csv"
    assume(Files.exists(Paths.get(path)), s"reference input $path is absent")
    checkAccidentScenario(path)
  }

  test("synthetic twin of the reference's accident scenario produces its expected reports") {
    // synthetic: the scenario the reference's accident_test_data.csv
    // states, written inline, not the reference's file
    checkAccidentScenario(writeCsv(
      (0 until 8).map(i => s"${870 + i * 30},3,0,0,1,0,26,139158")))
  }

  test("the reference's own data_small.csv runs all three reports consistently") {
    val path = s"$referenceInput/data_small.csv"
    assume(Files.exists(Paths.get(path)), s"reference input $path is absent")
    checkAllReports(path)
  }

  test("synthetic mixed traffic runs all three reports consistently") {
    // synthetic: three cars over 5 minutes, not the reference's file.
    // vid 1 cruises eastbound at 95 then 80 mph through segs 50-57; vid 2
    // stops at pos 200000 for 6 reports, moves, then stops again for 4;
    // vid 3 drives westbound at 100 mph, once, between two slow reports
    val rows =
      (0 until 8).map(i => s"${i * 30},1,${if (i < 4) 95 else 80},0,0,0,${50 + i},${264000 + i * 5280}") ++
      (0 until 6).map(i => s"${i * 30},2,0,1,2,0,37,200000") ++
      Seq("180,2,30,1,2,0,37,200500") ++
      (0 until 4).map(i => s"${210 + i * 30},2,0,1,2,0,37,200900") ++
      Seq("0,3,40,2,1,1,56,300000", "30,3,100,2,1,1,55,299000",
        "60,3,40,2,1,1,55,298000")
    // 4 + 1 fines; vid 2's runs emit 3 (6 reports) + 1 (4 reports)
    assert(checkAllReports(writeCsv(rows)) == (5, 4L))
  }

  test("speed fines keep >=90 with the reference's column projection") {
    val path = writeCsv(Seq(
      "10,1,89,1,0,0,50,1000",
      "11,1,90,1,0,0,50,1100",
      "12,2,120,2,1,1,55,9000"))
    val got = LinearRoad.speedFines(EventSources.carDataCsv(spark, path))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(5)))
    assert(got.toSet == Set((11, 1, 90), (12, 2, 120)))
  }

  test("average speed control fines a 52->56 traversal over 60 mph") {
    // eastbound car 1: seg 52 at t=0 pos=0, seg 56 at t=100 pos=5280*... use
    // meters: 3000m in 100s = 30 m/s -> 30*3600/1000*0.621371 = 67 mph
    val path = writeCsv(Seq(
      "0,1,50,1,0,0,52,0",
      "100,1,50,1,0,0,56,3000",
      // car 2 is slow: 1000m in 100s = 10 m/s -> 22 mph, no fine
      "0,2,50,1,0,0,52,0",
      "100,2,50,1,0,0,56,1000"))
    val got = LinearRoad.avgSpeedFines(EventSources.carDataCsv(spark, path))
      .collect().map(r => (r.getInt(2), r.getInt(5)))
    assert(got.toSeq == Seq((1, 67)))
  }

  test("average speed control truncates the /1000 like the reference's int math") {
    // 31 m/s: (31*3600) div 1000 = 111; 111 * 0.621371 = 68.97 -> 68 mph.
    // Double division would read 111.6 * 0.621371 = 69.34 -> 69 (wrong).
    val path = writeCsv(Seq(
      "0,1,50,1,0,0,52,0",
      "100,1,50,1,0,0,56,3100"))
    val got = LinearRoad.avgSpeedFines(EventSources.carDataCsv(spark, path))
      .collect().map(r => (r.getInt(2), r.getInt(5)))
    assert(got.toSeq == Seq((1, 68)))
  }

  test("average speed control fine boundary: 27 m/s no fine, 28 m/s fined at 62") {
    // 27 m/s -> 97 * 0.621371 = 60.27 -> 60, NOT > 60 (no fine)
    // 28 m/s -> 100 * 0.621371 = 62.13 -> 62, fined
    val path = writeCsv(Seq(
      "0,1,50,1,0,0,52,0",
      "100,1,50,1,0,0,56,2700",
      "0,2,50,1,0,0,52,0",
      "100,2,50,1,0,0,56,2800"))
    val got = LinearRoad.avgSpeedFines(EventSources.carDataCsv(spark, path))
      .collect().map(r => (r.getInt(2), r.getInt(5)))
    assert(got.toSeq == Seq((2, 62)))
  }

  test("average speed control uses the extreme-position record per segment") {
    // eastbound: max pos wins per (vid, dir, seg): the seg-52 record at
    // pos=500/t=50 supersedes pos=0/t=0 -> 2500m in 50s = 50 m/s -> 111 mph
    val path = writeCsv(Seq(
      "0,1,50,1,0,0,52,0",
      "50,1,50,1,0,0,52,500",
      "100,1,50,1,0,0,56,3000"))
    val got = LinearRoad.avgSpeedFines(EventSources.carDataCsv(spark, path))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(5)))
    assert(got.toSeq == Seq((50, 100, 111)))
  }

  test("accidents emit one row per report from the 4th same-position report on") {
    val path = writeCsv(
      (0 until 6).map(i => s"${i * 30},7,0,1,0,0,20,555") :+ // 6 stopped reports
        "300,8,10,1,0,0,20,600")                             // moving car
    val got = LinearRoad.accidents(EventSources.carDataCsv(spark, path))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    // reports 4,5,6 (times 90,120,150) each emit with run start time1=0
    assert(got.toSet == Set((0, 90, 7), (0, 120, 7), (0, 150, 7)))
  }

  test("carDataAsEvents lets the generic stream operators run on telemetry") {
    val path = writeCsv(Seq("10,1,95,1,0,0,50,1000", "20,2,50,1,0,0,50,2000"))
    val events = EventSources.carDataAsEvents(EventSources.carDataCsv(spark, path))
    val radar = graft.streaming.StreamOps.speedRadar(events).collect()
    assert(radar.length == 1 && radar.head.getAs[Double]("value") == 95.0)
  }
}
