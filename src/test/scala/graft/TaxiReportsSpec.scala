package graft

import java.nio.file.{Files, Paths}

import graft.operators.TaxiReports

/** Reference-exact YellowTaxi reports on reference-format CSV rows. */
class TaxiReportsSpec extends SparkSpec {

  /** Build a 19-field reference-format row with the interesting columns. */
  private def row(vendor: Int, pickup: String, dropoff: String,
                  total: Double, surcharge: Double): String =
    (Seq(vendor.toString, pickup, dropoff) ++ Seq.fill(13)("0") ++
      Seq(total.toString, surcharge.toString, "0.0")).mkString(",")
  // fields: 0=vendor 1=pickup 2=dropoff 3..15=filler 16=total 17=surcharge

  private def writeCsv(rows: Seq[String]): String = {
    val f = Files.createTempFile("taxi-", ".csv")
    Files.writeString(f, rows.mkString("\n"))
    f.toString
  }

  test("congestion area aggregates surcharged trips per day") {
    val path = writeCsv(Seq(
      row(1, "2022-03-01 08:00:00", "2022-03-01 08:30:00", 10.0, 2.5),
      row(2, "2022-03-01 09:00:00", "2022-03-01 09:30:00", 21.0, 2.5),
      row(1, "2022-03-01 10:00:00", "2022-03-01 10:30:00", 99.0, 0.0), // no surcharge
      row(1, "2022-03-02 08:00:00", "2022-03-02 08:10:00", 8.0, 1.0)))
    val got = TaxiReports.congestionArea(TaxiReports.parseTaxiCsv(spark, path))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("2022/03/01", 2, 15.5),
      ("2022/03/02", 1, 8.0)))
  }

  test("saturated vendor pairs trips with under 10 minutes idle time") {
    val path = writeCsv(Seq(
      row(1, "2022-03-01 08:00:00", "2022-03-01 08:30:00", 10.0, 0.0),
      row(1, "2022-03-01 08:35:00", "2022-03-01 09:00:00", 10.0, 0.0), // 5 min idle
      row(1, "2022-03-01 10:00:00", "2022-03-01 10:30:00", 10.0, 0.0), // 60 min idle
      row(2, "2022-03-01 08:00:00", "2022-03-01 08:30:00", 10.0, 0.0)))
    val got = TaxiReports.saturatedVendor(TaxiReports.parseTaxiCsv(spark, path))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3)))
    // the reference formats with hh (12-hour clock) — reproduced faithfully
    assert(got.toSeq == Seq((1, "2022-03-01 08:00:00", "2022-03-01 09:00:00", 2)))
  }

  test("the reference's own q2 test data parses and both reports run") {
    val path = "/root/reference/YellowTaxi/input/q2testData.csv"
    assume(Files.exists(Paths.get(path)), s"reference input $path is absent")
    val trips = TaxiReports.parseTaxiCsv(spark, path)
    assert(TaxiReports.congestionArea(trips).count() > 0)
    assert(TaxiReports.saturatedVendor(trips).count() >= 0)
  }

  test("synthetic q2-shaped trips over two days parse and both reports run") {
    // synthetic: reference-format rows written inline, not the reference's
    // q2testData.csv. Day 1: vendor 2 chains three trips with 5 and 8 min
    // idle; day 2: one surcharged trip per vendor, far apart.
    val trips = TaxiReports.parseTaxiCsv(spark, writeCsv(Seq(
      row(2, "2022-03-01 07:00:00", "2022-03-01 07:20:00", 12.0, 2.5),
      row(2, "2022-03-01 07:25:00", "2022-03-01 07:50:00", 14.0, 2.5),
      row(2, "2022-03-01 07:58:00", "2022-03-01 08:10:00", 9.0, 0.0),
      row(1, "2022-03-02 09:00:00", "2022-03-02 09:10:00", 7.0, 2.5),
      row(2, "2022-03-02 15:00:00", "2022-03-02 15:10:00", 30.0, 2.5))))
    val area = TaxiReports.congestionArea(trips)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(area.toSeq == Seq(("2022/03/01", 2), ("2022/03/02", 2)))
    val saturated = TaxiReports.saturatedVendor(trips)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(saturated.toSet == Set(
      (2, "2022-03-01 07:00:00", "2022-03-01 07:50:00"),
      (2, "2022-03-01 07:25:00", "2022-03-01 08:10:00")))
  }
}
