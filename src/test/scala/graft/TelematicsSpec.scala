package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, unix_micros, window}

import graft.operators.Telematics

/** Batch telematics semantics on crafted event timelines. */
class TelematicsSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  /** (event_id, minute, user, type, value) rows → events.parquet in a temp
    * sfDir.
    */
  private def writeEvents(rows: Seq[(Long, Int, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = tempSfDir()
    rows.map { case (id, m, u, t, v) => (id, ts(m), u, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    dir
  }

  test("t1 speed radar keeps only rows at/over the limit") {
    val dir = writeEvents(Seq(
      (1L, 0, 1L, "click", 89.99), (2L, 1, 1L, "click", 90.0),
      (3L, 2, 2L, "view", 150.0)))
    val got = Telematics.speedRadar(spark, dir).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("t3 accident runs finds runs of >=4 same-type events per user") {
    val dir = writeEvents(
      // user 1: 5 consecutive clicks then a view — one run of 5
      (1 to 5).map(i => (i.toLong, i, 1L, "click", 1.0)) ++
        Seq((6L, 6, 1L, "view", 1.0)) ++
        // user 2: 3 clicks only — below threshold
        (1 to 3).map(i => (10L + i, i, 2L, "click", 1.0)))
    val got = Telematics.accidentRuns(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L && r.getString(1) == "click" && r.getLong(4) == 5L)
  }

  test("t5 saturated pairs emits consecutive events under 10 minutes apart") {
    val dir = writeEvents(Seq(
      (1L, 0, 1L, "a", 1.0), (2L, 5, 1L, "a", 1.0),   // 5 min gap -> pair
      (3L, 30, 1L, "a", 1.0),                          // 25 min gap -> no
      (4L, 39, 1L, "a", 1.0)))                         // 9 min gap -> pair
    val got = Telematics.saturatedPairs(spark, dir).collect()
    assert(got.length == 2)
    assert(got.forall(_.getLong(3) == 2L))
  }

  test("t6 session windows split on 30-minute inactivity gaps") {
    val dir = writeEvents(Seq(
      (1L, 0, 1L, "a", 1.0), (2L, 10, 1L, "a", 2.0),  // session 1
      (3L, 60, 1L, "a", 3.0),                          // session 2 (50 min gap)
      (4L, 61, 2L, "a", 4.0)))                         // other user
    val got = Telematics.sessionWindows(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(got.toSet == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("t8 as-of join attributes each purchase to the latest prior click") {
    val dir = writeEvents(Seq(
      (1L, 0, 1L, "click", 1.0),
      (2L, 5, 1L, "click", 1.0),
      (3L, 5, 1L, "purchase", 9.0),   // same minute as click 2 -> inclusive
      (4L, 20, 1L, "purchase", 9.0),  // latest click is still minute 5
      (5L, 1, 2L, "purchase", 9.0),   // user 2 never clicked -> null
      (6L, 2, 2L, "view", 1.0)))
    val got = Telematics.asofAttribution(spark, dir)
      .collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3)))
    val min5us = ts(5).getTime * 1000L
    assert(got.toSeq == Seq((3L, min5us), (4L, min5us), (5L, -1L)))
  }

  test("t4 daily congestion aggregates only positive purchases") {
    val dir = writeEvents(Seq(
      (1L, 0, 1L, "purchase", 10.0), (2L, 1, 2L, "purchase", 20.0),
      (3L, 2, 3L, "purchase", 0.0),  // excluded: not > 0
      (4L, 3, 4L, "click", 99.0)))   // excluded: wrong type
    val got = Telematics.congestionDaily(spark, dir).collect()
    assert(got.length == 1)
    assert(got.head.getString(0) == "2024/01/01")
    assert(got.head.getLong(1) == 2L)
    assert(got.head.getDouble(2) == 15.0)
  }

  test("t9 pane sums equal Spark's window() over the same events") {
    // minutes 0..299 step 7, some on 15-minute boundaries, values with cents
    val dir = writeEvents((0 until 300 by 7).map(m =>
      (m.toLong, m, (m % 5).toLong, "click", m * 1.37 + 0.01)))
    val expected = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("n_events"), col("sum_value"))
      .orderBy("w_start_us")
      .collect().toSeq
    assert(expected.size > 20)
    assert(Telematics.slidingWindows(spark, dir).collect().toSeq == expected)
  }

  // t3/t5/t6 share one range exchange on user_id between their windows,
  // their aggregate and the output sort; the sort is then partition-local,
  // so the output order holds only because the ranges are ordered.
  Seq[(String, (SparkSession, String) => DataFrame, Row => (Long, Long))](
    ("t3", Telematics.accidentRuns, r => (r.getLong(0), r.getLong(2))),
    ("t5", Telematics.saturatedPairs, r => (r.getLong(0), r.getLong(1))),
    ("t6", Telematics.sessionWindows, r => (r.getLong(0), r.getLong(1)))
  ).foreach { case (key, op, sortKey) =>
    test(s"$key plans one exchange and returns rows in output order across partitions") {
      // 12 users, each: 5 clicks a minute apart, a view, 4 clicks 95 min
      // later, a view 100 min after that — runs, pairs and sessions for all
      val dir = writeEvents(for {
        u <- 1 to 12
        (m, t) <- (0 to 4).map(_ -> "click") ++ Seq(5 -> "view") ++
          (100 to 103).map(_ -> "click") ++ Seq(200 -> "view")
      } yield ((u * 1000 + m).toLong, u * 7 + m, u.toLong, t, 1.0))
      val plan = staticCounts(op(spark, dir))
      assert(plan.shuffles == 1, s"$key must shuffle once, got $plan")
      withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        val df = op(spark, dir)
        val got = df.collect().map(sortKey).toSeq
        assert(got.nonEmpty && got == got.sorted, s"$key rows out of order: $got")
        assert(df.rdd.getNumPartitions > 1, s"$key ran in one partition")
      }
    }
  }
}
