package graft

import org.apache.spark.sql.functions.{col, expr, timestamp_micros}

/** `Tables.events` reads the session settings it depends on and never
  * writes them: a session that lacks one raises, naming the setting,
  * instead of being mutated or silently shifting `ts`.
  */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  private val micros = Seq(0L, 1700000000123456L, 1700000060000001L)

  private def eventsDir(): String = {
    val dir = tempSfDir()
    micros.toDF("us")
      .select(col("us").as("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("events keeps the file's microseconds in a UTC session") {
    val got = Tables.events(spark, eventsDir())
      .select(expr("unix_micros(ts)")).as[Long].collect().sorted.toSeq
    assert(got == micros)
  }

  test("events raises without UTC or nanosAsLong and leaves the setting alone") {
    val dir = eventsDir()
    Seq("spark.sql.session.timeZone" -> "America/New_York",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false").foreach { case (k, v) =>
      val s = spark.newSession()
      s.conf.set(k, v)
      val e = intercept[IllegalArgumentException](Tables.events(s, dir))
      assert(e.getMessage.contains(k))
      assert(s.conf.get(k) == v)
    }
  }
}
