package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}

/** `Tables.events` reads the session settings it depends on and never
  * writes them: a session that lacks one raises, naming the setting,
  * instead of being mutated or silently shifting `ts`. A repeat load of an
  * unchanged dir runs no Spark job; a rewritten dir is inferred again.
  */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  private val micros = Seq(0L, 1700000000123456L, 1700000060000001L)

  private def writeEvents(dir: String, extra: Option[String] = None): Unit = {
    val df = micros.toDF("us")
      .select(col("us").as("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
    extra.fold(df)(c => df.withColumn(c, lit("x")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
  }

  private def eventsDir(): String = {
    val dir = tempSfDir()
    writeEvents(dir)
    dir
  }

  /** Spark jobs started while `f` runs. A marker job after `f` flushes the
    * asynchronous listener bus: events arrive in order, so every job `f`
    * started has been seen once the marker has.
    */
  private def jobsDuring(f: => Unit): Int = {
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(js.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    def marker(m: String): Unit = {
      sc.setJobDescription(m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("tables-spec-start")
      f
      marker("tables-spec-end")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains("tables-spec-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val jobs = seen.asScala.toSeq
      assert(jobs.contains("tables-spec-end"), "marker job never reached the listener")
      jobs.indexOf("tables-spec-end") - jobs.indexOf("tables-spec-start") - 1
    } finally sc.removeSparkListener(listener)
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

  test("a repeat load runs no job; a rewritten dir is read with its new schema") {
    val dir = eventsDir()
    assert(jobsDuring(Tables.events(spark, dir)) >= 1, "the first load infers the schema")
    assert(jobsDuring(Tables.events(spark, dir)) == 0)
    writeEvents(dir, extra = Some("tag"))
    val again = Tables.events(spark, dir)
    assert(again.columns.toSeq == Seq("event_id", "ts", "tag"))
    assert(again.select("tag").as[String].collect().toSeq == Seq("x", "x", "x"))
  }
}
