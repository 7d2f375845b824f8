package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Batch re-expressions of the reference's stream reports, on the `events`
  * table (`ts`≈time, `user_id`≈vid/vendor, `value`≈speed/amount,
  * `event_type`≈lane/kind).
  *
  * Design notes for scale: every operator is a declarative plan — the filter
  * ops push to the parquet scan, the keyed ops shuffle exactly once on their
  * key, and the sequence ops (runs / consecutive pairs / sessions) use window
  * functions partitioned by the key so a 1000-executor cluster processes
  * each key's timeline locally after one range exchange on the key, shared
  * by the windows, the keyed aggregate and the output sort
  * (`rangedByUser`). Timestamps are emitted as
  * epoch microseconds (`unix_micros`) so results hash-compare exactly with
  * the DuckDB oracle regardless of parquet timestamp resolution.
  */
object Telematics {

  /** Range-partitions the projected scan on `user_id`, before a per-user
    * sequence operator. RangePartitioning(user_id) satisfies the windows'
    * and the keyed aggregate's clustering, and the output sort's ordering
    * when it starts with `user_id`, so the plan has one exchange and the
    * final sort is partition-local. A hash exchange here would leave the
    * sort its own range exchange, whose sampling job and shuffle would each
    * run the window stage. AQE chooses the partition count.
    */
  private[operators] def rangedByUser(df: DataFrame): DataFrame =
    df.repartitionByRange(col("user_id"))

  /** t1: SpeedRadar — filter value >= 90, project.
    * Reference: VehicleTelematics.java:59-83 (filter spd>=90 + map).
    */
  def speedRadar(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value") >= 90.0)
      .select(
        col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("user_id"),
        col("event_type"),
        col("value"))
      .orderBy("event_id")

  /** t2: AverageSpeedControl — per (user_id, event_type): rate of change of
    * `value` between the first and last observation; keep |rate| > 1.0/hour.
    * Reference: VehicleTelematics.java:93-152,255-288 (keyed first/last obs,
    * Δpos/Δtime threshold).
    *
    * One shuffle on the grouping key; `min_by`/`max_by` keep it a single
    * partial-aggregable pass (no window sort needed).
    */
  def avgSpeedControl(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        unix_micros(min(col("ts"))).as("t_first_us"),
        unix_micros(max(col("ts"))).as("t_last_us"),
        min_by(col("value"), col("ts")).as("v_first"),
        max_by(col("value"), col("ts")).as("v_last"))
      .filter(col("t_last_us") > col("t_first_us"))
      .withColumn(
        "rate_per_hour",
        round(
          (col("v_last") - col("v_first")) /
            ((col("t_last_us") - col("t_first_us")) / lit(3600e6)),
          4))
      .filter(abs(col("rate_per_hour")) > 0.05)
      .select("user_id", "event_type", "t_first_us", "t_last_us", "rate_per_hour")
      .orderBy("user_id", "event_type")

  /** t3: AccidentReporter — runs of >= 4 consecutive events with the same
    * event_type per user (the reference's "4 reports at the same position").
    * Reference: VehicleTelematics.java:162-172,290-331 (countWindow(4,1) run
    * detection).
    *
    * Run-id = row_number(user) - row_number(user, event_type): the classic
    * gaps-and-islands trick — two sorts over the same user partition, both
    * satisfied by the one range exchange on user_id.
    */
  def accidentRuns(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val byUserType = Window.partitionBy("user_id", "event_type").orderBy("ts")
    rangedByUser(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts")))
      .withColumn("run_id",
        row_number().over(byUser) - row_number().over(byUserType))
      .groupBy("user_id", "event_type", "run_id")
      .agg(
        unix_micros(min(col("ts"))).as("t_start_us"),
        unix_micros(max(col("ts"))).as("t_end_us"),
        count(lit(1)).as("n_events"))
      .filter(col("n_events") >= 4)
      .select("user_id", "event_type", "t_start_us", "t_end_us", "n_events")
      .orderBy("user_id", "t_start_us")
  }

  /** t4: CongestionArea — 1-day tumbling event-time window over qualifying
    * events: trip count + average amount.
    * Reference: YellowTaxi CongestionArea.java:33-76 (filter surcharge>0,
    * windowAll(1 day), count+avg+round 2).
    *
    * The average is computed as an exact decimal sum divided by the count and
    * only then cast to double, so the result is order-independent (a plain
    * double sum over shuffled partitions is not reproducible vs the oracle).
    */
  def congestionDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" && col("value") > 0.0)
      .groupBy(date_format(col("ts"), "yyyy/MM/dd").as("day"))
      .agg(
        count(lit(1)).as("n_trips"),
        sum(col("value").cast("decimal(18,2)")).as("amount_sum"))
      .select(
        col("day"),
        col("n_trips"),
        round(col("amount_sum").cast("double") / col("n_trips"), 2).as("avg_amount"))
      .orderBy("day")

  /** t5: SaturatedVendor — consecutive event pairs per user with gap < 10
    * minutes. Reference: YellowTaxi SaturatedVendor.java:40-91 (count trigger
    * 2 + evict 1 == sliding pairs; emit when pickup2 - dropoff1 < 10 min).
    */
  def saturatedPairs(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    rangedByUser(Tables.events(spark, dir).select(col("user_id"), col("ts")))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .filter(col("prev_ts").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) < 600000000L)
      .select(
        col("user_id"),
        unix_micros(col("prev_ts")).as("t1_us"),
        unix_micros(col("ts")).as("t2_us"),
        lit(2L).as("n_trips"))
      .orderBy("user_id", "t1_us")
  }

  /** t6: event-time session windows (30-minute inactivity gap) per user —
    * the general form of the reference's windowing surface. New-session
    * markers + running sum assign session ids in one pass over each user's
    * timeline (one range exchange on user_id).
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val runningSession =
      Window.partitionBy("user_id").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rangedByUser(Tables.events(spark, dir).select(col("user_id"), col("ts"), col("value")))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)))
      .withColumn("new_session",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(runningSession))
      .groupBy("user_id", "session_id")
      .agg(
        unix_micros(min(col("ts"))).as("t_start_us"),
        unix_micros(max(col("ts"))).as("t_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select("user_id", "session_id", "t_start_us", "t_end_us", "n_events", "sum_value")
      .orderBy("user_id", "session_id")
  }

  /** t9: sliding event-time windows (1 hour, sliding 15 minutes) — each
    * event lands in 4 windows. The events are first counted and summed per
    * 15-minute pane (one row per pane, partially aggregated at the scan);
    * each pane then expands into the starts of its 4 windows and the pane
    * totals are summed again per window. Exact: count and the decimal sum
    * are associative, and Spark's `window()` assigns an event to the same 4
    * slide-aligned starts. The expansion is 4 × panes rows, not 4 × events,
    * and one range exchange on the window start serves the second
    * aggregate and the output sort.
    */
  def slidingWindows(spark: SparkSession, dir: String): DataFrame = {
    val paneUs = 900000000L
    Tables.events(spark, dir)
      .groupBy(expr(s"unix_micros(ts) - pmod(unix_micros(ts), $paneUs)").as("pane_us"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("s"))
      .select(
        explode(sequence(col("pane_us") - 3 * paneUs, col("pane_us"), lit(paneUs)))
          .as("w_start_us"),
        col("n"), col("s"))
      .repartitionByRange(col("w_start_us"))
      .groupBy("w_start_us")
      .agg(sum(col("n")).as("n_events"), sum(col("s")).cast("double").as("sum_value"))
      .orderBy("w_start_us")
  }

  /** t8: as-of join — each purchase attributed to the most recent prior (or
    * simultaneous) click by the same user. A range join would explode into a
    * bucketed O(n·m) compare at scale; instead the two sides are tagged,
    * unioned, and the latest click timestamp is carried forward with a
    * running max over each user's timeline — one shuffle on user_id, linear
    * work per key. Clicks sort before purchases at equal timestamps so the
    * `click.ts <= purchase.ts` bound is inclusive, matching ASOF JOIN.
    */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("tag"))
      .withColumn("click_ts", max(when(col("tag") === 0, col("ts"))).over(byUser))
      .filter(col("tag") === 1)
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("p_ts_us"),
        unix_micros(col("click_ts")).as("click_ts_us"))
      .orderBy("purchase_id")
  }
}
