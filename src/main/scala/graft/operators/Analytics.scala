package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Doubles

/** Batch analytics over the TPC-H-ish tables. The reference ships only
  * skeleton batch jobs (VehicleTelematics BatchJob.java, YellowTaxi
  * BatchJob.java) — this module fills in the batch surface the engine needs,
  * with plans shaped for a large cluster:
  *
  *  - money sums go through decimal(18,2) so partial aggregation across any
  *    number of partitions is exact and reproducible;
  *  - dimension tables (region/nation/supplier/customer at these sizes) are
  *    explicitly broadcast so the fact table never shuffles for them;
  *  - top-k uses order+limit which Spark plans as TakeOrderedAndProject —
  *    no global sort of the fact table.
  */
object Analytics {

  private def money(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")
  private def rate(c: org.apache.spark.sql.Column) = c.cast("decimal(3,2)")
  private val one = lit(1).cast("decimal(3,2)")

  /** q1: TPC-H Q1 pricing summary over lineitem. Pure partial-aggregable
    * groupBy: one shuffle of (flag,status)-keyed partials, no matter the SF.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(money(col("l_extendedprice")) * (one - rate(col("l_discount")))
          * (one + rate(col("l_tax"))))
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 6))
      .withColumn("avg_price", round(col("sum_base_price") / col("count_order"), 6))
      .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "count_order")
      .orderBy("l_returnflag", "l_linestatus")

  /** q3: shipping-priority style join: customer ⋈ orders ⋈ lineitem, revenue
    * per order, top 10. Customer side broadcast; lineitem⋈orders shuffles on
    * orderkey only.
    */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1995-03-15").cast("date"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1995-03-15").cast("date"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(money(col("l_extendedprice")) *
            (one - rate(col("l_discount"))))
        .cast("double").as("revenue"))
      .select(
        col("l_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
        col("o_orderpriority"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q5: local-supplier-volume style 5-way join — revenue per nation for one
    * region. All dimension joins broadcast; the only shuffle is
    * lineitem⋈orders on orderkey + the final tiny agg.
    */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1994-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-01-01").cast("date"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust.join(broadcast(nation),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(money(col("l_extendedprice")) *
            (one - rate(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q6: forecast-revenue-change — tight filter + single global aggregate;
    * the whole query is one scan with every predicate pushed to parquet and
    * a one-row partial-agg reduce.
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum(money(col("l_extendedprice")) * rate(col("l_discount")))
        .cast("double").as("revenue"))

  /** q4: order-priority count over orders that have at least one late-ish
    * line item — LEFT SEMI join (EXISTS), so lineitem is only probed, never
    * duplicated into the aggregate.
    */
  def orderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-04-01").cast("date"))
    val late = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-02-01").cast("date"))
      .select("l_orderkey")
    ord.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q_dormant_customers: customers with no orders — LEFT ANTI join (NOT
    * EXISTS); the anti side streams through the join without materializing.
    */
  def dormantCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1995-06-01").cast("date") &&
            col("o_orderdate") < lit("1995-07-01").cast("date"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("int").as("c_nationkey"))
      .orderBy("c_custkey")

  /** q_rollup_events: (event_type, day) rollup — multi-grain aggregates in
    * one pass via grouping sets; NULL grain markers are coalesced so the
    * output is oracle-comparable.
    */
  def eventRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .rollup(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("n_events"), col("sum_value"))
      .orderBy("event_type", "day")

  /** q_cube_events: every grain of (event_type, day) in one pass — CUBE
    * adds the (day)-only grain that rollup's hierarchy skips. Spark plans
    * grouping sets as one Expand + one aggregate: the fact table is read
    * once no matter how many grains. NULL grain markers are coalesced so
    * output is oracle-comparable.
    */
  def eventCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .cube(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("n_events"), col("sum_value"))
      .orderBy("event_type", "day")

  /** q_lag_delta: window navigation — each purchase against the same
    * user's previous one (lag): value delta and inter-purchase gap. The
    * unique (ts, event_id) ordering key makes lag deterministic; the gap
    * is integer microseconds (exact), the delta plain IEEE subtraction
    * (identical in any engine). The output order starts with the window
    * key, so one range exchange on user_id serves the window and the sort
    * (`Telematics.rangedByUser`).
    */
  def purchaseDeltas(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Telematics.rangedByUser(Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value")))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_value").isNotNull)
      .select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("value"), col("prev_value"),
        Doubles.roundZ(col("value") - col("prev_value"), 2).as("delta"),
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("gap_us"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** q10_returned_items: revenue lost to returns per customer, top 20 —
    * fact⋈fact shuffle on orderkey, broadcast customer decoration, then
    * TakeOrdered top-k on the aggregated (small) relation.
    */
  def returnedItems(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-10-01").cast("date") &&
        col("o_orderdate") < lit("1996-01-01").cast("date"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        sum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q7_user_stats: exact distinct counts + interpolated percentiles per
    * event type (both engines use linear interpolation).
    */
  def userStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count_distinct(col("user_id")).as("nd_users"),
        Doubles.roundZ(expr("percentile(value, 0.5D)"), 6).as("med_value"),
        Doubles.roundZ(expr("percentile(value, 0.95D)"), 6).as("p95_value"))
      .orderBy("event_type")

  /** q8_approx_stats: the sketch versions — HyperLogLog++ distinct counts
    * and QuantileSummaries quantiles. At 100 TB these replace their exact
    * counterparts: fixed-size state, partial-mergeable, one pass. Sketch
    * internals differ across engines by design, so the PUBLISHED columns
    * are the engine-stable projection: the exact values (same discipline
    * as q7) plus one within-tolerance verdict per estimate, computed
    * against the exact twin INSIDE the entry. The DuckDB oracle recomputes
    * the exact columns and expects every verdict true, which turns the
    * previously rows-only row into a full hash-checked one — the driver
    * now machine-verifies that the sketches track their exact twins.
    * Tolerances are generous multiples of the sketches' error bounds
    * (rsd 0.01 → ±5 %; accuracy 2000 → rank ±0.0005, checked at ±0.01),
    * and the estimates are deterministic functions of the data, so the
    * booleans are stable, not flaky.
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // Sketch half and exact twin are SEPARATE aggregations joined on the
    // handful-of-rows group key: fusing them into one agg puts every
    // aggregate downstream of count_distinct's Expand (2× input rows
    // through the percentile buffers and the quantile-sketch merges —
    // measured 5.6 s fused vs ~2 s split at sf0.1). Apart, each half
    // keeps the plan it had as a standalone query; the join is free.
    val sketches = ev
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("a_nd"),
        // one QuantileSummaries sketch serves both quantiles — two separate
        // percentile_approx calls each build and merge their own sketch, and
        // at accuracy 10000 the per-partition merges dominated the whole
        // bench (16 s); accuracy 2000 keeps the estimate well inside the
        // tolerance brackets at a fraction of the merge cost
        percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(2000))
          .as("aq"))
    val exact = ev
      .groupBy(col("event_type"))
      .agg(
        count_distinct(col("user_id")).as("nd_users"),
        // exact quantiles at the targets AND the ±0.01-rank bracket edges
        // the approx values are checked against
        expr("percentile(value, array(0.49D, 0.5D, 0.51D, 0.94D, 0.95D, 0.96D))")
          .as("eq"))
    sketches.join(exact, Seq("event_type"))
      .select(
        col("event_type"),
        col("nd_users"),
        Doubles.roundZ(element_at(col("eq"), 2), 6).as("med_value"),
        Doubles.roundZ(element_at(col("eq"), 5), 6).as("p95_value"),
        (abs(col("a_nd") - col("nd_users")) <=
          greatest(col("nd_users") * 0.05, lit(5.0))).as("nd_ok"),
        (element_at(col("aq"), 1) >= element_at(col("eq"), 1) &&
          element_at(col("aq"), 1) <= element_at(col("eq"), 3)).as("med_ok"),
        (element_at(col("aq"), 2) >= element_at(col("eq"), 4) &&
          element_at(col("aq"), 2) <= element_at(col("eq"), 6)).as("p95_ok"))
      .orderBy("event_type")
  }

  /** q_salted_purchases: skew-safe two-phase aggregation — pre-aggregate on
    * (key, salt) then merge per key. Same exact result as a plain groupBy
    * (decimal partials commute), but a hot key's rows fan out over
    * `salts` reducers first: the 100-TB answer to power-law keys. The salt
    * is derived from event_id so it is deterministic, not random.
    */
  def saltedPurchaseTotals(spark: SparkSession, dir: String,
                           salts: Int = 16): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(salts.toLong)))
      .groupBy(col("user_id"), col("salt"))
      .agg(
        sum(money(col("value"))).as("part_sum"),
        count(lit(1)).as("part_n"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("part_sum")).cast("double").as("total_value"),
        sum(col("part_n")).as("n_purchases"))
      .orderBy("user_id")

  /** q14_promo_revenue: promotion revenue share for one month — broadcast
    * part join + conditional aggregation; the month filter pushes to the
    * lineitem scan so the join probes only ~1/80 of the fact table.
    */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("date") &&
        col("l_shipdate") < lit("1996-04-01").cast("date"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, dir).select("p_partkey", "p_type")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO",
          money(col("l_extendedprice")) * (one - rate(col("l_discount")))))
          .as("promo"),
        sum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .as("total"))
      .select(round(lit(100.0) * col("promo").cast("double")
        / col("total").cast("double"), 6).as("promo_revenue_pct"))
  }

  /** q19_bracket_revenue: disjunctive brand/size/quantity brackets — the
    * equi-key (partkey) still drives a broadcast hash join; the OR'd bracket
    * predicate evaluates as a post-join filter in the same codegen stage.
    */
  def bracketRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    val brackets =
      (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 35)) ||
      (col("p_brand") === "Brand#19" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 50))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(brackets)
      .agg(
        sum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** j1_json_extract: semi-structured extraction — pull the numeric field out
    * of the JSON `props` payload and roll it up per event type.
    * `get_json_object` is a codegen'd path evaluation (no UDF); the only
    * shuffle is the tiny keyed aggregate.
    */
  def jsonPropsRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        round(sum(col("k")).cast("double") / count(lit(1)), 4).as("avg_k"),
        count_distinct(col("k")).as("nd_k"))
      .select("event_type", "n_events", "sum_k", "avg_k", "nd_k")
      .orderBy("event_type")

  /** q_funnel: staged conversion funnel — users who signed up, then clicked
    * AFTER the signup, then purchased AFTER that click. Each stage anchors
    * on the previous stage's first qualifying timestamp (min-ts chaining),
    * computed as filtered aggregates over one per-user window pass plus two
    * keyed aggregates — no event-level self-join.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("t_signup"))
      .filter(col("t_signup").isNotNull)
    val clicks = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
      .join(perUser, "user_id")
      .filter(col("c_ts") > col("t_signup"))
      .groupBy(col("user_id"))
      .agg(first(col("t_signup")).as("t_signup"), min(col("c_ts")).as("t_click"))
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
      .join(clicks, "user_id")
      .filter(col("p_ts") > col("t_click"))
      .groupBy(col("user_id"))
      .agg(min(col("p_ts")).as("t_purchase"))
    perUser.select(lit("1_signup").as("stage"), col("user_id"))
      .union(clicks.select(lit("2_click_after_signup").as("stage"), col("user_id")))
      .union(purchases.select(lit("3_purchase_after_click").as("stage"), col("user_id")))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }

  /** q_running_total: per-user cumulative purchase spend over time — the
    * running-aggregate window pattern. Explicit ROWS frame + a unique
    * ordering key (ts, event_id) make the cumulative sum deterministic;
    * decimal partials keep it exact. One range exchange on user_id serves
    * the window and the output sort (`Telematics.rangedByUser`).
    */
  def runningTotals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Telematics.rangedByUser(Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value")))
      .withColumn("running_value", sum(money(col("value"))).over(w).cast("double"))
      .withColumn("running_n", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("running_value"), col("running_n"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** q_pivot_events: day x event-type matrix — `pivot` with an explicit
    * type list (explicit so the plan needs no distinct-scan and the output
    * schema is stable), counts per cell plus a decimal-exact purchase sum.
    */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .select(col("day") +: types.map(t => col(t).as(s"n_$t")): _*)
      .orderBy("day")
  }

  /** q_trend: per-type linear trend of value over time — the built-in
    * regression aggregates (partial-mergeable co-moments, one shuffle).
    * The regressor is HOURS SINCE A FIXED ANCHOR, not raw epoch seconds:
    * centering keeps the co-moment magnitudes small so the slope survives
    * partial aggregation with no cancellation error (raw epoch values
    * ~1.7e9 lose the slope's low digits to catastrophic cancellation).
    * Slope and r² are dimensionless/small, so round(4) is engine-stable.
    */
  def valueTrend(spark: SparkSession, dir: String): DataFrame = {
    val xHours = (unix_micros(col("ts")).cast("double") / 1e6 - 1704067200d) / 3600d
    Tables.events(spark, dir)
      .withColumn("x", xHours)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Doubles.roundZ(regr_slope(col("value"), col("x")), 4).as("slope_per_hour"),
        Doubles.roundZ(regr_r2(col("value"), col("x")), 4).as("r2"))
      .orderBy("event_type")
  }

  /** q_sketch_union: re-aggregatable distinct counting — the 100 TB
    * pattern behind every "daily uniques" dashboard: per-day HLL sketches
    * are precomputed ONCE (here: one shuffle to (type, day)), stored as
    * binary columns, and any rollup window is answered later by unioning
    * sketches — never rescanning raw data. The union is itself an
    * aggregate, so weekly/monthly/all-time rollups cost |days| sketch
    * merges each. The sketch estimate itself is implementation-defined, so
    * the published columns are engine-stable: day count, the EXACT distinct
    * count (the verification twin, computed in the same entry), and a
    * within-5 % verdict comparing the unioned-sketch estimate against it —
    * so the driver hash-checks that the union pipeline actually works
    * (default lgConfigK=12 → rsd ≈ 1.6 %, and the estimate is a
    * deterministic function of the data, so the verdict is stable).
    */
  def sketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val rolled = daily
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("nd_users"))
    rolled.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("nd_users"),
        (abs(col("est") - col("nd_users")) <=
          greatest(col("nd_users") * 0.05, lit(5.0))).as("union_ok"))
      .orderBy("event_type")
  }

  /** r1_value_brackets: genuine range (non-equi) join — every event lands in
    * the bracket whose [lo, hi) interval contains its value. The bracket
    * table is tiny by construction, so the right plan is a broadcast
    * nested-loop join: the fact table streams through codegen'd interval
    * predicates with NO shuffle before the rollup (the same shape as geo-IP
    * range lookup or histogram bucketing against a config table). A
    * shuffle-based range join would only be needed if BOTH sides were
    * unbounded — then the answer is interval bucketing + an equi-join on the
    * bucket (the t8 as-of pattern).
    */
  def valueBrackets(spark: SparkSession, dir: String,
                    width: Int = 25, nBrackets: Int = 20): DataFrame = {
    val brackets = spark.range(nBrackets.toLong)
      .select(col("id").as("bracket_id"),
        (col("id") * width).cast("double").as("lo"),
        ((col("id") + 1) * width).cast("double").as("hi"))
    Tables.events(spark, dir)
      .select(col("value"))
      .join(broadcast(brackets), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("bracket_id"), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("sum_value"))
      .orderBy("bracket_id")
  }

  /** q_top_users_window: rank users by total purchase value — window function
    * over an aggregate (rank is computed on the tiny post-agg relation, never
    * on the raw fact table).
    */
  def topUsers(spark: SparkSession, dir: String): DataFrame = {
    val totals = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        sum(money(col("value"))).cast("double").as("total_value"),
        count(lit(1)).as("n_purchases"))
    // top-k FIRST (orderBy+limit plans as TakeOrdered: per-partition
    // partial top-10, merge of 10-row heads — no global single-partition
    // sort), THEN the rank window over just those 10 rows. The ordering is
    // total (value desc, id), so the rank is deterministic.
    totals
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(10)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("total_value").desc, col("user_id")))
          .cast("long"))
      .select("rnk", "user_id", "total_value", "n_purchases")
      .orderBy("rnk")
  }

  /** q_winsorize: per-type robust statistics — p01/p99 percentiles, values
    * clamped to that band, winsorized mean plus clip counts (the standard
    * outlier-tamed KPI). Two passes over the fact: the percentile aggregate
    * reduces to |event_type| rows and broadcasts back, the clamp and
    * re-aggregate stay in one codegen'd stage.
    *
    * The cutoffs use Spark's exact `percentile`, which buffers every
    * group value on one reducer. Both engines interpolate exact
    * percentiles linearly, so rounded cutoffs match the DuckDB oracle
    * exactly.
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    def pct(p: Double) = percentile(col("value"), lit(p))
    val cuts = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(pct(0.01).as("p01"), pct(0.99).as("p99"))
      .withColumnRenamed("event_type", "et")
    Tables.events(spark, dir)
      .select("event_type", "value")
      .join(broadcast(cuts), col("event_type") === col("et"))
      .select(col("event_type"),
        least(greatest(col("value"), col("p01")), col("p99")).as("w"),
        (col("value") < col("p01")).as("lo"), (col("value") > col("p99")).as("hi"),
        col("p01"), col("p99"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Doubles.roundZ(avg(col("w")), 4).as("winsorized_mean"),
        sum(when(col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("hi"), 1L).otherwise(0L)).as("n_clipped_high"),
        Doubles.roundZ(min(col("p01")), 4).as("p01"),
        Doubles.roundZ(min(col("p99")), 4).as("p99"))
      .orderBy("event_type")
  }

  /** q_window_nav: the remaining window-navigation family in one pass —
    * percent_rank and cume_dist of each purchase within its user's history
    * (relative-standing functions), and the user's second-ever purchase via
    * nth_value over the full frame (absolute-position function). One window
    * shuffle keyed on user_id; both orderings share the partition, so
    * Catalyst plans a single Window operator chain, and every ordering
    * carries event_id so ties cannot reorder between engines.
    */
  def windowNav(spark: SparkSession, dir: String): DataFrame = {
    val byValue = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"),
        round(percent_rank().over(byValue), 6).as("value_pct_rank"),
        round(cume_dist().over(byValue), 6).as("value_cume_dist"),
        nth_value(col("value"), 2).over(byTime).as("second_purchase"))
      .orderBy("user_id", "event_id")
  }

  /** q_cohort_retention: weekly retention triangle — users grouped by their
    * first-purchase week (cohort), counted per week-offset they were active
    * again. The cohort map aggregates the fact to |users| rows FIRST, then
    * rides the activity shuffle keyed on user_id; the triangle itself is a
    * second, tiny aggregate. No self-join of the raw fact, no window over
    * the full table — the same two-aggregate shape survives any corpus size.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
    val cohorts = purchases
      .groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      .withColumnRenamed("user_id", "uid")
    purchases
      .join(cohorts, col("user_id") === col("uid"))
      .groupBy(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q_topk_agg: per-type top-k rows via the custom mergeable `Aggregator`
    * (graft.functions.TopKAggregator) — the programmable top-k path. The
    * buffer IS the top-k list, so every partition contributes at most k
    * rows per group to the shuffle (map-side combine), where the window
    * form would shuffle the whole fact before rank-filtering (Spark's
    * WindowGroupLimit recovers some of that; the Aggregator guarantees it,
    * and generalizes to orderings a window can't express).
    */
  def topKPerType(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val topk = udaf(graft.functions.TopKAggregator.topK(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rnk"),
        col("col._1").as("value"), col("col._2").as("event_id"))
      .orderBy("event_type", "rnk")
  }
}
