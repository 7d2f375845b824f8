package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-ops utilities a 100 TB lakehouse needs around the analytics
  * themselves: one-pass table profiling (the validation/expectations
  * input) and snapshot change capture (the incremental-ingest primitive).
  */
object DataOps {

  /** v1: one-pass column profile of the fact table — null counts, distinct
    * counts, numeric min/max — the raw material for data-quality
    * expectations (deequ-style checks are assertions over exactly these
    * numbers). Everything is computed in a SINGLE aggregate over one scan:
    * all metrics are partial-mergeable, so the plan is scan → partial agg →
    * 1-row merge, and the per-column unpivot happens on that one row.
    * The distinct counts here are exact, which costs a ×4 Expand at the
    * scan site (3 distinct groups + 1 plain) — pure map-side CPU; the two
    * exchanges carry only aggregate state keyed by the low-cardinality
    * distinct values. For unbounded-cardinality columns the same frame
    * takes `approx_count_distinct` — the q8_approx_stats sketch path —
    * which drops the Expand entirely.
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_quantity").isNull.cast("long")).as("nn_qty"),
      countDistinct(col("l_quantity")).as("nd_qty"),
      min(col("l_quantity").cast("double")).as("mn_qty"),
      max(col("l_quantity").cast("double")).as("mx_qty"),
      sum(col("l_discount").isNull.cast("long")).as("nn_disc"),
      countDistinct(col("l_discount")).as("nd_disc"),
      min(col("l_discount").cast("double")).as("mn_disc"),
      max(col("l_discount").cast("double")).as("mx_disc"),
      sum(col("l_returnflag").isNull.cast("long")).as("nn_rf"),
      countDistinct(col("l_returnflag")).as("nd_rf"))
    agg.select(col("n_rows"), expr(
      """stack(3,
        |'l_quantity',   nn_qty,  nd_qty,  mn_qty,  mx_qty,
        |'l_discount',   nn_disc, nd_disc, mn_disc, mx_disc,
        |'l_returnflag', nn_rf,   nd_rf,   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))
        |AS (column_name, n_nulls, n_distinct, min_val, max_val)""".stripMargin))
      .select("column_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")
      .orderBy("column_name")
  }

  /** v2: referential-integrity audit — orphan counts for every foreign-key
    * relationship in the star schema (fact keys with no matching dim row),
    * the join-safety precondition v1's column profile doesn't see. Each
    * relationship is one LEFT ANTI join on its key — the same shuffle the
    * real join would do, so the audit costs what one pass of the pipeline
    * costs and parallelizes identically. Emitting zero counts is the
    * point: the audit row IS the evidence.
    */
  def integrityCheck(spark: SparkSession, dir: String): DataFrame = {
    def rel(name: String, child: DataFrame, childKey: String,
            parent: DataFrame, parentKey: String): DataFrame = {
      val orphans = child.select(col(childKey))
        .join(parent.select(col(parentKey).as(childKey)), Seq(childKey), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("relationship"), col("n_child"), col("n_orphans"))
    }
    rel("lineitem->orders", Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionAll(rel("lineitem->part", Tables.lineitem(spark, dir), "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionAll(rel("lineitem->supplier", Tables.lineitem(spark, dir), "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionAll(rel("orders->customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .orderBy("relationship")
  }

  /** v3: data-quality EXPECTATIONS — deequ-style rule verdicts over the
    * fact table, the assertion layer on top of v1's raw profile. Every
    * metric a rule reads comes from ONE partial-mergeable aggregate over
    * one scan (the v1 plan); the rules themselves are arithmetic on that
    * 1-row frame, unpivoted to a verdict row per rule. This is the shape
    * a 100 TB expectation suite must have: adding a rule adds a column to
    * the aggregate (map-side CPU), never a pass over the data. The rule
    * set here pins the generator's invariants (quantity 1..50, discount
    * 0..0.1, three return flags, no nulls) — the checks a pipeline runs
    * before trusting a new snapshot.
    */
  def expectationCheck(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_quantity").isNull.cast("long")).as("nn_qty"),
      min(col("l_quantity").cast("double")).as("mn_qty"),
      max(col("l_quantity").cast("double")).as("mx_qty"),
      min(col("l_discount").cast("double")).as("mn_disc"),
      max(col("l_discount").cast("double")).as("mx_disc"),
      countDistinct(col("l_returnflag")).as("nd_rf"))
    agg.select(col("n_rows"), expr(
      """stack(7,
        |'l_quantity completeness = 1',
        |  1.0 - CAST(nn_qty AS DOUBLE) / n_rows, nn_qty = 0,
        |'l_quantity min >= 1',    mn_qty,  mn_qty >= 1.0,
        |'l_quantity max <= 50',   mx_qty,  mx_qty <= 50.0,
        |'l_discount min >= 0',    mn_disc, mn_disc >= 0.0,
        |'l_discount max <= 0.1',  mx_disc, mx_disc <= 0.1,
        |'l_returnflag distinct <= 3', CAST(nd_rf AS DOUBLE), nd_rf <= 3,
        |'table non-empty',        CAST(n_rows AS DOUBLE), n_rows > 0)
        |AS (rule, metric, passed)""".stripMargin))
      .select("rule", "metric", "passed", "n_rows")
      .orderBy("rule")
  }

  /** v4: robust OUTLIER audit — the anomaly companion to v1's profile and
    * v3's expectations: per event type, the median and the MAD (median
    * absolute deviation — the robust spread a monitoring pipeline trusts
    * where mean/stddev are themselves dragged by the outliers being
    * hunted), and the count/rate of values beyond `k`·MAD of the median
    * (k = 3, the classic robust z-score cut). A type where >50% of values
    * are identical has MAD 0 and every deviating value flags — the
    * degenerate case is the correct verdict, not an error.
    *
    * Exactness: median/MAD via exact interpolated `percentile`, the same
    * cross-engine-proven convention as q_winsorize's p01/p99
    * (quantile_cont in the oracle); the outlier test compares the
    * UNROUNDED doubles identically in both engines, published med/mad are
    * round-4 (roundZ normalizes −0.0 like the winsorize columns); the
    * rate is the exact truncating micro-unit division. Scale shape: two
    * percentile aggregates (types-sized output) + two types-sized
    * broadcast joins; like q_winsorize, the exact percentile buffers
    * per-group values.
    */
  def outlierAudit(spark: SparkSession, dir: String, k: Double = 3.0): DataFrame = {
    def pct(c: org.apache.spark.sql.Column) = percentile(c, lit(0.5))
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull) // the drift-family null rule
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(pct(col("value")).as("med"))
      .withColumnRenamed("event_type", "et")
    // dev feeds BOTH the MAD aggregate and the final aggregate — without
    // a tracked persist its lineage (including the events scan) executes
    // twice; at 100 TB that is one avoidable corpus scan.
    val dev = graft.CacheRegistry.persistTracked(
      ev.join(broadcast(med), col("event_type") === col("et"))
        .select(col("event_type"), col("med"),
          abs(col("value") - col("med")).as("adev")))
    val madf = dev.groupBy(col("event_type"))
      .agg(pct(col("adev")).as("mad"))
      .withColumnRenamed("event_type", "et2")
    dev.join(broadcast(madf), col("event_type") === col("et2"))
      .select(col("event_type"), col("med"), col("mad"),
        (col("adev") > lit(k) * col("mad")).as("is_out"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Doubles.roundZ(min(col("med")), 4).as("median"),
        graft.functions.Doubles.roundZ(min(col("mad")), 4).as("mad"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_micros", expr("(n_outliers * 1000000) div n"))
      .select("event_type", "n", "median", "mad", "n_outliers",
        "outlier_micros")
      .orderBy("event_type")
  }

  /** cdc2: SCD type-2 history build — turn per-period keyed states into
    * validity intervals (valid_from / valid_to / is_current), the
    * slowly-changing-dimension table every warehouse keeps next to the
    * live dimension. States here are per-(customer, order year) spend
    * aggregates; the interval assembly is ONE window pass keyed on the
    * customer (lead(year) closes each row's validity; null lead = the
    * current row). Plan: the aggregate hashes on (customer, period) and
    * the window re-exchanges on the customer alone — two exchanges over
    * the same key domain, both proportional to the state count, never the
    * order count past the partial aggregate. At 100 TB the orders table
    * would be bucketed by customer, which removes both exchanges and
    * leaves the period as the sort key inside each bucket.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("valid_from")
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("valid_from"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      // exact decimal sum, published as one deterministic double cast
      // (the cdc1 convention)
      .select(col("o_custkey"), col("valid_from"), col("valid_to"),
        col("is_current"), col("n_orders"), col("spend").cast("double").as("spend"))
      .orderBy("o_custkey", "valid_from")
  }

  /** cdc3: batch MERGE upsert audit — apply a delta batch (orders ON/after
    * `cutoff`) onto the standing SCD2 dimension (orders BEFORE `cutoff`)
    * through the SAME MERGE kernel the streaming apply runs
    * (`StreamOps.scd2Merge`: delta aggregation, upsert with
    * re-aggregation confined to affected keys, untouched keys through an
    * anti-join), then publish the merged history decorated with the
    * per-row MERGE ACTION a warehouse MERGE reports: `insert` (the
    * (customer, period) key did not exist before), `update` (it existed
    * and its values OR its validity interval changed — a new later period
    * closes the previously-current row without touching its aggregates),
    * `unchanged` (passed through). Completes the CDC family's symmetry:
    * cdc1 diffs snapshots, cdc2 builds the history, cdc3 APPLIES a delta
    * onto it. Spend accumulates in decimal (exact under any batch split,
    * the cdc2 convention) and publishes as double.
    *
    * Plan: two keyed aggregates over the orders scan (pre-state + delta),
    * the merge kernel's anti-join/union/re-aggregate on the same customer
    * key domain, one chaining window, and a (customer, period)-keyed left
    * join back to the chained pre-state for the action classification —
    * every exchange is on the customer key, sized by the state count, and
    * at fleet scale a transactional table format runs the identical
    * kernel with file-skipping for the untouched keys (the
    * `compactShards`/MERGE posture).
    */
  def mergeUpsert(spark: SparkSession, dir: String,
                  cutoff: String = "1997-01-01"): DataFrame = {
    import graft.streaming.StreamOps
    val orders = Tables.orders(spark, dir)
    val cut = lit(cutoff).cast("timestamp")
    // pre feeds the merge's anti/inner joins AND the audit chain, all
    // keyed on o_custkey — persist it REPARTITIONED on that key, so the
    // standing-state side never re-shuffles per consumer (guide §2.4: the
    // anti join, the inner join and the scd2Chain window all reuse this
    // one custkey partitioning; before, each needed its own exchange of
    // the snapshot once past the broadcast threshold).
    val pre = graft.CacheRegistry.persistTracked(
      StreamOps.scd2BatchDeltas(orders.filter(col("o_orderdate") < cut))
        .repartition(col("o_custkey")))
    val delta = StreamOps.scd2BatchDeltas(orders.filter(col("o_orderdate") >= cut))
    val merged = StreamOps.scd2Chain(StreamOps.scd2Merge(pre, delta))
    val old = StreamOps.scd2Chain(pre)
      .select(col("o_custkey"), col("valid_from"),
        col("valid_to").as("p_valid_to"), col("n_orders").as("p_n_orders"),
        col("spend").as("p_spend"))
    merged.join(old, Seq("o_custkey", "valid_from"), "left")
      .withColumn("action",
        when(col("p_n_orders").isNull, "insert")
          .when(col("n_orders") =!= col("p_n_orders") ||
            col("spend") =!= col("p_spend") ||
            !(col("valid_to") <=> col("p_valid_to")), "update")
          .otherwise("unchanged"))
      .select("o_custkey", "valid_from", "valid_to", "is_current",
        "n_orders", "spend", "action")
      .orderBy("o_custkey", "valid_from")
  }

  /** drift1: distribution-drift detection — Population Stability Index of
    * the `value` distribution per event type between two time windows (the
    * monitoring check a pipeline runs before trusting a new ingest: PSI
    * < 0.1 stable, > 0.2 investigate). Values bin into `bins` equal-width
    * buckets (top bucket open), counts Laplace-smoothed so empty bins are
    * defined, PSI = Σ (p−q)·ln(p/q). The grid is materialized for ALL
    * bins (a bin missing from both windows still contributes its smoothed
    * term), so the oracle and any engine agree on the bin set. One scan →
    * one (type, bin) aggregate → types-sized broadcast of window totals →
    * a bins-sized per-type rollup: adding event types or bins never adds
    * a pass. Per-bin terms round-9 then sum as exact decimals — the i2
    * discipline that makes the final PSI aggregation-order independent.
    */
  def psiDrift(spark: SparkSession, dir: String,
               cutoff: String = "2024-01-16", bins: Int = 10,
               binWidth: Double = 50.0): DataFrame = {
    // clamp BOTH ends: an out-of-range value (negative or above the top
    // bin) must land in an edge bin, not vanish from the materialized grid
    // while still counting toward the window totals
    // null values are EXCLUDED from every drift view — mass and totals
    // alike (least/greatest skip nulls, so an unfiltered null would
    // silently clamp into the top bin); the streaming monitors apply the
    // same rule, keeping stream and batch equal by construction
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
      .select(col("event_type"),
      (col("ts") < lit(cutoff).cast("timestamp")).as("is_old"),
      greatest(lit(0L), least(floor(col("value") / binWidth), lit(bins - 1)))
        .cast("int").as("bin"))
    val c = ev.groupBy(col("event_type"), col("bin")).agg(
      sum(when(col("is_old"), 1L).otherwise(0L)).as("c_old"),
      sum(when(!col("is_old"), 1L).otherwise(0L)).as("c_new"))
    val tot = c.groupBy(col("event_type")).agg(
      sum(col("c_old")).as("n_old"), sum(col("c_new")).as("n_new"))
    val grid = tot
      .withColumn("bin", explode(sequence(lit(0), lit(bins - 1))))
      .join(c, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"), col("n_old"), col("n_new"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
    val p = (col("c_old") + 1).cast("double") / (col("n_old") + bins)
    val q = (col("c_new") + 1).cast("double") / (col("n_new") + bins)
    grid
      .withColumn("term", graft.functions.Doubles.roundZ((p - q) * log(p / q), 9))
      .groupBy(col("event_type"))
      .agg(
        first(col("n_old")).as("n_old"), first(col("n_new")).as("n_new"),
        graft.functions.Doubles.roundZ(
          sum(col("term").cast("decimal(28,9)")).cast("double"), 6).as("psi"))
      .withColumn("drifted", col("psi") > 0.2)
      .select("event_type", "n_old", "n_new", "psi", "drifted")
      .orderBy("event_type")
  }

  /** drift2: two-sample Kolmogorov–Smirnov drift test — the
    * distribution-shape companion to drift1's binned PSI: per event type,
    * D = max over the pooled support of |F_old(v) − F_new(v)| between the
    * pre-cutoff and post-cutoff empirical CDFs. KS sees what PSI's 10
    * fixed bins can blur (a shift smaller than a bin, a tail swap), and
    * it is the classic paging check a feature pipeline runs on raw
    * numeric columns.
    *
    * Exactness: the statistic never leaves the integers until the last
    * step — D's numerator is max |f_old·n_new − f_new·n_old| over exact
    * cumulative counts (cross-multiplied CDFs, the c2/x36 convention —
    * no per-row float division to accumulate error), published as
    * `ks_num`, and the final `ks` is ONE double division rounded to 6
    * (identical IEEE operation on both engines); the verdict compares
    * the rounded value. Products are bounded by n_old·n_new — longs are
    * ample here; at true fleet row counts (n > 3B) the cross-multiply
    * moves to decimal, same plan.
    *
    * Scale shape: one keyed aggregate onto the distinct (type, value)
    * support, then the x31/x36 two-phase cumulative form — per-(type,
    * value-bucket) subtotals, a tiny broadcast offset frame, cumsum
    * windows partitioned by (type, bucket) so no single sort swallows a
    * type's whole support (bucket = floor(value/width) is monotone in
    * value, so composed ranks are provably the global CDF). The oracle
    * runs the NAIVE one-window-per-type form; the hash check certifies
    * the equivalence. A type with an empty window (all its events one
    * side of the cutoff) has no defined two-sample statistic: `ks` is
    * NULL and `drifted` is true — drift3's degenerate-window convention.
    */
  def ksDrift(spark: SparkSession, dir: String,
              cutoff: String = "2024-01-16", threshold: Double = 0.05,
              bucketWidth: Double = 50.0): DataFrame = {
    val c = Tables.events(spark, dir)
      .filter(col("value").isNotNull) // psiDrift's null-exclusion rule
      .select(col("event_type"), col("value"),
        (col("ts") < lit(cutoff).cast("timestamp")).as("is_old"))
      .groupBy(col("event_type"), col("value"))
      .agg(
        sum(when(col("is_old"), 1L).otherwise(0L)).as("c_old"),
        sum(when(!col("is_old"), 1L).otherwise(0L)).as("c_new"))
      .withColumn("bucket", floor(col("value") / bucketWidth).cast("long"))
    val offs = c.groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("c_old")).as("b_old"), sum(col("c_new")).as("b_new"))
      .withColumn("o_old", coalesce(
        sum(col("b_old")).over(Window.partitionBy("event_type").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("o_new", coalesce(
        sum(col("b_new")).over(Window.partitionBy("event_type").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_old", sum(col("b_old")).over(Window.partitionBy("event_type")))
      .withColumn("n_new", sum(col("b_new")).over(Window.partitionBy("event_type")))
      .select("event_type", "bucket", "o_old", "o_new", "n_old", "n_new")
    val cum = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, 0)
    c.join(broadcast(offs), Seq("event_type", "bucket"))
      .withColumn("f_old", col("o_old") + sum(col("c_old")).over(cum))
      .withColumn("f_new", col("o_new") + sum(col("c_new")).over(cum))
      .withColumn("gap",
        abs(col("f_old") * col("n_new") - col("f_new") * col("n_old")))
      .groupBy(col("event_type"))
      .agg(
        max(col("n_old")).as("n_old"), max(col("n_new")).as("n_new"),
        max(col("gap")).as("ks_num"))
      // degenerate window (drift3's convention): a type whose events all
      // fall one side of the cutoff has no defined two-sample statistic —
      // ks is NULL (not 0/0 = NaN) and drifted is true, since a type that
      // appeared or vanished outright is definitionally drifted
      .withColumn("ks", when(col("n_old") > 0 && col("n_new") > 0,
        graft.functions.Doubles.roundZ(
          col("ks_num").cast("double") /
            (col("n_old") * col("n_new")).cast("double"), 6)))
      .withColumn("drifted",
        when(col("n_old") === 0 || col("n_new") === 0, lit(true))
          .otherwise(col("ks") > threshold))
      .select("event_type", "n_old", "n_new", "ks_num", "ks", "drifted")
      .orderBy("event_type")
  }

  /** Upper-tail χ² critical values at α = 0.05 for dof 1..9 — all the
    * dof a `bins = 10` grid can produce. A literal lookup keeps the
    * verdict deterministic and engine-portable (no incomplete-gamma
    * evaluation to disagree about).
    */
  private[graft] val Chi2Crit05: Seq[Double] =
    Seq(3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507, 16.919)

  /** drift3: two-sample chi-squared drift test — the SIGNIFICANCE-tested
    * member of the monitoring triad (drift1's PSI is an effect-size
    * heuristic with a rule-of-thumb 0.2 cutoff; drift2's KS is
    * shape-sensitive but its small-sample critical values are not
    * encoded; this one pages on a proper α = 0.05 test). Per event type,
    * over the same clamped 10-bin value grid as drift1:
    * χ² = Σ_b (o_b·N_new − n_b·N_old)² / (N_old·N_new·(o_b+n_b)) — the
    * standard two-sample homogeneity statistic — with dof = (non-empty
    * bins − 1), compared to the literal critical-value table.
    *
    * Exactness: the per-bin cross term o_b·N_new − n_b·N_old is an exact
    * long; its square and the denominator exceed long range, so each
    * term is ONE double expression (identical IEEE operation order in
    * both engines) rounded to 9, and terms are exact-decimal summed
    * (the drift1/i2 order-independence discipline) before the final
    * round to 6. A type with an empty window (all its events one side
    * of the cutoff) has no defined test: χ² is NULL and `drifted` is
    * true — a type that appeared or vanished outright is definitionally
    * drifted, the psiDriftStream unknown-reference convention. dof = 0
    * (one occupied bin) can never reject: both windows put everything
    * in the same bin, χ² = 0.
    *
    * Scale shape: drift1's exactly — one scan, one (type, bin) partial
    * aggregate, one types-sized aggregate. Nothing beyond the partial
    * agg is data-proportional.
    */
  def chi2Drift(spark: SparkSession, dir: String,
                cutoff: String = "2024-01-16", bins: Int = 10,
                binWidth: Double = 50.0): DataFrame = {
    require(bins >= 2 && bins <= Chi2Crit05.length + 1,
      s"bins must be in [2, ${Chi2Crit05.length + 1}] for the dof table; got $bins")
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
      .select(col("event_type"), // psiDrift's null-exclusion rule
      (col("ts") < lit(cutoff).cast("timestamp")).as("is_old"),
      greatest(lit(0L), least(floor(col("value") / binWidth), lit(bins - 1)))
        .cast("int").as("bin"))
    val c = ev.groupBy(col("event_type"), col("bin")).agg(
      sum(when(col("is_old"), 1L).otherwise(0L)).as("c_old"),
      sum(when(!col("is_old"), 1L).otherwise(0L)).as("c_new"))
    val tot = c.groupBy(col("event_type")).agg(
      sum(col("c_old")).as("n_old"), sum(col("c_new")).as("n_new"))
    val cross = col("c_old") * col("n_new") - col("c_new") * col("n_old")
    val term = graft.functions.Doubles.roundZ(
      cross.cast("double") * cross.cast("double") /
        (col("n_old").cast("double") * col("n_new").cast("double") *
          (col("c_old") + col("c_new")).cast("double")), 9)
    c.join(broadcast(tot), "event_type")
      .withColumn("term",
        when(col("n_old") > 0 && col("n_new") > 0, term))
      .groupBy(col("event_type"))
      .agg(
        first(col("n_old")).as("n_old"), first(col("n_new")).as("n_new"),
        count(lit(1)).cast("int").as("n_bins"),
        graft.functions.Doubles.roundZ(
          sum(col("term").cast("decimal(28,9)")).cast("double"), 6).as("chi2"))
      .withColumn("dof", (col("n_bins") - 1).cast("int"))
      .withColumn("drifted",
        when(col("n_old") === 0 || col("n_new") === 0, lit(true))
          // dof = 0 must not reach element_at (ANSI rejects index 0,
          // and && does not promise short-circuit evaluation)
          .when(col("dof") >= 1,
            col("chi2") > element_at(array(Chi2Crit05.map(lit): _*), col("dof")))
          .otherwise(lit(false)))
      .withColumn("chi2",
        when(col("n_old") > 0 && col("n_new") > 0, col("chi2")))
      .select("event_type", "n_old", "n_new", "n_bins", "dof", "chi2", "drifted")
      .orderBy("event_type")
  }

  /** cdc1: snapshot change capture — diff two keyed snapshots of derived
    * customer state (spend/order-count as of two cutoff dates) and emit
    * only inserts and updates, the merge input every incremental pipeline
    * feeds downstream. The classic CDC-without-a-changelog pattern: full
    * outer join on the key, row-compare to classify. Each snapshot is one
    * keyed aggregate; the join shuffles both sides on the same customer
    * key, so AQE plans a co-partitioned join with no extra exchange. At
    * 100 TB the compare column set is wide, so production folds it into a
    * single row-hash first — same plan, one column.
    */
  def snapshotDiff(spark: SparkSession, dir: String,
                   oldCutoff: String = "1997-01-01",
                   newCutoff: String = "1999-01-01"): DataFrame = {
    def snap(cutoff: String): DataFrame =
      Tables.orders(spark, dir)
        .filter(col("o_orderdate") < lit(cutoff).cast("date"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    snap(newCutoff).as("n")
      .join(snap(oldCutoff).as("o"), Seq("o_custkey"), "full_outer")
      .withColumn("change_type",
        when(col("o.n_orders").isNull, lit("insert"))
          .when(col("n.n_orders") =!= col("o.n_orders") ||
            col("n.spend") =!= col("o.spend"), lit("update"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .select(col("o_custkey"), col("change_type"),
        col("n.n_orders").as("n_orders"),
        col("n.spend").cast("double").as("spend"),
        coalesce(col("o.n_orders"), lit(0L)).as("prev_orders"))
      .orderBy("o_custkey")
  }
}
