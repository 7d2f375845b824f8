package graft

import org.apache.spark.sql.functions._

/** Bucketing: the co-located-join strategy for repeated large joins. Two
  * tables bucketed on the join key join with ZERO shuffle exchanges — at
  * 100 TB this converts every recurring fact⋈fact join from a full network
  * shuffle into local merges.
  */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables plans without a shuffle exchange") {
    import spark.implicits._
    (1L to 1000L).map(i => (i, s"left_$i")).toDF("k", "lv")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_left")
    (1L to 1000L).map(i => (i, i * 2)).toDF("k", "rv")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_right")

    // force a non-broadcast join so the shuffle-elision is what's tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle, got:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("multi-column bucketing: join on the full bucket key elides the shuffle, partial key does not") {
    import spark.implicits._
    // composite key (tenant, day) — the layout for recurring
    // per-tenant-per-day fact joins at fleet scale
    (for (t <- 1L to 20L; d <- 1L to 50L) yield (t, d, t * 1000 + d))
      .toDF("tenant", "day", "lv")
      .write.mode("overwrite").bucketBy(8, "tenant", "day")
      .sortBy("tenant", "day").saveAsTable("bkt2_left")
    (for (t <- 1L to 20L; d <- 1L to 50L) yield (t, d, t + d))
      .toDF("tenant", "day", "rv")
      .write.mode("overwrite").bucketBy(8, "tenant", "day")
      .sortBy("tenant", "day").saveAsTable("bkt2_right")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val full = spark.table("bkt2_left")
        .join(spark.table("bkt2_right"), Seq("tenant", "day"))
      val fullPlan = full.queryExecution.executedPlan.toString
      assert(fullPlan.contains("SortMergeJoin"), s"expected SMJ, got:\n$fullPlan")
      assert(!fullPlan.contains("Exchange hashpartitioning"),
        s"full-key join of co-bucketed tables must not shuffle, got:\n$fullPlan")
      assert(full.count() == 1000)

      // joining on `tenant` alone cannot reuse hash(tenant, day) buckets:
      // the plan MUST re-shuffle — proving the layout/key contract, not a
      // planner accident
      val partial = spark.table("bkt2_left").select("tenant", "lv")
        .join(spark.table("bkt2_right").select("tenant", "rv"), Seq("tenant"))
      val partialPlan = partial.queryExecution.executedPlan.toString
      assert(partialPlan.contains("Exchange hashpartitioning"),
        s"partial-key join must shuffle (bucket key is composite), got:\n$partialPlan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
