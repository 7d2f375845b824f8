package graft

import org.apache.spark.sql.SaveMode

import graft.operators.Dedup

/** Plan-SHAPE regression gate for the memo-backed d4→(d6,d7,g1) family:
  * asserts, via tree-walked PlanCounts (which stops at InMemoryTableScan
  * leaves, the way the runtime does), that each family member's executed
  * plan reads the shared memo instead of re-running the similarity-join
  * chain, and that its own exchange count stays at the designed handful.
  * If someone drops the CacheRegistry memoization — or a Spark upgrade
  * stops collapsing the shared frame — these ceilings fail a unit test
  * instead of a fleet bill.
  */
class PlanShapeSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tempSfDir()
    rows.map { case (id, text, source) => (id, text, "en", source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  test("g1/d6/d7 runtime plans read the shared d4 memo; exchanges stay bounded") {
    // three near-dup docs (a chain) + one outlier: enough for real pairs,
    // groups and triangles to flow through every branch of the plans
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wa"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wb"
    val c = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wc"
    val dir = writeDocs(Seq(
      (1L, a, "s0"), (2L, b, "s0"), (3L, c, "s0"),
      (4L, "totally different words entirely", "s0")))
    try {
      // d4 builds the shared scored-pair memo (the expensive chain)
      assert(Dedup.ngramJaccard(spark, dir).count() == 3L)

      // d6: the converged label frame IS the memo — its runtime plan is one
      // cached read, zero exchanges (the iteration's shuffles happened once,
      // in the build).
      val d6 = staticCounts(Dedup.dedupGroups(spark, dir))
      assert(d6.cachedReads == 1, s"d6 must read the memo frame, got $d6")
      assert(d6.exchanges == 0, s"d6 runtime plan must be a pure memo read, got $d6")

      // d7: memo read + the keep projection + one output sort.
      val d7 = staticCounts(Dedup.keepList(spark, dir))
      assert(d7.cachedReads >= 1, s"d7 must read the d6 memo, got $d7")
      assert(d7.shuffles <= 2, s"d7 is a projection over the memo, got $d7")

      // g1: wedge join (2) + closing semi-join (2) + count agg (1) + output
      // sort (1) over the CACHED oriented edge list — the d4 chain and the
      // degree orientation must not be re-planned inline.
      val g1 = staticCounts(Dedup.triangleCounts(spark, dir))
      assert(g1.cachedReads >= 2,
        s"g1 must read the cached oriented edge list in every branch, got $g1")
      assert(g1.shuffles <= 8,
        s"g1 should shuffle only for wedge join, semi-join, agg and sort, got $g1")
      assert(g1.exchanges <= 10, s"g1 exchange total regressed, got $g1")
    } finally CacheRegistry.releaseShared()
  }

  test("x36's rank window partitions on (source, bucket), never on the source alone") {
    // the scale guard: per-doc ranking must sort within (source, bucket)
    // sub-partitions — a Window partitioned on source alone is the
    // corpus-sized single-sort this operator exists to avoid, and a
    // refactor reintroducing it would still pass every VALUE check
    // (bucket-major composition is provably equivalent)
    val dir = writeDocs((1L to 300L).map(i => (i, s"doc $i", "only_source")))
    val plan = withStaticPlan(
      graft.operators.Curation.splitAssign(spark, dir)
        .queryExecution.executedPlan.toString)
    val rowNumberWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("row_number()")).toSeq
    assert(rowNumberWindows.nonEmpty, s"expected a row_number window:\n$plan")
    rowNumberWindows.foreach { w =>
      assert(w.contains("bucket"),
        s"the per-doc rank window must partition on (source, bucket): $w")
    }
  }

  test("drift2's per-value cumsum windows partition on (type, bucket), never the type alone") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // same scale guard as x36's: the CDF walk over the distinct-value
    // support must sort within (event_type, bucket) sub-partitions — a
    // window on event_type alone re-creates the type-wide single sort
    // the two-phase form exists to avoid, while passing every value check
    val dir = tempSfDir()
    (1 to 50).map(i => (i.toLong,
        java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), 1L, "A",
        i * 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    val plan = withStaticPlan(
      graft.operators.DataOps.ksDrift(spark, dir)
        .queryExecution.executedPlan.toString)
    // the corpus-proportional windows are the ones ordered by the raw
    // value; the bucket-subtotal offset windows (ordered by bucket) are
    // bounded and may partition on the type alone
    val valueWindows = plan.linesIterator
      .filter(l => l.contains("windowspecdefinition(") &&
        l.contains("value") && l.contains("ASC NULLS FIRST")).toSeq
    assert(valueWindows.nonEmpty, s"expected per-value cumsum windows:\n$plan")
    valueWindows.foreach { w =>
      assert(w.contains("bucket"),
        s"per-value cumsum must partition on (event_type, bucket): $w")
    }
  }

  test("cls5's rank cumsum partitions on the score bucket, never globally") {
    import spark.implicits._
    val scored = (1 to 200).map(i => (i * 4999L, i % 3 == 0))
      .toDF("prob_micros", "label_high")
    val plan = withStaticPlan(
      graft.operators.Curation.aucOf(scored)
        .queryExecution.executedPlan.toString)
    val cumWindows = plan.linesIterator
      .filter(l => l.contains("windowspecdefinition(") && l.contains("p6")).toSeq
    assert(cumWindows.nonEmpty, s"expected the negatives-below window:\n$plan")
    cumWindows.foreach { w =>
      assert(w.contains("bucket"),
        s"the per-score cumsum must partition on the decile bucket: $w")
    }
  }

  test("d1 plans exactly one global output sort") {
    import org.apache.spark.sql.execution.SortExec
    val dir = writeDocs(Seq(
      (1L, "alpha beta", "s0"), (2L, "alpha beta", "s0"),
      (3L, "gamma delta", "s0"), (4L, "epsilon zeta", "s0")))
    // AQE-off like staticCounts: pre-execution, AdaptiveSparkPlanExec hides
    // its children from collect, so introspect the static physical plan
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val globalSorts =
      try Dedup.exactDedup(spark, dir).queryExecution.executedPlan.collect {
        case s: SortExec if s.global => s
      }.size
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    assert(globalSorts == 1, "d1 must keep the deterministic output sort")
  }
}
