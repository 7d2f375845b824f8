package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ScalingCurve

/** ScalingCurve's argument parsing and its query set: a typo'd name or a
  * missing slice is refused before any session is built, and every
  * registry key is timed, with only the scale-provisioned overrides local.
  */
class ScalingCurveSpec extends AnyFunSuite {

  test("parses iters, m:dir slices in order and query names") {
    val got = ScalingCurve.parseArgs(Seq("3", "1:/data/sf0.1", "10:/tmp/sfx10",
      "q1_pricing_summary", "s7_mmr_pool500"))
    assert(got == Right(ScalingCurve.Args(3,
      Seq(1 -> "/data/sf0.1", 10 -> "/tmp/sfx10"),
      Set("q1_pricing_summary", "s7_mmr_pool500"))))
  }

  test("refuses an unknown query name, naming it") {
    val got = ScalingCurve.parseArgs(Seq("1", "1:/data/sf0.01", "q1_pricing_sumary"))
    assert(got.isLeft)
    assert(got.swap.toOption.get.contains("q1_pricing_sumary"))
  }

  test("refuses a run with no slice, a bad iteration count or a bad m") {
    assert(ScalingCurve.parseArgs(Seq("3")).isLeft)
    assert(ScalingCurve.parseArgs(Seq("3", "q1_pricing_summary")).isLeft)
    assert(ScalingCurve.parseArgs(Nil).isLeft)
    assert(ScalingCurve.parseArgs(Seq("1:/data/sf0.01")).isLeft)
    assert(ScalingCurve.parseArgs(Seq("0", "1:/data/sf0.01")).isLeft)
    assert(ScalingCurve.parseArgs(Seq("2", "x:/data/sf0.01")).isLeft)
  }

  test("times every registry key plus the three s7 pool variants") {
    val keys = ScalingCurve.queries(1).keySet
    assert(SparkEntry.queries.keySet.subsetOf(keys))
    assert(keys -- SparkEntry.queries.keySet ==
      Set("s7_mmr_pool100", "s7_mmr_pool500", "s7_mmr_pool1000"))
    assert(ScalingCurve.overrides(1).keySet ==
      Set("k2_semdedup_pairs", "k4_cluster_quality",
        "s7_mmr_pool100", "s7_mmr_pool500", "s7_mmr_pool1000"))
  }
}
