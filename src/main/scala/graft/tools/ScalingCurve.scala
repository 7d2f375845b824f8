package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, CacheRegistry, GraftSession, SparkEntry}
import graft.operators.{Curation, Similarity}

/** Scaling-curve measurement: times `SparkEntry.queries` (or the named
  * subset) at every supplied scale slice (see MakeScale) and prints
  * per-(query, scale, iteration) seconds, so exponents can be fit offline
  * (tools/fit_scaling.py takes the minimum across iterations). With one
  * `1:<sfDir>` slice it is the fast inner loop for performance work.
  *
  * Pass discipline mirrors graft.Bench: sorted order, releaseAll per query
  * (Bench.timeQuery), releaseShared per pass — so d4 carries its shared
  * chain's build cost and d6/d7/g1 time their marginals, matching
  * BASELINE.md's family-sum convention.
  *
  * Environment: `SPARK_GRAFT_CONF="k1=v1,k2=v2"` adds session confs.
  *
  *   sbt "runMain graft.tools.ScalingCurve 3 1:/root/testdata/sf0.1 10:/tmp/sfx10"
  *   sbt "runMain graft.tools.ScalingCurve 3 1:/root/testdata/sf0.1 q1_pricing_summary"
  */
object ScalingCurve {
  type Query = (SparkSession, String) => DataFrame

  /** The runs that differ from the registry's entry, for an m-fold slice.
    * k2 and k4 are provisioned the way SemDedup is at fleet scale: the
    * cluster count scales with the corpus (k = 8m; the registry's k = 8 at
    * m = 1), keeping cell population constant — with fixed k the
    * within-cluster volume is n²/k by design, which no guard can (or
    * should) hide. The s7 pool variants are the s7 throughput dial: the
    * greedy re-rank is O(k*poolN) per query group, so the candidate pool is
    * a cost axis that needs exponent evidence alongside the corpus size.
    */
  def overrides(m: Int): Map[String, Query] = Map(
    "k2_semdedup_pairs" -> ((s, d) => Curation.semDedupPairs(s, d, k = 8 * m)),
    "k4_cluster_quality" -> ((s, d) => Curation.clusterQuality(s, d, k = 8 * m)),
    "s7_mmr_pool100" -> ((s, d) => Similarity.mmrRerank(s, d, poolN = 100)),
    "s7_mmr_pool500" -> ((s, d) => Similarity.mmrRerank(s, d, poolN = 500)),
    "s7_mmr_pool1000" -> ((s, d) => Similarity.mmrRerank(s, d, poolN = 1000)))

  def queries(m: Int): Map[String, Query] = SparkEntry.queries ++ overrides(m)

  /** `iters`, the `m:dir` slices in order, and the query names (empty = all). */
  final case class Args(iters: Int, slices: Seq[(Int, String)], names: Set[String])

  val usage = "usage: graft.tools.ScalingCurve <iters> <m:sfDir>... [query ...]"

  /** Parses `<iters> <m:dir>... [names...]` (args holding ':' are slices).
    * Left is the reason to refuse: a bad count, no slice, or a name no
    * query answers to — any of them would otherwise time nothing.
    */
  def parseArgs(args: Seq[String]): Either[String, Args] = {
    def positive(s: String) = s.toIntOption.filter(_ > 0)
    val (sliceArgs, nameArgs) = args.drop(1).partition(_.contains(":"))
    val slices = sliceArgs.map { a =>
      val Array(m, dir) = a.split(":", 2)
      positive(m).map(_ -> dir)
    }
    val unknown = nameArgs.toSet -- queries(1).keySet
    args.headOption.flatMap(positive) match {
      case None => Left(s"<iters> must be a positive integer, got ${args.headOption.getOrElse("nothing")}")
      case Some(_) if slices.isEmpty => Left("no <m:sfDir> slice given")
      case Some(_) if slices.contains(None) =>
        Left(s"a slice's m must be a positive integer: ${sliceArgs.mkString(" ")}")
      case Some(_) if unknown.nonEmpty =>
        Left(s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      case Some(iters) => Right(Args(iters, slices.flatten, nameArgs.toSet))
    }
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args.toSeq) match {
      case Right(a) => a
      case Left(err) =>
        System.err.println(s"[scaling] $err\n$usage")
        sys.exit(2)
    }
    val spark = GraftSession.local(conf =
      GraftSession.parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", "")))
    spark.sparkContext.setLogLevel("WARN")

    a.slices.foreach { case (m, dir) =>
      Bench.warmUp(spark, dir)
      // sorted run order = graft.Bench's alphabetical pass order, so
      // memo-family build OWNERSHIP matches the pin convention (i4 owns
      // the neq-id ranking, i5 the IVF chain, d4 the scored pairs, cls6
      // the lang training) and fitted exponents stay comparable with
      // BASELINE's per-query attribution
      val selected = queries(m).toSeq
        .filter { case (name, _) => a.names.isEmpty || a.names(name) }
        .sortBy(_._1)
      (1 to a.iters).foreach { i =>
        selected.foreach { case (name, fn) =>
          val gc0 = gcMillis()
          val sec = Bench.timeQuery(spark, dir, "scaling", s"$name@${m}x", fn)
          // a failed run prints no line: fit_scaling.py reads a gap, not a time
          if (!sec.isInfinite)
            println(f"SCALING $name m=$m iter=$i $sec%.3f s gc=${(gcMillis() - gc0) / 1000.0}%.3f s")
        }
        CacheRegistry.releaseShared()
      }
    }
    spark.stop()
  }

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
}
