package graft.tools

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

/** Measures the ANN recall curve: recall@10 of the bucketed variants
  * (s2 multi-probe SRP, s3 IVF-kmeans) against s1's exact brute-force
  * top-k, per probe-width dial. This is the measurement behind
  * BASELINE.md's recall table — the "approximate" in approximate-NN made
  * a number instead of a promise. Recall is averaged over the query set
  * (|approx top-10 ∩ exact top-10| / 10 per query).
  *
  *   sbt "runMain graft.tools.AnnRecall /tmp/scale30"
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val truth = topkSets(Similarity.annTopK(spark, dir))
    println(s"ANNRECALL dir=$dir queries=${truth.size} k=10")
    for (h <- Seq(0, 1, 2, 3)) {
      val r = recallAt10(topkSets(Similarity.annIvf(spark, dir,
        maxProbeHamming = h)), truth)
      println(f"ANNRECALL s2 probe=hamming<=$h recall=$r%.3f")
    }
    for (np <- Seq(1, 2, 4, 8, 16)) {
      val r = recallAt10(topkSets(Similarity.annIvfKmeans(spark, dir,
        nProbe = np)), truth)
      println(f"ANNRECALL s3 probe=nprobe=$np recall=$r%.3f")
    }
    // s5 adds a second approximation stage on top of s3's probes (PQ codes
    // in the scan, exact re-rank only for the shortlist), so its dial is
    // the shortlist width: how many ADC survivors get the full-vector
    // re-rank. recall(s5, shortlist→∞) converges to s3 at the same nProbe.
    for (sl <- Seq(10, 20, 40, 80, 160)) {
      val r = recallAt10(topkSets(Similarity.annIvfPq(spark, dir,
        shortlistN = sl)), truth)
      println(f"ANNRECALL s5 probe=shortlist=$sl recall=$r%.3f")
    }
    // s6 radius recall: the truth set is the same operator probing EVERY
    // cell (each vector lives in exactly one cell, so nProbe=kCells sees
    // the whole corpus = exact radius search); the dial is nProbe.
    val radiusTruth = topkSets(Similarity.rangeSearch(spark, dir, nProbe = 16))
    for (np <- Seq(1, 2, 4, 8, 16)) {
      val r = recallAt10(topkSets(Similarity.rangeSearch(spark, dir,
        nProbe = np)), radiusTruth)
      println(f"ANNRECALL s6 probe=nprobe=$np recall=$r%.3f")
    }
    spark.stop()
  }

  /** q_id -> the set of neighbor ids in its top-10. */
  def topkSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "n_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  /** Mean per-query |approx ∩ exact| / |exact|; a query the approx path
    * returned NOTHING for (empty probe set) counts as recall 0, not a
    * dropped term. */
  def recallAt10(approx: Map[Long, Set[Long]],
                 truth: Map[Long, Set[Long]]): Double = {
    require(truth.nonEmpty, "empty ground truth")
    truth.map { case (q, gt) =>
      approx.getOrElse(q, Set.empty).intersect(gt).size.toDouble / gt.size
    }.sum / truth.size
  }
}
