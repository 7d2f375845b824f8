package graft.tools

import graft.CacheRegistry
import graft.operators.TextAnalysis

/** Times x23 BPE training at increasing merge budgets — the evidence for
  * the "merge count must not multiply job latency" fix: with the driver
  * trainer, wall time is dominated by the one vocabulary build regardless
  * of the budget.
  *
  *   sbt "runMain graft.tools.BpeScale /root/testdata/sf0.1 10 100 1000"
  */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val budgets = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(10, 100, 1000)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // warm the page cache + JIT once, then time each budget fresh
    TextAnalysis.bpeMerges(spark, dir, 5).collect()
    CacheRegistry.releaseShared(); CacheRegistry.releaseAll()
    budgets.foreach { m =>
      val t0 = System.nanoTime()
      val n = TextAnalysis.bpeMerges(spark, dir, m).collect().length
      println(f"TIMING bpe merges=$m learned=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      CacheRegistry.releaseShared(); CacheRegistry.releaseAll()
    }
    // the ENCODE side (x46) at the same budgets: merges are trained once
    // (memo released between budgets so each pass pays its own training),
    // then the apply scan re-tokenizes the corpus through the learned
    // table — the cost a production tokenizer pays per corpus pass
    budgets.foreach { m =>
      val t0 = System.nanoTime()
      TextAnalysis.bpeEncode(spark, dir, m)
        .write.format("noop").mode("overwrite").save()
      println(f"TIMING bpe-encode merges=$m ${(System.nanoTime() - t0) / 1e9}%.2f s")
      CacheRegistry.releaseShared(); CacheRegistry.releaseAll()
    }
    spark.stop()
  }
}
