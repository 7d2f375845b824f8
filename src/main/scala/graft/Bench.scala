package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query at the given SF and prints
  * one JSON line. Queries are fully materialized through the `noop` sink —
  * a bare count() would let Catalyst prune the projected columns and
  * under-time expression-heavy operators (fingerprints, cosine scoring).
  */
object Bench {

  /** A query whose best time stays above this many seconds is retried. */
  private val SlowSec = 2.5
  /** At most this many retries per query. */
  private val MaxRetries = 2

  /** Warm-up before any timing: JIT and page cache, one scan per table.
    * A table absent at this scale is skipped; any other error (a corrupt
    * file, an OOM) propagates.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .map(t => new Path(s"$sfDir/$t.parquet"))
      .filter(p => p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      .foreach(p => spark.read.parquet(p.toString).count())

  /** One timed run of a query through the `noop` sink, in seconds. A
    * failed run returns +Inf, so it can never win a minimum: a fast
    * exception (e.g. during planning) would otherwise pass for the query's
    * best time. Operator-internal caches are released afterwards, so one
    * query's storage memory never skews the next query's timing.
    */
  def timeQuery(spark: SparkSession, sfDir: String, tag: String, name: String,
                fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        Double.PositiveInfinity
    } finally CacheRegistry.releaseAll()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    val results = run(spark, sfDir, SparkEntry.queries)
    // bench.json keeps the full-precision named map for in-repo analysis.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench.json"),
      (jsonLine(results, sfDir, roundMs = false) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver contract: print ONE JSON line with NAMED per-query
    // seconds — {"metric","value","unit","queries":{name:sec},"sf"} — and
    // make it the LAST thing on stdout so any line-oriented parser finds
    // it. Through round 17 this never parsed: sbt's LoggedOutput prefixed
    // the line with "[info] " and its "[success] Total time" trailer
    // printed after it (both fixed in build.sbt — StdoutOutput +
    // showSuccess:=false). Per-query values are rounded to milliseconds
    // so the line stays compact (~4 KB for 169 queries): they are display
    // precision and need not sum to `value`, which is the authoritative
    // full-precision total. spark.stop() runs FIRST so no shutdown logging
    // can interleave after the line.
    spark.stop()
    println(jsonLine(results, sfDir, roundMs = true))
    val failed = results.collect { case (n, v) if v.isInfinite => n }
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed every attempt: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Each query's best time over two passes in sorted order, +Inf for a
    * query that failed every attempt.
    *
    * Shared keyed caches (the d4 pair list reused by d6, d7 and g1) live
    * for one pass, so every pass pays each family build exactly once.
    * The host kernel sporadically freezes a single thread for 10-100 s
    * (observed: a task doing 12 ms of work wall-clocking 26 s with zero
    * CPU system-wide; speculation does not dodge it), and in bad windows
    * min-of-2 still lands on a stall. So a query whose best time stays
    * over `SlowSec` is retried inside pass 2, up to `MaxRetries` times:
    * each retry first releases the shared keys the query's pass-2 attempts
    * published, so it re-times the query's own build while the upstream
    * frames it reads stay cached, as they are for its passes.
    */
  def run(spark: SparkSession, sfDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame])
      : Seq[(String, Double)] = {
    val sorted = queries.toSeq.sortBy(_._1)
    def time(name: String, fn: (SparkSession, String) => DataFrame) =
      timeQuery(spark, sfDir, "bench", name, fn)
    val pass1 = sorted.map { case (name, fn) => name -> time(name, fn) }.toMap
    CacheRegistry.releaseShared()
    val results = sorted.map { case (name, fn) =>
      val before = CacheRegistry.sharedKeys
      var best = math.min(pass1(name), time(name, fn))
      var retries = 0
      while (best > SlowSec && retries < MaxRetries) {
        CacheRegistry.releaseSharedKeys(CacheRegistry.sharedKeys -- before)
        best = math.min(best, time(name, fn))
        retries += 1
      }
      name -> best
    }
    CacheRegistry.releaseShared()
    results
  }

  /** The run's one JSON line: total seconds over the queries that
    * completed, their per-query seconds (rounded to milliseconds when
    * `roundMs`) and the names of the queries that failed every attempt.
    */
  def jsonLine(results: Seq[(String, Double)], sfDir: String,
               roundMs: Boolean): String = {
    val (failed, ok) = results.partition(_._2.isInfinite)
    val total = ok.map(_._2).sum
    val qs = ok.map { case (k, v) =>
      "\"" + k + "\":" + (if (roundMs) math.round(v * 1000) / 1000.0 else v)
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    // sfDir comes from the environment: escape it (Verify's q() lesson)
    // or a quoted/backslashed path breaks any json.load of the line
    val sfDirJson = sfDir.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDirJson"}"""
  }
}
