package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench's timing discipline over fake queries: each pass pays a shared
  * family build once, a slow query's retry re-times only its own work
  * with the upstream frame it reads still cached, and a query that fails
  * every attempt is reported as failed.
  */
class BenchSpec extends SparkSpec {

  test("retries run inside pass 2: upstream frame built once per pass, best from a retry") {
    val key = s"benchspec-a:${spark.sparkContext.applicationId}"
    var builds = 0
    var bCalls = 0
    def frame(s: SparkSession): DataFrame =
      CacheRegistry.memoShared(key) { builds += 1; s.range(10).toDF("x") }
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "a" -> ((s, _) => frame(s)),
      "b" -> { (s, _) =>
        bCalls += 1
        if (bCalls <= 2) Thread.sleep(2600) // a stall on both passes
        frame(s).filter("x > 4")
      },
      "c" -> ((_, _) => throw new IllegalStateException("always fails")))

    val results = Bench.run(spark, "unused", queries)

    assert(results.map(_._1) == Seq("a", "b", "c"))
    assert(builds == 2, "the upstream frame is built once per pass, not again by b's retry")
    assert(bCalls == 3, "b gets exactly one retry once its best is under the threshold")
    val bBest = results.toMap.apply("b")
    assert(bBest < 2.5, s"b's best must come from the retry, got $bBest s")
    assert(results.toMap.apply("c").isInfinite)
    assert(CacheRegistry.sharedKeys.isEmpty, "the run releases every shared key")

    val line = Bench.jsonLine(results, "unused", roundMs = true)
    assert(line.contains("\"failed\":[\"c\"]"), line)
    assert(!line.contains("\"c\":"), line)
  }

  test("the file and stdout lines differ only in per-query precision") {
    val results = Seq("q1" -> 1.23456789, "q2" -> Double.PositiveInfinity,
      "q3" -> 0.5)
    val total = 1.23456789 + 0.5
    val sf = "/d/\\\"x\\\"" // /d/"x" escaped
    assert(Bench.jsonLine(results, "/d/\"x\"", roundMs = false) ==
      s"""{"metric":"total","value":$total,"unit":"sec","queries":{"q1":1.23456789,"q3":0.5},"failed":["q2"],"sf":"$sf"}""")
    assert(Bench.jsonLine(results, "/d/\"x\"", roundMs = true) ==
      s"""{"metric":"total","value":$total,"unit":"sec","queries":{"q1":1.235,"q3":0.5},"failed":["q2"],"sf":"$sf"}""")
  }

  test("warmUp skips a missing table and propagates a corrupt one") {
    val dir = tempSfDir()
    spark.range(3).write.parquet(s"$dir/region.parquet")
    Bench.warmUp(spark, dir) // nine tables absent: skipped
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/nation.parquet"),
      "not parquet".getBytes("UTF-8"))
    intercept[Exception](Bench.warmUp(spark, dir))
  }
}
