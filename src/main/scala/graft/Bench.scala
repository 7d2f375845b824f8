package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query at the given SF and prints
  * one JSON line. Queries are fully materialized through the `noop` sink —
  * a bare count() would let Catalyst prune the projected columns and
  * under-time expression-heavy operators (fingerprints, cosine scoring).
  */
object Bench {

  /** Warm-up before any timing: JIT and page cache, one scan per table
    * (a table missing at this scale is skipped).
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }

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

    // Two full passes plus targeted retries, keeping each query's best
    // time. The sandbox kernel sporadically freezes a single thread for
    // 10-100 s (observed: a task doing 12 ms of work wall-clocking 26 s
    // with zero CPU system-wide; speculation does not dodge it), and the
    // stall rate varies by the hour — in bad windows min-of-2 still lands
    // on a stall, so any query whose best time stays over the threshold
    // earns up to two more attempts.
    // A failed attempt returns +Inf (timeQuery); queries whose every
    // attempt failed are listed separately in the JSON.
    // Shared keys each query PUBLISHED when it ran (registry diff around
    // the timing) — the retry loop releases exactly these, so a retry
    // re-times the query's own build while upstream family frames it only
    // READS (d4's scored frame under d6, x23's merge table under x24) stay
    // cached, matching each pin's intra-pass cost convention.
    val publishedKeys =
      scala.collection.mutable.Map.empty[String, Set[String]]
    // Frozen once the passes finish: a retry attempt that happens to
    // rebuild an ABSENT upstream frame (its owner wasn't retried) must not
    // get that key attributed to it, or the next attempt would drop the
    // upstream frame again and re-pay a build the convention says is reused.
    var attributionFrozen = false
    // queries that completed at least one attempt: attribution freezes
    // for THEM once the passes finish, but a query that failed BOTH
    // passes at plan time has no recorded build — its first completed
    // retry is the only key observation we will ever get, and without
    // recording it the next retry would release nothing and publish a
    // memo READ as the query's best time (the exact failure the
    // releaseSharedKeys design exists to prevent).
    val completedOnce = scala.collection.mutable.Set.empty[String]
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val before = CacheRegistry.sharedKeys
      val sec = timeQuery(spark, sfDir, "bench", name, fn)
      if (!attributionFrozen)
        publishedKeys.update(name,
          publishedKeys.getOrElse(name, Set.empty) ++
            (CacheRegistry.sharedKeys -- before))
      else if (!completedOnce.contains(name)) {
        // First completed attempt of a query that failed BOTH passes:
        // the only key observation we will ever get for it — but it may
        // have rebuilt ABSENT upstream family frames whose owner simply
        // wasn't retried. Attributing those would let this query's NEXT
        // retry release them, over-timing any later retry that only
        // READS them. A rebuilt key whose FAMILY (the slug before the
        // first ':' — d4scored, p2verdicts, …) some other query already
        // owns goes to that owner, exactly as the normal pass would
        // attribute it — attribution stays retry-order-independent even
        // when two failed queries race to rebuild the same absent
        // family frame. Only keys with no family owner anywhere stick
        // to this query.
        val owned = publishedKeys.iterator
          .collect { case (n, ks) if n != name => ks }
          .foldLeft(Set.empty[String])(_ ++ _)
        def family(k: String) = k.takeWhile(_ != ':')
        val ownerByFamily = publishedKeys.iterator
          .collect { case (n, ks) if n != name =>
            ks.iterator.map(k => family(k) -> n) }
          .flatten.toMap
        val fresh = CacheRegistry.sharedKeys -- before -- owned
        val (toOwner, toSelf) =
          fresh.partition(k => ownerByFamily.contains(family(k)))
        toOwner.foreach { k =>
          val o = ownerByFamily(family(k))
          publishedKeys.update(o, publishedKeys(o) + k)
        }
        publishedKeys.update(name,
          publishedKeys.getOrElse(name, Set.empty) ++ toSelf)
      }
      if (!sec.isInfinite) completedOnce += name
      sec
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    // Shared keyed caches (the d4 pair list / d6 labels reused by d6, d7
    // and g1) live for one pass — so within a pass the similarity-join
    // chain runs once, but every pass still pays the build exactly once
    // and per-query minima stay comparable across passes.
    def onePass(): Seq[(String, Double)] = {
      val r = sorted.map { case (name, fn) => name -> timeOne(name, fn) }
      CacheRegistry.releaseShared()
      r
    }
    val twoPass = (onePass() ++ onePass())
      .groupBy(_._1).map { case (n, rs) => n -> rs.map(_._2).min }
    attributionFrozen = true
    val slowThreshold = 2.5
    val results = sorted.map { case (name, fn) =>
      var best = twoPass(name)
      var extra = 0
      while (best > slowThreshold && extra < 2) {
        // A retry must time the query, not a memo read — but only the
        // query's OWN published keys are dropped: releasing everything here
        // would evict upstream frames other queries built (d4's pair chain
        // under d6/d7/g1), overcharging their retries relative to the
        // intra-pass convention their pins encode.
        CacheRegistry.releaseSharedKeys(publishedKeys.getOrElse(name, Set.empty))
        best = math.min(best, timeOne(name, fn))
        extra += 1
      }
      name -> best
    }
    CacheRegistry.releaseShared()
    val failed = results.collect { case (n, v) if v.isInfinite => n }
    val ok = results.filter(!_._2.isInfinite)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // sfDir comes from the environment: escape it (Verify's q() lesson)
    // or a quoted/backslashed path breaks the driver's json.load
    val sfDirJson = sfDir.replace("\\", "\\\\").replace("\"", "\\\"")
    val total = ok.map(_._2).sum
    // bench.json keeps the full-precision named map for in-repo analysis.
    val fileLine = {
      val qs = ok.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDirJson"}"""
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench.json"),
      (fileLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
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
    val qsMs = ok.map { case (k, v) =>
      "\"" + k + "\":" + (math.round(v * 1000) / 1000.0)
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsMs,"failed":$failedJson,"sf":"$sfDirJson"}""")
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed every attempt: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
