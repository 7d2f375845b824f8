package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query ...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: only dump these query names (fast iteration) —
    // a typo'd name must fail loudly, not silently dump nothing and leave
    // the downstream compare reading stale files from a previous run
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally CacheRegistry.releaseAll()
    }
    CacheRegistry.releaseShared()
    // d5 oracle attribution guard: the DuckDB oracle models plain label
    // blocking, while the engine sub-buckets labels over the cap (a
    // deliberate SemDedup-style recall trade). If a label crosses the cap
    // at this scale, say so LOUDLY — a d5 hash mismatch is then the guard
    // activating, not a silent correctness bug.
    if (only.isEmpty || only("d5_embedding_neardup")) {
      try {
        import org.apache.spark.sql.functions.{col, count, lit}
        val hot = Tables.embeddings(spark, sfDir)
          .groupBy("label").agg(count(lit(1)).as("n"))
          .filter(col("n") > operators.Dedup.D5MaxBlockSize).count()
        if (hot > 0) System.err.println(
          s"[verify] WARNING: $hot embedding label(s) exceed the d5 " +
            s"sub-bucket cap (${operators.Dedup.D5MaxBlockSize}) at $sfDir — " +
            "the hot-label guard is active; a d5 oracle mismatch at this " +
            "scale is the guard's documented recall trade, not a bug")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] d5 guard check failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
