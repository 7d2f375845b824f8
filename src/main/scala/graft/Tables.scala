package graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All operators take `(SparkSession, sfDir)` and read through here so the
  * scan always benefits from parquet column pruning / filter pushdown —
  * never a cached, pre-materialized copy.
  */
object Tables {
  /** Loads `name` from the sf dir: `<dir>/<name>.parquet`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** What an inferred schema depends on besides the session: every leaf
    * file's (name, length, mtime) and the session's parquet settings.
    */
  private type Stamp = (Seq[(String, Long, Long)], Map[String, String])

  /** Inferred parquet schemas per session: path -> (stamp, schema). Weak
    * session keys, so a stopped session's entries go away with it; one
    * entry per path, so a rewritten dir replaces its entry. Kept out of
    * CacheRegistry, whose releases run after every query.
    */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, (Stamp, StructType)]]()

  /** `spark.read.parquet(path)` without its schema-inference job on
    * repeat loads: the inferred schema is memoized per session and path,
    * keyed on a listing fingerprint (a file-system call, not a Spark job)
    * and on the parquet settings inference reads. A dir rewritten by Spark
    * gets new part-file names, so it is always inferred again. A missing
    * path goes straight to Spark, which raises its own PATH_NOT_FOUND.
    */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path)
    else {
      val stamp: Stamp = (leaves(fs, p).sorted, spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
      })
      val memo = schemas.synchronized(
        schemas.computeIfAbsent(spark, _ => mutable.Map.empty[String, (Stamp, StructType)]))
      val schema = memo.synchronized(memo.get(path)).collect { case (`stamp`, s) => s }
        .getOrElse {
          val s = spark.read.parquet(path).schema
          memo.synchronized(memo(path) = (stamp, s))
          s
        }
      spark.read.schema(schema).parquet(path)
    }
  }

  private def leaves(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) leaves(fs, s.getPath)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` arrives in whatever physical shape the generator chose —
    * INT64 TIMESTAMP(NANOS) (which Spark 4 refuses to read as a timestamp)
    * or, since the 2026-08-13 regeneration, micro-precision timestamp
    * WITHOUT timezone (which Spark infers as TIMESTAMP_NTZ, rejected by
    * `unix_micros` and friends). Normalize every shape to a session-UTC
    * TIMESTAMP carrying the same microsecond count DuckDB's `epoch_us`
    * sees, so operators and oracle comparisons line up exactly regardless
    * of the file's vintage.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // The loader reads the session's settings and never writes them:
    // GraftSession.local sets both. Without nanosAsLong Spark 4 refuses an
    // INT64(NANOS) file, and the NTZ->TIMESTAMP cast below preserves
    // micros-since-epoch ONLY in a UTC session — a non-UTC session would
    // silently shift every event time.
    require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "Tables.events needs spark.sql.legacy.parquet.nanosAsLong=true")
    val tz = s.conf.get("spark.sql.session.timeZone")
    require(java.time.ZoneId.of(tz).normalized == java.time.ZoneOffset.UTC,
      s"Tables.events needs spark.sql.session.timeZone=UTC, got '$tz'")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos read as long
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // UTC session: the cast keeps the wall-clock reading, i.e. the
        // identical micros-since-epoch the NTZ value denotes.
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already a (micro-precision) timestamp
    }
  }
  /** One row per document, and `doc_id` is unique (500 of 500 at sf0.01,
    * 5,000 of 5,000 at sf0.1). c1–c3 (Decontamination) and p1–p4
    * (Curation) rely on it: c1–c3, for one, emit per-document rows with
    * no `distinct` or per-`doc_id` rollup, so a duplicated id would come
    * out as duplicated output rows. The load asserts nothing; a
    * hand-built dir must keep the invariant itself.
    */
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
