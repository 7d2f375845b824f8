package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All operators take `(SparkSession, sfDir)` and read through here so the
  * scan always benefits from parquet column pruning / filter pushdown —
  * never a cached, pre-materialized copy.
  */
object Tables {
  /** Loads `name` from the sf dir — unless `spark.graft.bucketedDb` names
    * a database that has the table, in which case the CATALOG table is
    * returned instead. That table is typically `Sinks.writeBucketedFacts`'
    * output, bucketed on the fact's recurring join key, so the SAME
    * operator code then plans co-located fact⋈fact joins with zero
    * shuffle exchange (see BucketingSpec / PLANS.md's bucketed-substrate
    * delta). Default unset: plain parquet scans, pushdown intact. When
    * the override is active the sf dir is ignored for tables the db
    * holds — the caller owns keeping db and dir in sync.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val db = spark.conf.get("spark.graft.bucketedDb", "")
    if (db.nonEmpty) {
      // Fail fast on a db that does not exist at all (a typo'd name, or
      // writeBucketedFacts never ran): silently falling back to parquet
      // would let a benchmark measure parquet under a "bucketed" label
      // while substrate() tags memo keys with the db name. The per-table
      // fallback below stays — the db intentionally holds only the
      // bucketed FACT tables; dims keep their parquet scans.
      require(spark.catalog.databaseExists(db),
        s"spark.graft.bucketedDb='$db' but no such database exists — " +
          "run Sinks.writeBucketedFacts first or unset the conf")
      if (spark.catalog.tableExists(s"$db.$name")) spark.table(s"$db.$name")
      else spark.read.parquet(s"$dir/$name.parquet")
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The substrate the session currently resolves tables against —
    * "parquet" or the bucketed db name. Memo-shared frames embed this in
    * their cache keys so a frame built on one substrate is never served
    * after the override flips mid-session (BucketingSpec and PlanAudit's
    * delta section do exactly that flip).
    */
  def substrate(spark: SparkSession): String = {
    val db = spark.conf.get("spark.graft.bucketedDb", "")
    if (db.isEmpty) "parquet" else db
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
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
