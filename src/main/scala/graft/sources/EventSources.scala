package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources for the engine, batch and streaming.
  *
  * The reference consumes newline CSV telemetry via `readTextFile`
  * (VehicleTelematics.java:42-56, `time,vid,spd,xway,lane,dir,seg,pos`);
  * here the same data arrives through Spark's file sources — schema'd CSV,
  * batch (`read`) or unbounded (`readStream`), where new files in the
  * directory are the stream.
  */
object EventSources {

  /** The reference's telemetry CSV schema. */
  val carDataSchema: StructType = StructType(Seq(
    StructField("time", IntegerType, nullable = false),
    StructField("vid", IntegerType, nullable = false),
    StructField("spd", IntegerType, nullable = false),
    StructField("xway", IntegerType, nullable = false),
    StructField("lane", IntegerType, nullable = false),
    StructField("dir", IntegerType, nullable = false),
    StructField("seg", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false)))

  /** Batch CSV read of reference-format telemetry. */
  def carDataCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(carDataSchema).csv(path)

  /** Unbounded CSV read of reference-format telemetry (file stream). */
  def carDataCsvStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(carDataSchema).csv(dir)

  /** Batch JSONL read with an explicit schema — schema-on-read, no
    * inference scan (an inference pass over 100 TB is a second full read).
    */
  def jsonl(spark: SparkSession, path: String,
            schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Deterministic synthetic event stream from the rate-micro-batch source
    * (fixed rows per batch, timestamps derived from a fixed epoch) — the
    * load-generator source for soak-testing operators without input files.
    */
  def syntheticEventStream(spark: SparkSession, rowsPerBatch: Int = 100): DataFrame = {
    val raw = spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("startTimestamp", 0L)
      .load()
    raw.select(
      col("value").as("event_id"),
      col("timestamp").as("ts"),
      pmod(col("value"), lit(50L)).as("user_id"),
      element_at(
        array(lit("click"), lit("view"), lit("purchase"), lit("signup"), lit("error")),
        (pmod(col("value"), lit(5L)) + 1).cast("int")).as("event_type"),
      (pmod(col("value") * 7919L, lit(20000L)).cast("double") / 100.0).as("value"),
      lit("{}").as("props"))
  }

  /** CarData → events-shaped frame, so every StreamOps operator runs
    * unchanged on reference telemetry (`vid`→user_id, `spd`→value,
    * seconds→timestamp).
    */
  def carDataAsEvents(carData: DataFrame): DataFrame =
    carData.select(
      (col("vid").cast("long") * 100000L + col("time")).as("event_id"),
      timestamp_seconds(col("time")).as("ts"),
      col("vid").cast("long").as("user_id"),
      concat(lit("seg_"), col("seg")).as("event_type"),
      col("spd").cast("double").as("value"),
      to_json(struct(col("xway"), col("lane"), col("dir"), col("pos"))).as("props"))
}
