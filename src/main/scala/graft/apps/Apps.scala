package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{LinearRoad, TaxiReports}
import graft.sinks.Sinks
import graft.sources.EventSources

/** Runnable command-line entry points mirroring the reference jobs' mains,
  * flag-for-flag, so a user of the reference can run the same commands
  * against the same CSVs and get the same files:
  *
  *   runMain graft.apps.VehicleTelematicsApp --input <carData.csv> --outputfolder <dir>/
  *   runMain graft.apps.CongestionAreaApp    --input <trips.csv> --output <file.csv>
  *   runMain graft.apps.SaturatedVendorApp   --input <trips.csv> --output <file.csv>
  *
  * Without the output flag each job prints to stdout, like the reference's
  * print() fallback. Outputs are sorted deterministically (the reference's
  * row order is arrival order, which carries no information in a file).
  */
private[apps] object AppUtil {

  /** The reference's ParameterTool.fromArgs: `--key value` pairs. */
  def params(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** `SPARK_GRAFT_MASTER`, when set, replaces the local master. */
  def session(appName: String): SparkSession =
    graft.GraftSession.local(conf = ("spark.app.name" -> appName) +:
      sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toSeq)

  def emit(df: DataFrame, target: Option[String]): Unit = target match {
    case Some(file) => Sinks.writeCsvSingleFile(df, file)
    case None =>
      println("Printing result to stdout. Use --output to specify output path.")
      df.show(100, truncate = false)
  }
}

/** VehicleTelematics.java:30-57,178-185 — all three Linear-Road reports off
  * one read, written as `speedfines.csv`, `avgspeedfines.csv`,
  * `accidents.csv` under --outputfolder.
  */
object VehicleTelematicsApp {
  def main(args: Array[String]): Unit = {
    val p = AppUtil.params(args)
    val input = p.getOrElse("input",
      sys.error("usage: --input <carData.csv> [--outputfolder <dir>/]"))
    val spark = AppUtil.session("vehicle-telematics")
    spark.sparkContext.setLogLevel("WARN")
    // one read serves the three reports, like the reference's shared stream
    val carData = EventSources.carDataCsv(spark, input)
    val reports = Seq(
      "speedfines.csv" -> LinearRoad.speedFines(carData).orderBy("time", "vid"),
      "avgspeedfines.csv" -> LinearRoad.avgSpeedFines(carData).orderBy("time1", "vid"),
      "accidents.csv" -> LinearRoad.accidents(carData).orderBy("time1", "time2", "vid"))
    p.get("outputfolder") match {
      case Some(dir) =>
        reports.foreach { case (name, df) =>
          Sinks.writeCsvSingleFile(df, dir + name)
        }
      case None =>
        println("Printing result to stdout. Use --outputfolder to specify output path.")
        reports.foreach { case (name, df) => println(s"== $name"); df.show(50, truncate = false) }
    }
    spark.stop()
  }
}

/** CongestionArea.java:27-76 — days with congestion-surcharged trips:
  * (day yyyy/MM/dd, trip count, avg total_amount rounded to 2).
  */
object CongestionAreaApp {
  def main(args: Array[String]): Unit = {
    val p = AppUtil.params(args)
    val input = p.getOrElse("input", sys.error("usage: --input <trips.csv> [--output <file>]"))
    val spark = AppUtil.session("congestion-area")
    spark.sparkContext.setLogLevel("WARN")
    AppUtil.emit(
      TaxiReports.congestionArea(TaxiReports.parseTaxiCsv(spark, input)),
      p.get("output"))
    spark.stop()
  }
}

/** SaturatedVendor.java:34-107 — consecutive same-vendor trip pairs with
  * under 10 minutes between dropoff and next pickup.
  */
object SaturatedVendorApp {
  def main(args: Array[String]): Unit = {
    val p = AppUtil.params(args)
    val input = p.getOrElse("input", sys.error("usage: --input <trips.csv> [--output <file>]"))
    val spark = AppUtil.session("saturated-vendor")
    spark.sparkContext.setLogLevel("WARN")
    AppUtil.emit(
      TaxiReports.saturatedVendor(TaxiReports.parseTaxiCsv(spark, input))
        .orderBy("vendor_id", "pickup1"),
      p.get("output"))
    spark.stop()
  }
}

/** The curation pipeline as a runnable job: dedup keepers ∧ CCNet verdict
  * ∧ token-budget cut → reproducible training shards (the composition
  * `PipelineE2ESpec` pins, parameterized). The output layout is the
  * training-loader handoff: one directory per source, size-bounded parquet
  * shards, rows ordered by the reproducible shuffle key.
  *
  *   runMain graft.apps.CurationPipelineApp --input /root/testdata/sf0.01 \
  *     --output /tmp/shards [--budget 1500] [--maxRecordsPerFile 10000] [--gate web]
  *
  * `--gate web` swaps the generic stack for the composed crawl-to-corpus
  * gate (`Curation.webCorpus`: robots → URL dedup → extraction yield →
  * the full p1 content stack, then the budget cut) — the crawl
  * operator's form of the same shard handoff.
  */
object CurationPipelineApp {
  def main(args: Array[String]): Unit = {
    val p = AppUtil.params(args)
    val usage = "usage: --input <sfDir> --output <shardDir> " +
      "[--budget N] [--maxRecordsPerFile N] [--gate curated|web]"
    val input = p.getOrElse("input", sys.error(usage))
    val output = p.getOrElse("output", sys.error(usage))
    val budget = p.get("budget").map(_.toLong).getOrElse(1500L)
    val maxRecords = p.get("maxRecordsPerFile").map(_.toInt).getOrElse(10000)
    val gate = p.getOrElse("gate", "curated")
    val spark = AppUtil.session("curation-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    val curated = gate match {
      case "curated" => graft.operators.Curation.curatedCorpus(spark, input, budget)
      case "web"     => graft.operators.Curation.webCorpus(spark, input, budget)
      case other     => sys.error(s"unknown --gate '$other'; $usage")
    }
    Sinks.writeShards(curated, output, partitionCol = "source",
      sortCols = Seq("shuffle_key", "doc_id"), maxRecordsPerFile = maxRecords)
    val n = spark.read.parquet(output).count()
    println(s"[curation-pipeline] wrote $n $gate docs to $output")
    spark.stop()
  }
}
