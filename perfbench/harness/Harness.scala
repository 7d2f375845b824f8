package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.{CacheRegistry, SparkEntry, Tables}
import graft.streaming.StreamOps

/** One benchmark run of one workload in this JVM.
  *
  * Usage: perfbench.Harness <workload> <stageDir> <outDir> <seconds> <trace 0|1> <cores> <resultFile>
  *
  * Phases: session → cold pass (its outputs are written under outDir for the
  * DuckDB check) → measured rounds until `seconds` have passed, whole rounds
  * only. The result is one JSON object written to
  * `resultFile`; the caller adds the correctness verdict.
  */
object Harness {
  val telematics: Seq[String] = Seq(
    "t1_speed_radar", "t2_avg_speed_control", "t3_accident_runs",
    "t4_congestion_daily", "t5_saturated_pairs", "t6_session_windows",
    "t7_purchase_attribution", "t8_asof_attribution", "t9_sliding_windows")

  /** The streaming twins of the five reference jobs, with their output mode. */
  val streamOps: Seq[(String, OutputMode)] = Seq(
    "speed_radar" -> OutputMode.Append,
    "congestion_daily" -> OutputMode.Append,
    "rate_of_change" -> OutputMode.Update,
    "accident_runs" -> OutputMode.Append,
    "saturated_pairs" -> OutputMode.Append)

  def main(args: Array[String]): Unit = {
    val Array(workload, stage, out, secondsArg, traceArg, coresArg, resultFile) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val work = Paths.get(out).toAbsolutePath.toString
    val isStream = workload.startsWith("stream")
    // graft.Bench sizes shuffle partitions to the cores; graft.tools.StreamBench
    // sizes them to state-store instances (8).
    val shuffleParts = if (isStream) "8" else coresArg
    val spark = SparkSession.builder()
      .master(s"local[$coresArg]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace(spark)) else None
    val result =
      try {
        val w = if (isStream) new StreamWorkload(spark, stage, work, trace)
                else new BatchWorkload(spark, stage, work, trace)
        w.run(seconds)
      } finally spark.stop()
    Files.write(Paths.get(resultFile), Json.obj(result).getBytes(StandardCharsets.UTF_8))
  }

  /** ms since the JVM started (the process start of the run). */
  def sinceStartMs(): Double =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Heap in use right after a requested full GC. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${sinceStartMs() / 1000}%.1f s: $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Common shape of both workloads: cold check pass, then measured rounds. */
abstract class Workload(spark: SparkSession, stage: String, work: String,
                        trace: Option[Trace]) {
  import Harness._

  /** Runs every operation once, writing checkable outputs. */
  def checkPass(): Unit
  /** One measured round; returns its per-operation samples. */
  def round(): Seq[Sample]
  /** Operations one round attempts, by operation family (query or stream op). */
  def opsPerRound: Map[String, Int]

  def run(seconds: Double): Map[String, Any] = {
    log("session ready")
    checkPass()
    // No warm-up round: warm rounds keep drifting down for about six rounds,
    // which a run cannot wait out, so every run measures rounds 2, 3, ...
    val setupS = sinceStartMs() / 1000.0
    log("check pass done")
    val jit0 = jitMs()
    val codegen0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
    trace.foreach(_.startMeasuring())
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[(Double, Seq[Sample])]
    while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val r0 = System.nanoTime()
      val samples = round()
      rounds += (((System.nanoTime() - r0) / 1e9, samples))
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val gcDelta = gcMs() - gc0
    val heap = liveHeapMb()
    val samples = rounds.flatMap(_._2).toSeq
    // Per-operation samples, per round; run.py computes the latency and
    // throughput statistics from them.
    val base = Map[String, Any](
      "setup_s" -> setupS,
      "live_heap_mb" -> heap,
      "measured_s" -> measuredS,
      "round_s" -> rounds.map(_._1).toSeq,
      "ops_per_round" -> opsPerRound,
      "samples" -> rounds.map(_._2.map(s => Map(
        "op" -> s.op, "ms" -> s.ms, "rows" -> s.rows, "error" -> s.error))).toSeq)
    trace match {
      case None => base
      case Some(t) =>
        val layers = t.layers(samples, measuredS, gcDelta) ++ Map(
          "kernels.codegen_compile_ms" -> codegen0,
          "jvm.jit_ms" -> jit0.toDouble) ++
          t.tableScan(() => Tables.events(spark, stage))
        t.writeSpans(s"$work/spans.json")
        base ++ Map("layers" -> layers)
    }
  }
}

/** One timed operation: a batch query, or one micro-batch of a stream op. */
case class Sample(op: String, ms: Double, error: String = "",
                  buildMs: Double = 0, planMs: Double = 0,
                  group: String = "", sharedKeys: Int = 0, rows: Long = 0,
                  progress: Option[StreamingQueryProgress] = None)

class BatchWorkload(spark: SparkSession, stage: String, work: String,
                    trace: Option[Trace]) extends Workload(spark, stage, work, trace) {
  private val names = Harness.telematics
  private var roundNo = 0
  def opsPerRound: Map[String, Int] = names.map(_ -> 1).toMap

  def checkPass(): Unit = {
    names.foreach { n =>
      SparkEntry.queries(n)(spark, stage)
        .write.mode("overwrite").parquet(s"$work/check/$n")
      CacheRegistry.releaseAll()
    }
    CacheRegistry.releaseShared()
  }

  private def one(n: String): Sample = {
    val group = s"$n#$roundNo"
    val before = CacheRegistry.sharedKeys
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    try {
      trace match {
        case None =>
          SparkEntry.queries(n)(spark, stage).write.format("noop").mode("overwrite").save()
          Sample(n, (System.nanoTime() - t0) / 1e6)
        case Some(t) =>
          // Each phase gets its own job group, so every Spark job lands
          // under the phase that started it.
          sc.setJobGroup(s"$group#build", n)
          val df = SparkEntry.queries(n)(spark, stage)
          val t1 = System.nanoTime()
          sc.setJobGroup(s"$group#plan", n)
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          sc.setJobGroup(s"$group#exec", n)
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          val s = Sample(n, (t3 - t0) / 1e6, buildMs = (t1 - t0) / 1e6,
            planMs = (t2 - t1) / 1e6, group = group,
            sharedKeys = (CacheRegistry.sharedKeys -- before).size)
          t.querySpan(s, t0, t1, t2, t3)
          s
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        Sample(n, (System.nanoTime() - t0) / 1e6, error = String.valueOf(e.getMessage))
    } finally {
      sc.clearJobGroup()
      CacheRegistry.releaseAll()
    }
  }

  def round(): Seq[Sample] = {
    roundNo += 1
    val r = names.map(one)
    CacheRegistry.releaseShared()
    r
  }
}

class StreamWorkload(spark: SparkSession, stage: String, work: String,
                     trace: Option[Trace]) extends Workload(spark, stage, work, trace) {
  import spark.implicits._
  private val input = s"$stage/events.parquet"
  private val files = new java.io.File(input).list().count(_.endsWith(".parquet"))
  private val schema = spark.read.parquet(input).schema
  private var runNo = 0
  def opsPerRound: Map[String, Int] = Harness.streamOps.map(_._1 -> files).toMap

  private def events(): DataFrame = spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", 1).parquet(input)

  private def typed(): Dataset[StreamOps.Event] =
    events().select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamOps.Event]

  private def build(op: String): DataFrame = op match {
    case "speed_radar" => StreamOps.speedRadar(events())
    case "congestion_daily" => StreamOps.congestionDaily(events())
    case "rate_of_change" => StreamOps.rateOfChange(spark, typed()).toDF()
    case "accident_runs" => StreamOps.accidentRuns(spark, typed()).toDF()
    case "saturated_pairs" => StreamOps.saturatedPairs(spark, typed()).toDF()
  }

  private def start(op: String, mode: OutputMode, check: Boolean): (StreamingQuery, Double) = {
    runNo += 1
    val t0 = System.nanoTime()
    val df = build(op)
    val buildMs = (System.nanoTime() - t0) / 1e6
    val w = df.writeStream.outputMode(mode).trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ckpt/$op-$runNo")
    val q =
      if (check) w.foreachBatch { (b: DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id)).write.mode("append").parquet(s"$work/check/$op")
      }.start()
      else w.format("noop").start()
    (q, buildMs)
  }

  def checkPass(): Unit = Harness.streamOps.foreach { case (op, mode) =>
    val (q, _) = start(op, mode, check = true)
    q.awaitTermination()
    Harness.log(s"checked $op")
  }

  def round(): Seq[Sample] = Harness.streamOps.flatMap { case (op, mode) =>
    val (q, buildMs) = start(op, mode, check = false)
    try q.awaitTermination()
    catch { case e: Throwable => System.err.println(s"[perfbench] $op failed: ${e.getMessage}") }
    val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val err = q.exception.map(e => String.valueOf(e.getMessage)).getOrElse("")
    // A failed run completes fewer batches than it attempted: pad to whole rounds.
    // Progress reports are kept only for the trace, so that an untraced run's
    // live heap holds none of the harness's own records of them.
    val got = ps.map { p =>
      Sample(op, p.durationMs.get("triggerExecution").doubleValue, error = err,
        buildMs = buildMs / ps.size, rows = p.numInputRows, progress = trace.map(_ => p),
        group = p.runId.toString + "#" + p.batchId)
    }
    got ++ Seq.fill(files - got.size)(Sample(op, 0.0, error = if (err.isEmpty) "missing batch" else err))
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => value(o.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
