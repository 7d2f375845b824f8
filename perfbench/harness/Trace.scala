package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: a SparkListener, a QueryExecutionListener and
  * a StreamingQueryListener. Spans are kept in memory and written as JSON at
  * the end. Every Spark job is attributed to the job group it started under:
  * `<query>#<round>#<phase>` for batch queries, the stream run id for
  * micro-batches (with the batch id from the job's local properties).
  */
class Trace(spark: SparkSession) {
  @volatile private var measuring = false

  /** Counters of one job group. */
  final class Agg {
    var jobs, stages, skipped, tasks = 0L
    var execMs, runMs, cpuMs = 0.0
    var shuffleWrite, shuffleRead, spill, inputRecords, inputBytes = 0L
    val skews = mutable.ArrayBuffer.empty[Double]
  }
  private val aggs = mutable.HashMap.empty[String, Agg]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val stageGroup = mutable.HashMap.empty[Int, (String, Int)]
  private val stageDone = mutable.HashSet.empty[Int]
  /** stage → (tasks, sum run ms, max run ms) from task ends. */
  private val stageTasks = mutable.HashMap.empty[Int, (Long, Double, Double)]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private var nextId = 0L

  private def agg(g: String) = aggs.getOrElseUpdate(g, new Agg)
  private def span(m: Map[String, Any]): Unit = synchronized { spans += m }
  def newId(): Long = synchronized { nextId += 1; nextId }

  private def groupOf(props: java.util.Properties): String =
    if (props == null) "unattributed"
    else {
      val g = Option(props.getProperty("spark.jobGroup.id")).getOrElse("unattributed")
      Option(props.getProperty("streaming.sql.batchId")).fold(g)(b => s"$g#$b")
    }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      if (measuring) {
        val g = groupOf(e.properties)
        jobGroup(e.jobId) = g
        jobStart(e.jobId) = e.time
        jobStages(e.jobId) = e.stageIds
        e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, (g, e.jobId)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageGroup.get(e.stageId).foreach { case (g, _) =>
        val m = e.taskMetrics
        if (m != null) {
          val run = m.executorRunTime.toDouble
          val (n, sum, mx) = stageTasks.getOrElse(e.stageId, (0L, 0.0, 0.0))
          stageTasks(e.stageId) = (n + 1, sum + run, math.max(mx, run))
          val a = agg(g)
          a.tasks += 1
          a.runMs += run
          a.cpuMs += m.executorCpuTime / 1e6
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputRecords += m.inputMetrics.recordsRead
          a.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      stageGroup.get(info.stageId).foreach { case (g, job) =>
        stageDone += info.stageId
        val a = agg(g)
        a.stages += 1
        val (n, sum, mx) = stageTasks.getOrElse(info.stageId, (0L, 0.0, 0.0))
        if (n >= 2 && sum > 0) a.skews += mx / (sum / n)
        span(Map("kind" -> "stage", "id" -> s"stage-${info.stageId}-${info.attemptNumber()}",
          "parent" -> s"job-$job", "trace" -> g, "name" -> info.name,
          "start_ms" -> info.submissionTime.getOrElse(0L),
          "end_ms" -> info.completionTime.getOrElse(0L),
          "tasks" -> n, "task_run_ms" -> sum, "max_task_ms" -> mx))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobGroup.get(e.jobId).foreach { g =>
        val a = agg(g)
        a.jobs += 1
        val t0 = jobStart.getOrElse(e.jobId, e.time)
        a.execMs += e.time - t0
        a.skipped += jobStages.getOrElse(e.jobId, Nil).count(s => !stageDone(s))
        span(Map("kind" -> "job", "id" -> s"job-${e.jobId}", "parent" -> g, "trace" -> g,
          "start_ms" -> t0, "end_ms" -> e.time))
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        if (measuring) {
          val phases = qe.tracker.phases.map { case (k, v) => k -> (v.durationMs: Any) }
          span(Map("kind" -> "query_execution", "id" -> s"qe-${newId()}", "func" -> funcName,
            "duration_ms" -> durationNs / 1e6, "planning_phases_ms" -> phases))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (measuring) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> (v.longValue: Any) }.toMap
        span(Map("kind" -> "micro_batch", "id" -> s"${p.runId}#${p.batchId}",
          "parent" -> p.runId.toString, "trace" -> s"${p.runId}#${p.batchId}",
          "timestamp" -> p.timestamp, "input_rows" -> p.numInputRows, "duration_ms" -> d,
          "late_rows" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum))
      }
  })

  def startMeasuring(): Unit = { PerfbenchAccess.drain(spark.sparkContext); measuring = true }

  /** Records a batch query's span and its build / plan / execute children. */
  def querySpan(s: Sample, t0: Long, t1: Long, t2: Long, t3: Long): Unit = {
    val ms = (ns: Long) => ns / 1e6
    span(Map("kind" -> "query", "id" -> s.group, "op" -> s.op, "trace" -> s.group,
      "start_ms" -> ms(t0), "end_ms" -> ms(t3), "latency_ms" -> s.ms,
      "shared_keys" -> s.sharedKeys))
    Seq(("build", t0, t1), ("plan", t1, t2), ("exec", t2, t3)).foreach { case (ph, a, b) =>
      span(Map("kind" -> ph, "id" -> s"${s.group}#$ph", "parent" -> s.group,
        "trace" -> s.group, "start_ms" -> ms(a), "end_ms" -> ms(b)))
    }
  }

  /** Runs `load` alone three times under its own job group: median scan ms
    * and the input records and bytes of one scan.
    */
  def tableScan(load: () => DataFrame): Map[String, Double] = {
    val sc = spark.sparkContext
    val times = (1 to 3).map { i =>
      sc.setJobGroup(s"tables#$i", "tables")
      val t0 = System.nanoTime()
      load().write.format("noop").mode("overwrite").save()
      sc.clearJobGroup()
      (System.nanoTime() - t0) / 1e6
    }
    PerfbenchAccess.drain(sc)
    synchronized {
      val a = aggs.getOrElse("tables#3", new Agg)
      Map("tables.scan_ms" -> Harness.median(times),
        "tables.input_records" -> a.inputRecords.toDouble,
        "tables.input_bytes" -> a.inputBytes.toDouble)
    }
  }

  /** Per-layer metrics over the measured samples, as means per operation. */
  def layers(samples: Seq[Sample], measuredS: Double, gcMs: Long): Map[String, Double] = {
    PerfbenchAccess.drain(spark.sparkContext)
    synchronized {
      val n = samples.size.max(1).toDouble
      // A batch query's jobs sit under its three phase groups.
      def groups(s: Sample): Seq[Agg] =
        if (s.progress.isDefined) aggs.get(s.group).toSeq
        else Seq("build", "plan", "exec").flatMap(p => aggs.get(s"${s.group}#$p"))
      val all = samples.flatMap(groups)
      def sum(f: Agg => Double) = all.map(f).sum
      val build = samples.flatMap(s => aggs.get(s"${s.group}#build"))
      val progress = samples.flatMap(_.progress)
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def pmean(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        if (progress.isEmpty) 0.0 else progress.map(f).sum / progress.size
      val isStream = progress.nonEmpty
      val skews = all.flatMap(_.skews)
      Map(
        "operators.build_ms" -> samples.map(_.buildMs).sum / n,
        "operators.build_jobs" -> build.map(_.jobs).sum / n,
        "catalyst.plan_ms" ->
          (if (isStream) pmean(dur(_, "queryPlanning")) else samples.map(_.planMs).sum / n),
        "scheduler.jobs" -> sum(_.jobs) / n,
        "scheduler.stages" -> sum(_.stages) / n,
        "scheduler.stages_skipped" -> sum(_.skipped) / n,
        "scheduler.tasks" -> sum(_.tasks) / n,
        "scheduler.exec_ms" -> sum(_.execMs) / n,
        "scheduler.task_run_ms" -> sum(_.runMs) / n,
        "scheduler.task_cpu_ms" -> sum(_.cpuMs) / n,
        "scheduler.parallelism" -> sum(_.runMs) / (measuredS * 1000),
        "scheduler.max_task_skew" -> (if (skews.isEmpty) 1.0 else Harness.median(skews.toSeq)),
        "scheduler.shuffle_write_bytes" -> sum(_.shuffleWrite) / n,
        "scheduler.shuffle_read_bytes" -> sum(_.shuffleRead) / n,
        "scheduler.spill_bytes" -> sum(_.spill) / n,
        "cache.shared_keys" -> samples.map(_.sharedKeys).sum / n,
        "jvm.gc_ms" -> gcMs / n,
        "streaming.add_batch_ms" -> pmean(dur(_, "addBatch")),
        "streaming.query_planning_ms" -> pmean(dur(_, "queryPlanning")),
        "streaming.commit_ms" -> pmean(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
        "streaming.state_commit_ms" -> pmean(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
        "streaming.state_rows" -> pmean(_.stateOperators.map(_.numRowsTotal).sum.toDouble),
        "streaming.state_memory_bytes" -> pmean(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble),
        "streaming.late_rows" ->
          progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
    }
  }

  def writeSpans(path: String): Unit = {
    val body = synchronized(spans.map(Json.value).mkString("[\n", ",\n", "\n]\n"))
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}
