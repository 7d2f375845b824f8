package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SparkPlan

import graft.{GraftSession, SparkEntry}

/** Writes PLANS.md: a per-query physical-plan audit (joins, exchanges,
  * codegen spans, scan pushdown evidence). Run with AQE disabled so the
  * static plan shows whole-stage-codegen boundaries; normal execution keeps
  * AQE on.
  *
  * Counting walks the plan TREE (graft.tools.PlanCounts), not the plan
  * string: `toString` prints an InMemoryRelation's cached BUILD plan as
  * inner children, so a query that reads a shared memo frame (the d4 pair
  * list under d6/d7/g1) would be charged the memo's whole build — 50+
  * phantom exchanges — when its runtime plan reads one cached frame. Tree
  * collection stops at the InMemoryTableScan leaf, matching what actually
  * executes; the audit reports the cached-read count per query so memo
  * reuse is visible rather than hidden.
  *
  *   sbt "runMain graft.tools.PlanAudit /root/testdata/sf0.01 PLANS.md"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.local(cpus = 4,
      conf = Seq("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit at " + dir + "\n\n"
    sb ++= "Generated by graft.tools.PlanAudit with AQE disabled so codegen\n"
    sb ++= "spans are visible statically (normal runs keep AQE on).\n"
    sb ++= "Counts walk the executed-plan tree and stop at InMemoryTableScan\n"
    sb ++= "leaves, so a query reading a shared memo frame is charged its\n"
    sb ++= "runtime plan, not the memo's build; `cached reads` counts those\n"
    sb ++= "leaves. Shared memo builds run once per process (CacheRegistry),\n"
    sb ++= "exactly as in the bench harness.\n"

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val planOpt: Either[String, SparkPlan] =
        try Right(fn(spark, dir).queryExecution.executedPlan)
        catch { case e: Throwable => Left(s"PLAN FAILED: ${e.getMessage}") }
      planOpt match {
        case Left(err) =>
          sb ++= s"\n## $name\n- $err\n"
        case Right(plan) =>
          val c = PlanCounts(plan)
          sb ++= s"\n## $name\n"
          sb ++= s"- joins: ${if (c.joins.isEmpty) "none" else c.joins.mkString("; ")}\n"
          sb ++= s"- shuffle exchanges: ${c.shuffles}, broadcast exchanges: ${c.broadcasts}, codegen spans: ${c.codegenSpans}"
          sb ++= (if (c.cachedReads > 0) s", cached reads: ${c.cachedReads}\n" else "\n")
          if (c.topk.nonEmpty) sb ++= s"- top-k operators: ${c.topk.mkString("; ")}\n"
          c.pushedFilters.take(3).foreach(p => sb ++= s"- ${p.take(160)}\n")
      }
    }
    graft.CacheRegistry.releaseShared()
    graft.CacheRegistry.releaseAll()

    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plan-audit] wrote $out")
    spark.stop()
  }
}
