package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanCounts

/** Shared local SparkSession + temp-dir fixtures for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Fresh temp dir usable as a `sfDir` for the (spark, dir) operators. */
  def tempSfDir(): String =
    Files.createTempDirectory("graft-test-").toString

  /** Runs `f` with `conf` set on the shared session, then restores it. */
  def withConf[T](conf: (String, String)*)(f: => T): T = {
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `f` on the RocksDB state store provider, which the
    * transformWithState operators require, then restores the provider.
    */
  def withRocksDb[T](f: => T): T = withConf(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f)

  /** Run `f` with AQE disabled — the introspection mode PlanAudit uses
    * for PLANS.md, so every plan a spec pins matches what the audit
    * reports.
    */
  def withStaticPlan[T](f: => T): T = withConf("spark.sql.adaptive.enabled" -> "false")(f)

  /** Static (AQE-off) executed-plan counts. */
  def staticCounts(df: => DataFrame): PlanCounts =
    withStaticPlan(PlanCounts(df.queryExecution.executedPlan))

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(cpus = 4, conf = Seq(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" ->
      Files.createTempDirectory("graft-warehouse-").toString))
}
