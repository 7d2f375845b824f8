package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + temp-dir fixtures for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Fresh temp dir usable as a `sfDir` for the (spark, dir) operators. */
  def tempSfDir(): String =
    Files.createTempDirectory("graft-test-").toString

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(cpus = 4, conf = Seq(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" ->
      Files.createTempDirectory("graft-warehouse-").toString))
}
