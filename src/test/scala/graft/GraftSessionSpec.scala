package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("parseConf keeps a value that itself contains '='") {
    assert(GraftSession.parseConf(
      "spark.driver.extraJavaOptions=-XX:MaxInlineSize=100, spark.sql.adaptive.enabled = false") ==
      Seq("spark.driver.extraJavaOptions" -> "-XX:MaxInlineSize=100",
        "spark.sql.adaptive.enabled" -> "false"))
  }

  test("parseConf raises on an entry without '='") {
    val e = intercept[IllegalArgumentException](
      GraftSession.parseConf("spark.sql.shuffle.partitions=8,autoBroadcastJoinThreshold"))
    assert(e.getMessage.contains("autoBroadcastJoinThreshold"))
    intercept[IllegalArgumentException](GraftSession.parseConf("=8"))
  }

  test("parseConf of an empty string yields no entries") {
    assert(GraftSession.parseConf("").isEmpty)
  }
}
