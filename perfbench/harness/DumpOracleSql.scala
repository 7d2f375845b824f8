package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` for the benchmark's batch queries as JSON. */
object DumpOracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => Harness.telematics.contains(k) }
    Files.write(Paths.get(args(0)), Json.obj(sql).getBytes(StandardCharsets.UTF_8))
  }
}
