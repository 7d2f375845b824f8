package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftbridge.GraftFunctions

/** `spark.sql.extensions` entry point: registers graft's native expressions
  * as SQL functions at session build.
  *
  *   GraftSession.local(conf =
  *     Seq("spark.sql.extensions" -> "graft.GraftSparkExtensions"))
  *
  * For an already-running session use
  * `org.apache.spark.sql.graftbridge.GraftFunctions.register(spark)`.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.inject(extensions)
}
