package graft.tools

import graft.{GraftSession, SparkEntry}

/** Prints the formatted physical plan of one or more SparkEntry queries.
  *
  *   sbt "runMain graft.tools.Explain /root/testdata/sf0.01 d4_ngram_jaccard"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    // extra confs: SPARK_GRAFT_CONF="k1=v1,k2=v2" (as ScalingCurve) —
    // e.g. autoBroadcastJoinThreshold=-1 to dump the forced-shuffle plan
    val spark = GraftSession.local(cpus = 4,
      conf = ("spark.sql.adaptive.enabled" -> "false") +:
        GraftSession.parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", "")))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
