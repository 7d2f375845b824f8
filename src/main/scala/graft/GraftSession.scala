package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, tool and spec builds its local
  * SparkSession here, so the conf they all need is written once.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with `cpus` shuffle partitions, the UTC session
    * time zone, INT64(NANOS) parquet timestamps read as longs (the driver
    * testdata carries them) and the UI off. `conf` is applied last, so an
    * entry overrides any of these, `spark.master` included.
    */
  def local(cpus: Int = GraftSession.cpus,
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** `k1=v1,k2=v2` → conf entries. A value keeps everything after its first
    * `=`, so `-XX:Flag=n` option strings survive; blank entries are skipped
    * and an entry without a key or an `=` raises.
    */
  def parseConf(s: String): Seq[(String, String)] =
    s.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"malformed conf entry '$kv': expected key=value")
      }
    }
}
