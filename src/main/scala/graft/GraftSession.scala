package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder every graft entry point and the spec
  * harness share: `local[cpus]` with the shuffle width pinned to `cpus`,
  * UTC session time zone (the oracle compares dates as UTC), the web UI
  * off, and the driver log level set. `extraConf` carries an entry
  * point's own static settings on top. */
object GraftSession {

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def local(cpus: Int, logLevel: String = "WARN",
            extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
