package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main (and the test suite) starts from:
  * local[cpus], shuffle partitions = cpus, UTC session time zone, no UI,
  * WARN log level. `cpus` defaults to `SPARK_GRAFT_CPUS`. */
object Session {

  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def local(appName: String, cpus: Int = envCpus(4)): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
