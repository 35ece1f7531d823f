package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the project's mains and test suites: a
  * local session with as many shuffle partitions as cores, a UTC session
  * time zone (`Tables` normalizes every timestamp encoding to UTC), no
  * UI, the [[GraftExtensions]] functions and plan rules, and WARN logs. */
object GraftSession {

  /** Cores of the driver-facing mains: `SPARK_GRAFT_CPUS`, or 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def local(appName: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
