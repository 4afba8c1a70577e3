package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession the mains run on: `local[<cores>]` with as many
  * shuffle partitions as cores, the UTC session time zone Verify grades
  * results in, the UI off and the given Spark log level. The core count
  * comes from `SPARK_GRAFT_CPUS`, else the main's default. A main passes
  * its own extra settings in `conf`.
  */
object LocalSession {
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def apply(defaultCpus: String = "32", logLevel: String = "WARN",
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val n = cpus(defaultCpus)
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
