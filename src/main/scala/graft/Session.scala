package graft

import org.apache.spark.sql.SparkSession

/** The local Spark session of the command-line mains: `local[n]` with `n`
  * shuffle partitions, the UTC session time zone and no UI. */
object Session {

  /** Cores for a main: `SPARK_GRAFT_CPUS` if set, else `default`. */
  def cpus(default: Int = 32): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def local(n: Int, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
