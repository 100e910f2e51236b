package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs on: `local[cores]` with the given
  * post-shuffle partition count, UTC session time zone, no UI. */
object LocalSession {
  def apply(cores: String, shufflePartitions: String,
            logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
