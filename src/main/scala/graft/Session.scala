package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession setup every main shares: `local[cpus]`, shuffle
  * partitions = cpus, UTC session time zone, UI off, WARN logs. Returns
  * the active session when one already exists (`getOrCreate`). */
object Session {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
