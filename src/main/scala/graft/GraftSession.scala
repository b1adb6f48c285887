package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode SparkSession recipe shared by graft's entry points
  * (Bench, Verify, PlanDump, ScaleCheck) and the test suites. */
object GraftSession {

  def local(cpus: Int): SparkSession = local(cpus, cpus)

  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // events.ts is TIMESTAMP_NTZ; queries cast it to (ltz) timestamp,
      // exact only under a pinned UTC session timezone
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
