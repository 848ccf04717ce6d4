package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The one session definition shared by every main and by the specs,
  * so no entry point can plan differently from the others. */
object GraftSession {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time,
    * parquet nanosecond timestamps read as longs, no UI, the optimizer
    * rule [[operators.BoundedWindow]] replaces excluded, log level WARN. */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", operators.BoundedWindow.ExcludedRule)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stops streaming-state maintenance before the session: its
    * scheduled task outlives the SparkEnv, and its next tick would
    * print a stack trace into the log tail of any run that started a
    * stream. */
  def stop(spark: SparkSession): Unit = {
    Bridge.stopStateStoreMaintenance()
    spark.stop()
  }
}
