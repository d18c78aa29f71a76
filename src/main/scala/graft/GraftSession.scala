package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the graft mains. Every entry point gets
  * the same settings — UTC session zone (the events-ts and oracle epoch
  * contract), ANSI off, nanosecond parquet timestamps as longs, no UI —
  * and the graft SQL functions (`js_num`, `dot_f`, ...) registered before
  * any query runs. Only the master and the shuffle-partition count differ
  * between mains, so they are the arguments. */
object GraftSession {
  def apply(master: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft")
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    spark
  }
}
