package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration — the one
  * place sessions get [[GraftExtensions]], which the engine requires (its
  * helpers call the native functions the extension registers; a session
  * without it fails analysis naming the missing function).
  *
  * Defaults chosen for the local[N] test harness; on a real cluster the same
  * builder is used with `master` left to spark-submit and shuffle partitions
  * sized to ~2-3x total cores (AQE coalesces down at runtime).
  */
object GraftSession {
  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores INT64 TIMESTAMP(NANOS); Spark's reader only
      // supports it as a raw long (converted in sources.Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
