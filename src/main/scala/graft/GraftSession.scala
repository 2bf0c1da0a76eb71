package graft

import org.apache.spark.sql.SparkSession

/** One-stop session builder with the engine's recommended configuration:
  * UTC, AQE, nanosecond-parquet compatibility, right-sized shuffle
  * partitions for local mode, and the [[GraftExtensions]] SQL functions.
  * Library users on a cluster should start from `configure` applied to
  * their own builder instead of `local`.
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    // events-style INT64 TIMESTAMP(NANOS) parquet reads as long nanos
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .withExtensions(new GraftExtensions)

  /** Local session: shuffle partitions = cores (not the 200 default). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val s = localBuilder(cores, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** [[local]]'s builder, for callers that add confs of their own before
    * `getOrCreate()`.
    */
  def localBuilder(cores: Int = Runtime.getRuntime.availableProcessors(),
                   appName: String = "graft"): SparkSession.Builder =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // single-box tuning: broadcasting a ~20MB side beats shuffling a
      // 40M-row probe side; lower on clusters with small executors
      .config("spark.sql.autoBroadcastJoinThreshold", "64m"))
}
