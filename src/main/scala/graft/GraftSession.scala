package graft

import org.apache.spark.sql.SparkSession

/** One-stop session builder with the engine's recommended configuration:
  * UTC, AQE, nanosecond-parquet compatibility, right-sized shuffle
  * partitions for local mode, the [[GraftExtensions]] SQL functions, and
  * a codegen cache that compiles each generated class once per JVM.
  * Library users on a cluster should start from `configure` applied to
  * their own builder instead of `local`.
  */
object GraftSession {

  /** The engine's session conf. Two constants keep Janino from
    * compiling a class it has already compiled in this JVM:
    *
    *  - `spark.sql.codegen.cache.maxEntries = 5000` (static). Spark's
    *    default LRU holds 100 classes, and a `graph_distributed`
    *    perfbench pass cycles through more than 200 distinct ones, so
    *    every lookup missed: 210 compiles in the measured pass. A
    *    bar-0 PageRank, Louvain and betweenness run alone compiles 228.
    *    `CodeGenerator` fixes the size at the JVM's first codegen, so
    *    the session that runs it must be built through here.
    *  - `spark.sql.artifact.isolation.enabled = false`. Spark 4.1 gives
    *    every new or cloned session (`newSession()`, the replays'
    *    pinned clone, the session each streaming query runs on) an
    *    executor class loader of its own, and the codegen cache keys on
    *    (class loader, source), so each clone compiled again every class
    *    its tasks used: 22 compiles for a repeated connected-components
    *    replay, 184 in a measured `stream_ingest` pass. The engine adds
    *    no jars or artifacts to a session, so the isolation gives it
    *    nothing.
    *
    * With both, the measured pass compiles 14 classes on
    * `graph_distributed` and 5 on `stream_ingest` (4 cpus, seed 921).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    // events-style INT64 TIMESTAMP(NANOS) parquet reads as long nanos
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.artifact.isolation.enabled", "false")
    .withExtensions(new GraftExtensions)

  /** Local session: shuffle partitions = cores (not the 200 default). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val s = localBuilder(cores, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** [[local]]'s builder, for callers that add confs of their own before
    * `getOrCreate()`. Two listing thresholds are set out of reach, so
    * file and partition listing stays on the driver: above them Spark
    * lists with a job whose every task deserializes the whole Hadoop
    * `Configuration`, e.g. the 64-task listing and 4-task stats jobs of
    * a read or `saveAsTable` of the 64-directory dedup buckets table. In
    * local mode those tasks run in the driver's JVM anyway, so they buy
    * nothing. Left out of [[configure]], which clusters start from.
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
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      .config("spark.rdd.parallelListingThreshold", Int.MaxValue.toString))
}
