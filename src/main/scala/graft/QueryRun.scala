package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one loop over [[SparkEntry.queries]] that the harness mains
  * (`graft.Bench`, `graft.Verify`) share: the session they run in, the
  * query selection and the per-query measurement and release.
  *
  * Env: `SPARK_GRAFT_CPUS` (local cores), `SPARK_GRAFT_ONLY` (comma-
  * separated name prefixes), `SPARK_GRAFT_STRICT_CODEGEN=1` (a Janino
  * compile failure fails the query instead of falling back to
  * interpreted evaluation), `SPARK_GRAFT_CONF` (`k=v;;k=v` extra
  * session confs) and `SPARK_GRAFT_PLANS_OUT` (a directory that gets
  * each query's `explain("formatted")` as `<query>.txt`).
  */
object QueryRun {
  final case class Result(name: String, seconds: Double, failure: Option[Throwable],
                          layers: Layers)

  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `SPARK_GRAFT_CONF`'s entries; an empty segment (a trailing `;;`)
    * is skipped, an entry without `=` or with an empty key is an error.
    */
  private[graft] def confEntries(spec: String): Seq[(String, String)] =
    spec.split(";;").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => Some(k -> v)
        case Array("") => None
        case _ => sys.error(s"SPARK_GRAFT_CONF: malformed entry '$kv' — expected k=v")
      }
    }

  def session(defaultCpus: Int): SparkSession = {
    val strict = sys.env.get("SPARK_GRAFT_STRICT_CODEGEN").contains("1")
    val b = GraftSession.localBuilder(cpus(defaultCpus))
      .config("spark.sql.codegen.fallback", (!strict).toString)
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(confEntries)
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The queries sorted by name, kept when a name starts with one of
    * `only`'s comma-separated prefixes (all of them when `only` is
    * unset). The order matters: the consumers of a shared memo run
    * adjacently, so its pin is released right after the last of them.
    */
  def selected(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val prefixes = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.forall(_.exists(n.startsWith)) }
  }

  /** Builds each selected query on `sfDir` and passes it to `sink`,
    * timing and measuring both; a failure is recorded, not thrown. The
    * harness's memory is released after every query.
    */
  def run(spark: SparkSession, sfDir: String)(sink: (String, DataFrame) => Unit): Seq[Result] = {
    val plansOut = sys.env.get("SPARK_GRAFT_PLANS_OUT")
    plansOut.foreach(d => new java.io.File(d).mkdirs())
    selected(sys.env.get("SPARK_GRAFT_ONLY")).map { case (name, fn) =>
      val ((seconds, failure), layers) = RunRecorder.measure(spark, name) {
        val t0 = System.nanoTime()
        val failure = try {
          val df = fn(spark, sfDir)
          plansOut.foreach(d => java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"$name.txt"),
            df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)))
          sink(name, df)
          None
        } catch { case e: Throwable => Some(e) }
        ((System.nanoTime() - t0) / 1e9, failure)
      }
      SparkEntry.releaseBetweenQueries(spark)
      Result(name, seconds, failure, layers)
    }
  }
}
