package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy; reused across suites within
  * a JVM via getOrCreate), with the conf Bench and Verify run under
  * ([[GraftSession.localBuilder]]).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.localBuilder(4, "graft-test").getOrCreate()

  lazy val sf = "/root/testdata/sf0.001"

  /** Edge DF from (src, dst) pairs; value=1.0, ts from an ascending id. */
  def edgeDf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    pairs.zipWithIndex
      .map { case ((s, d), i) => (s, d, 1.0, i.toLong) }
      .toDF("src", "dst", "value", "seq")
      .withColumn("ts", timestamp_seconds(col("seq") * 60))
      .drop("seq")
  }

  def collectPairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Parquet files in each `ingest_batch=<b>` directory of the catalog
    * table `table`: the one-file-per-trigger write shape of the
    * persisted indexes' ingest tables.
    */
  def parquetFilesPerBatch(table: String): Map[String, Int] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    new java.io.File(wh, table).listFiles
      .filter(_.getName.startsWith("ingest_batch="))
      .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet")))
      .toMap
  }

  /** Runs `f` with the session confs `kv` set, then restores each key as
    * it was before, unsetting the keys that were unset.
    */
  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `f` at twin-gate bar 0: every operator gate called inside it
    * takes its distributed rounds ([[graft.operators.LocalGraph.oneTask]]).
    */
  def atBarZero[A](f: => A): A = withConf(graft.operators.LocalGraph.BarConf -> "0")(f)

  /** Runs `f` and returns its result with the completed-stage count of
    * each Spark job it started, in start order ([[RunRecorder.measure]]).
    */
  def jobsDuring[A](f: => A): (A, Seq[Int]) = {
    val (a, layers) = RunRecorder.measure(spark, "jobsDuring")(f)
    (a, layers.stagesPerJob)
  }
}
