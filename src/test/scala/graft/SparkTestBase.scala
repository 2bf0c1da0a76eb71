package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy; reused across suites within
  * a JVM via getOrCreate).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

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
}
