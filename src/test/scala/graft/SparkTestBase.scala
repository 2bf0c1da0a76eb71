package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  /** Runs `f` and returns its result with the stage count of each Spark
    * job it started, in start order. Jobs are matched by a job group that
    * `f`'s thread sets (SQL's broadcast and query-stage threads inherit
    * it); a marker job run after `f` flushes the listener bus.
    */
  def jobsDuring[A](f: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val stagesPerJob = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => stagesPerJob.add(e.stageInfos.size)
          case Some(g) if g == s"$group-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring")
      val a = f
      // listener events arrive in order: once the marker job is seen,
      // every job of `f` has been
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (a, stagesPerJob.asScala.toVector)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
