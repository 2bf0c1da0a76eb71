package graft

import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** The per-round lineage cut ([[Lineage.cut]]): the leaf it returns
  * carries the measured row count and `UnsafeRow` bytes of what it
  * materialized, keeps the checkpointed output partitioning, and never
  * inherits the estimate of the plan it cut.
  */
class LineageSpec extends SparkTestBase {

  /** The statistics Catalyst plans with for `df`'s plan root. */
  private def leafBytes(df: DataFrame): BigInt = df.queryExecution.analyzed.stats.sizeInBytes

  /** Summed `UnsafeRow` bytes of `df`'s rows, computed apart from the cut. */
  private def unsafeBytes(df: DataFrame): Long = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      Iterator.single(it.map(r => toUnsafe(r).getSizeInBytes.toLong).sum)
    }.fold(0L)(_ + _)
  }

  /** The physical plan, exchanges included, before AQE re-plans
    * anything at run time (`df` is never executed here).
    */
  private def staticPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  test("Lineage.rows equals count(), on an empty frame too, and runs no job") {
    for ((name, df) <- Seq(
        "range over 4 partitions" -> spark.range(0, 1234, 1, 4).toDF(),
        "filtered to nothing" -> spark.range(0, 100, 1, 3).where(col("id") < 0).toDF(),
        "no partitions" -> spark.range(0, 0, 1, 2).toDF())) {
      val cut = df.cutLineage()
      val (rows, jobs) = jobsDuring(Lineage.rows(cut))
      assert(rows == df.count(), name)
      assert(rows == cut.count(), name)
      assert(jobs.isEmpty, s"$name: Lineage.rows ran $jobs")
      assert(cut.queryExecution.analyzed.stats.rowCount.contains(BigInt(rows)), name)
    }
    val cut = spark.range(0, 1234, 1, 4).toDF().cutLineage()
    val (_, countJobs) = jobsDuring(cut.count())
    info(s"count() on a cut frame ran ${countJobs.size} jobs (stages per job: $countJobs)")
  }

  test("the leaf's sizeInBytes is the summed UnsafeRow bytes, strings at full length") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, "x" * (40 + i % 97), s"row-$i"))
      .toDF("id", "text", "tag").repartition(3)
    val cut = df.cutLineage()
    val bytes = unsafeBytes(cut)
    assert(leafBytes(cut) == BigInt(bytes))
    // Catalyst's per-row estimate counts each string as 20 bytes: it
    // would undersize this frame
    val estimated = EstimationUtils.getSizePerRow(cut.queryExecution.analyzed.output) * 300
    assert(BigInt(bytes) > estimated, s"measured $bytes vs estimated $estimated")
  }

  test("repartition(col(\"u\")).cutLineage() keeps its partitioning: a join on u shuffles only the other side") {
    // no broadcast, and no AQE: under AQE the checkpointed plan's
    // partitioning is the final re-planned one (coalesced here to one
    // partition of unknown layout), for Spark's own localCheckpoint too
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val byU = spark.range(0, 200, 1, 3).select((col("id") % 17).as("u"), col("id").as("x"))
        .repartition(col("u")).cutLineage()
      val other = spark.range(0, 100, 1, 2).select((col("id") % 17).as("u"), col("id").as("y"))
      val plan = staticPlan(byU.join(other, "u"))
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, plan.treeString)
      assert(exchanges.forall(_.collectFirst { case s: RDDScanExec => s }.isEmpty),
        s"the cut side was shuffled again:\n${plan.treeString}")
    }
  }

  test("60 rounds of a cut self-join: every leaf carries its measured bytes, no estimate compounds") {
    var t = spark.range(0, 40, 1, 2).select(col("id").as("k"), (col("id") % 7).as("v"))
      .cutLineage()
    val started = System.nanoTime()
    for (round <- 1 to 60) {
      val next = t.join(t.select(col("k"), col("v").as("v2")), "k")
        .select(col("k"), ((col("v") * 3 + col("v2") + round) % 1000).as("v"))
      // the round plan's estimate multiplies the two leaves' bytes once;
      // an inherited estimate would square again every round
      val estimate = next.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(estimate.bitLength < 64, s"round $round: estimate $estimate")
      t = next.cutLineage()
      assert(leafBytes(t) == BigInt(unsafeBytes(t)), s"round $round")
      assert(Lineage.rows(t) == 40L, s"round $round")
    }
    val seconds = (System.nanoTime() - started) / 1e9
    assert(seconds < 300, s"60 rounds took $seconds s")
  }

  test("cut frames broadcast on their measured size, and not above autoBroadcastJoinThreshold") {
    val a = spark.range(0, 500, 1, 2).select(col("id").as("k"), (col("id") * 3).as("a"))
      .cutLineage()
    val b = spark.range(0, 400, 1, 2).select(col("id").as("k"), (col("id") * 5).as("b"))
      .cutLineage()
    val smaller = leafBytes(a).min(leafBytes(b))
    def broadcasts(threshold: BigInt): Boolean =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
        staticPlan(a.join(b, "k")).collectFirst { case j: BroadcastHashJoinExec => j }.nonEmpty
      }
    assert(broadcasts(smaller), "a side at the threshold is broadcast statically")
    assert(!broadcasts(smaller - 1), "both sides above the threshold must not broadcast")
  }

  test("Lineage.rows throws on a frame that is not a cut leaf") {
    val cut = spark.range(0, 10).toDF().cutLineage()
    for ((name, df) <- Seq(
        "plain range" -> spark.range(0, 10).toDF(),
        "projection of a cut frame" -> cut.select(col("id") + 1),
        "filter of a cut frame" -> cut.where(col("id") > 3),
        "plain localCheckpoint" -> spark.range(0, 10).groupBy().count().localCheckpoint(true))) {
      val ex = intercept[IllegalArgumentException](Lineage.rows(df))
      assert(ex.getMessage.contains("not a cut leaf"), s"$name: $ex")
    }
  }
}
