package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The per-round lineage cut for iterative operators. */
object Lineage {

  /** Local-checkpoint `df` and measure what the checkpoint holds, in the
    * one job that materializes it.
    *
    * The result is a single `LogicalRDD` leaf (Spark's own
    * `localCheckpoint` leaf, output partitioning and ordering kept) whose
    * statistics are the measured `sizeInBytes` (the summed `UnsafeRow`
    * bytes of every row) and `rowCount`. Catalyst therefore plans joins
    * against cut frames on their real sizes: a small cut frame is
    * broadcast statically, instead of both sides shuffling before AQE
    * switches to a broadcast. [[rows]] reads the count with no job.
    *
    * The leaf carries no statistics or constraints inherited from the
    * plan that produced it. Spark's `localCheckpoint` keeps the origin
    * plan's size estimate, and in a round loop whose output self-joins
    * the previous round's checkpoint that `BigInt` estimate compounds
    * (its digit count grows ~4× per round) until planning, not
    * execution, is the ceiling. A measured leaf starts every round from
    * the size of what was actually materialized, so join estimates
    * multiply within one round's plan but never across rounds.
    */
  def cut(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = false)
    val leaf = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    // runJob's own doCheckpoint then finds every partition cached
    val perPartition = cp.sparkSession.sparkContext.runJob(leaf.rdd, measure(leaf.schema))
    val out = org.apache.spark.sql.graftbridge.PlanBridge.withStats(cp, Statistics(
      sizeInBytes = perPartition.map(_._2).sum, rowCount = Some(perPartition.map(_._1).sum)))
    measured.put(leaf.rdd, java.lang.Boolean.TRUE)
    out
  }

  /** Rows of a frame [[cut]] returned, read from its measured statistics
    * with no job. Throws on any other frame (a projection or filter of a
    * cut frame included), so a misplaced call fails instead of running a
    * job.
    */
  def rows(df: DataFrame): Long = rowsIfCut(df).getOrElse(
    throw new IllegalArgumentException(
      "Lineage.rows: not a cut leaf (only a frame Lineage.cut returned carries a measured " +
        s"count); plan root is ${df.queryExecution.analyzed.nodeName}"))

  /** [[rows]], or None when `df` is not a cut leaf. */
  private[graft] def rowsIfCut(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed match {
      case r: LogicalRDD if measured.containsKey(r.rdd) => r.stats.rowCount.map(_.toLong)
      case _ => None
    }

  /** The checkpoint RDDs [[cut]] measured. Weak keys: an entry goes with
    * the last frame that holds its RDD.
    */
  private val measured = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], java.lang.Boolean]())

  /** Per partition: (rows, summed `UnsafeRow` bytes). */
  private def measure(schema: StructType): Iterator[InternalRow] => (Long, Long) = { it =>
    lazy val toUnsafe = UnsafeProjection.create(schema)
    var n = 0L
    var bytes = 0L
    it.foreach { row =>
      n += 1
      bytes += (row match {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      }).getSizeInBytes
    }
    (n, bytes)
  }

  /** Drop-in syntax for the cut: `df.cutLineage()` reads like the
    * `df.localCheckpoint(true)` it replaces at every per-round site.
    */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(): DataFrame = cut(df)
  }
}
