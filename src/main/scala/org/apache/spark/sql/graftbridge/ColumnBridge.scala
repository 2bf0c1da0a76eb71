package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` constructor; the
  * Column↔Expression bridge lives in `private[sql]` ExpressionUtils.
  * This is the minimal, standard shim extensions use: a subpackage of
  * `org.apache.spark.sql` re-exporting exactly the two conversions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Plan introspection the memo machinery needs: an eagerly
  * `localCheckpoint(true)`-ed Dataset's analyzed plan is a single
  * `LogicalRDD` wrapping exactly the RDD that was persisted — its id is
  * the one to pin against between-query unpersist sweeps. Reading it
  * directly replaces the racy "diff the context-global persistent-RDD
  * set and take the max" heuristic (ADVICE r3).
  */
object PlanBridge {
  def checkpointRddId(df: org.apache.spark.sql.DataFrame): Option[Int] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }

  /** `cp`, a `localCheckpoint`-ed Dataset, with its `LogicalRDD` leaf
    * carrying `stats` and no constraints in place of whatever the leaf
    * inherited from the plan it checkpointed ([[graft.Lineage.cut]]
    * passes the sizes it measured). The leaf's constructor and
    * `Dataset.ofRows` are `private[sql]`, hence this shim.
    */
  def withStats(cp: org.apache.spark.sql.DataFrame,
                stats: org.apache.spark.sql.catalyst.plans.logical.Statistics)
      : org.apache.spark.sql.DataFrame = {
    val leaf = cp.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val spark = cp.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // LogicalRDD is curried: (output, rdd, partitioning, ordering,
    // isStreaming, stream)(session, originStats, originConstraints)
    org.apache.spark.sql.classic.Dataset.ofRows(spark, leaf.copy()(spark, Some(stats), None))
  }
}
