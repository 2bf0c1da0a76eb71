package graft.operators

import org.apache.spark.graphx.{Edge => GXEdge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot algorithms via GraphX — the escape hatch for anything
  * genuinely iterative that the single-pass summaries cannot express
  * (the reference's `IterativeConnectedComponents` example used Flink's
  * DataStream.iterate feedback loop, GS/example/IterativeConnectedComponents
  * .java — SURVEY O26 maps it here: same results, Pregel on a snapshot).
  *
  * A "snapshot" is any batch edge DataFrame — e.g. one window of a
  * stream, or the accumulated edge log. These run Pregel supersteps over
  * partitioned RDDs; use them for cross-checks of the single-pass
  * operators.
  */
object Snapshots {

  def toGraphX(edges: DataFrame): Graph[Long, Double] = {
    val hasValue = edges.columns.contains("value")
    val es: RDD[GXEdge[Double]] = (
      if (hasValue) edges.select(col("src").cast("long"), col("dst").cast("long"), col("value").cast("double"))
      else edges.select(col("src").cast("long"), col("dst").cast("long"), lit(1.0)))
      .rdd.map(r => GXEdge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    Graph.fromEdges(es, defaultValue = 0L)
  }

  /** Connected components via GraphX Pregel; relabels each component by
    * its minimum vertex id to match the summary-aggregation contract.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cc: RDD[(VertexId, VertexId)] = toGraphX(edges).connectedComponents().vertices
    val df = cc.toDF("id", "cc0")
    // GraphX labels with min vertex id already; keep the alias contract
    df.select(col("id"), col("cc0").as("component"))
  }

  /** Exact triangle counts per vertex via GraphX (cross-check for
    * [[Triangles.perVertexCounts]]; requires canonical src<dst edges).
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    toGraphX(edges).triangleCount().vertices
      .toDF("id", "triangles")
      .where(col("triangles") > 0)
      .select(col("id"), col("triangles").cast("long"))
  }

  /** PageRank on a snapshot (not in the reference's surface; shipped as
    * the standard "what else do you do with a graph engine" capability).
    */
  def pageRank(edges: DataFrame, tol: Double = 0.001): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    toGraphX(edges).pageRank(tol).vertices.toDF("id", "rank")
  }
}
