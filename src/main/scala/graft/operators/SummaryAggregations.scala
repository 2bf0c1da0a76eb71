package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.summaries.{AdjacencyGraph, DisjointSet, ParityDisjointSet, SummaryCodecs}

/** O19 — the reference's summary-aggregation contract
  * (GS/GraphAggregation.java:~30–90): initial value, per-edge update fold,
  * associative+commutative combine of partials, final transform. This is a
  * 1:1 match for Spark's `Aggregator[IN, BUF, OUT]`: Catalyst plans a
  * per-partition partial fold followed by a merge of partials — the exact
  * topology the reference hand-builds in GS/WindowGraphAggregation.java:~45
  * ("key by partition, fold per window, merge at parallelism 1"), except
  * Spark's final merge is fault-tolerant and the partials are tiny
  * (≤|V| entries) so the single-partition final step is never the
  * bottleneck. The reference's `transientState` flag (reset vs grow across
  * windows) maps to windowed invocation (per-window groupBy) vs the
  * running-state streaming variant in [[graft.streaming.StreamingOps]].
  */
abstract class GraphAggregation[B <: AnyRef, OUT](implicit ct: ClassTag[B])
    extends Aggregator[(Long, Long), B, OUT] {
  def initial: B
  def updateFun(buf: B, src: Long, dst: Long): B
  def combineFun(a: B, b: B): B
  def transform(buf: B): OUT

  final override def zero: B = initial
  final override def reduce(b: B, e: (Long, Long)): B = updateFun(b, e._1, e._2)
  final override def merge(a: B, b: B): B = combineFun(a, b)
  final override def finish(b: B): OUT = transform(b)

  /** Fallback for user-defined summaries. The shipped summaries override
    * this with compact array-product codecs ([[SummaryCodecs]]) — at
    * billions of vertices the partial-merge wire format dominates the
    * aggregation cost, and packed long arrays beat Java serialization by
    * an order of magnitude in bytes and CPU.
    */
  override def bufferEncoder: Encoder[B] = Encoders.javaSerialization[B]
}

/** O21 — single-pass connected components via a mergeable union-find
  * summary (GS/library/ConnectedComponents.java:~40). Output: vertex →
  * min-vertex-id of its component. Monotone under the insert-only edge
  * model ⇒ identical result under any partition/merge order.
  */
class ConnectedComponentsAgg extends GraphAggregation[DisjointSet, Map[Long, Long]] {
  def initial = new DisjointSet
  def updateFun(b: DisjointSet, src: Long, dst: Long): DisjointSet = { b.union(src, dst); b }
  def combineFun(a: DisjointSet, b: DisjointSet): DisjointSet =
    if (a.parent.size >= b.parent.size) a.mergeFrom(b) else b.mergeFrom(a)
  def transform(b: DisjointSet): Map[Long, Long] = b.components
  override def bufferEncoder: Encoder[DisjointSet] = SummaryCodecs.disjointSetEncoder
  override def outputEncoder: Encoder[Map[Long, Long]] = ExpressionEncoder()
}

/** O22 — single-pass bipartiteness check
  * (GS/library/BipartitenessCheck.java:~40): union-find with per-vertex
  * parity; an odd cycle flips the absorbing conflict flag.
  */
class BipartitenessAgg extends GraphAggregation[ParityDisjointSet, Boolean] {
  def initial = new ParityDisjointSet
  def updateFun(b: ParityDisjointSet, src: Long, dst: Long): ParityDisjointSet = {
    b.addEdge(src, dst); b
  }
  def combineFun(a: ParityDisjointSet, b: ParityDisjointSet): ParityDisjointSet =
    if (a.parent.size >= b.parent.size) a.mergeFrom(b) else b.mergeFrom(a)
  def transform(b: ParityDisjointSet): Boolean = b.isBipartite
  override def bufferEncoder: Encoder[ParityDisjointSet] = SummaryCodecs.parityDisjointSetEncoder
  override def outputEncoder: Encoder[Boolean] = Encoders.scalaBoolean
}

/** O23 — streaming k-spanner (GS/library/Spanner.java:~40): add an edge
  * only if the current summary distance between its endpoints exceeds k.
  * Order-sensitive (any run yields A valid k-spanner, not THE same one) —
  * property-checked in tests, excluded from hash oracles per SURVEY §2.9.
  */
class SpannerAgg(k: Int) extends GraphAggregation[AdjacencyGraph, Seq[(Long, Long)]] {
  def initial = new AdjacencyGraph(k)
  def updateFun(b: AdjacencyGraph, src: Long, dst: Long): AdjacencyGraph = {
    b.addEdgeIfFar(src, dst); b
  }
  def combineFun(a: AdjacencyGraph, b: AdjacencyGraph): AdjacencyGraph =
    if (a.adj.size >= b.adj.size) a.mergeFrom(b) else b.mergeFrom(a)
  def transform(b: AdjacencyGraph): Seq[(Long, Long)] = b.edgeList
  override def bufferEncoder: Encoder[AdjacencyGraph] = SummaryCodecs.adjacencyGraphEncoder
  override def outputEncoder: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
}

object SummaryAggregations {
  /** Run a summary aggregation over an edge DataFrame, reference entry
    * point `aggregate(…)` (GS/SimpleEdgeStream.java:~400).
    */
  def run[B <: AnyRef, OUT](edges: DataFrame, agg: GraphAggregation[B, OUT]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .select(agg.toColumn)
      .toDF("summary")
  }

  /** Connected components as (id, component) rows. */
  def connectedComponents(edges: DataFrame): DataFrame =
    run(edges, new ConnectedComponentsAgg)
      .select(explode(col("summary")))
      .toDF("id", "component")

  /** O20 with `transientState=true`: an independent summary per tumbling
    * window, reset between windows (GS/WindowGraphAggregation.java:~45).
    * Groups by `win`, by default the input's `win` column (e.g. from
    * [[graft.model.GraphFixtures.coPurchaseWindowed]]); a stream passes
    * its `window()` column itself, so the aggregation keys on the
    * watermarked event time. Output: (win, id, component).
    */
  def connectedComponentsPerWindow(windowedEdges: DataFrame,
                                   win: Column = col("win")): DataFrame = {
    val ccUdaf = udaf(new ConnectedComponentsAgg,
      ExpressionEncoder[(Long, Long)]())
    windowedEdges
      .groupBy(win.as("win"))
      .agg(ccUdaf(col("src"), col("dst")).as("m"))
      .select(col("win"), explode(col("m")))
      .toDF("win", "id", "component")
  }

  /** Bipartiteness as a single boolean row. */
  def bipartiteness(edges: DataFrame): DataFrame =
    run(edges, new BipartitenessAgg).toDF("bipartite")

  /** k-spanner edge list as (src, dst) rows. */
  def spanner(edges: DataFrame, k: Int): DataFrame =
    run(edges, new SpannerAgg(k))
      .select(explode(col("summary")).as("e"))
      .select(col("e._1").as("src"), col("e._2").as("dst"))
}
