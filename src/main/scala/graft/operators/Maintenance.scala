package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared CDC carve-out of the C10 maintenance family — ONE
  * definition of the tombstone-wins net-edge resolution and the
  * affected-supergraph-component cut, so the convention can never
  * silently diverge across the maintained operators
  * ([[Communities.louvainMaintain]], [[Traversals.densestMaintain]],
  * [[Bipartiteness.bipartitenessMaintain]] — the same role
  * SparkEntry's `c10CdcSplits` plays for the query-side convention).
  *
  * Soundness contract the callers rely on: net = (old ∪ inserts) ∖
  * deletes; the supergraph is old ∪ inserts (deletes only ever shrink
  * a component, so a supergraph component untouched by any delta
  * endpoint has an identical induced net edge set); net components
  * REFINE supergraph components, so the affected vertex set is
  * component-closed in the net graph and one endpoint test classifies
  * an edge.
  */
private[operators] object Maintenance {

  /** Canonical undirected pairs: (u < v), self-loops dropped, exact
    * duplicates merged.
    */
  def canonPairs(df: DataFrame): DataFrame = df
    .select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
    .where(col("a") =!= col("b"))
    .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
    .distinct()

  /** Resolve a delta against the old edge set: returns
    * `(netEdges (u, v), affectedVertices (id))` — net under
    * tombstone-wins precedence, affected = every vertex of every
    * supergraph (old ∪ inserts) component containing a delta endpoint.
    * `labels`: the supergraph's stored `(id, component)` decomposition
    * when the deployment keeps one; computed fresh when absent.
    * `trace`, when given, records the affected-vertex count.
    */
  def carve(oldEdges: DataFrame, inserts: DataFrame, deletes: DataFrame,
            labels: Option[DataFrame],
            trace: Option[scala.collection.mutable.Buffer[Long]]): (DataFrame, DataFrame) = {
    val oldC = canonPairs(oldEdges).cutLineage()
    val insC = canonPairs(inserts).cutLineage()
    val delC = canonPairs(deletes).cutLineage()
    val netC = oldC.unionByName(insC).distinct()
      .join(delC, Seq("u", "v"), "left_anti")
      .cutLineage()
    val lbl = labels.getOrElse(ConnectedComponents.auto(
        oldC.unionByName(insC).distinct()
          .select(col("u").as("src"), col("v").as("dst"))))
      .select(col("id"), col("component"))
    val touched = insC.select(col("u").as("id"))
      .unionByName(insC.select(col("v").as("id")))
      .unionByName(delC.select(col("u").as("id")))
      .unionByName(delC.select(col("v").as("id")))
      .distinct()
    val affComps = lbl.join(touched, Seq("id"), "left_semi")
      .select(col("component")).distinct()
    val affVerts = lbl.join(affComps, Seq("component"), "left_semi")
      .select(col("id")).cutLineage()
    trace.foreach(_ += Lineage.rows(affVerts))
    (netC, affVerts)
  }
}
