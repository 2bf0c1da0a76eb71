package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-phase (salted) skew-safe aggregations for power-law graphs.
  *
  * A `groupBy(vertex)` routes every row of a hot key through one
  * reducer; on a Zipf-distributed edge list the head vertex can own a
  * double-digit percent of all rows, so that one reducer becomes the
  * stage. Salting splits each key into `salts` sub-groups (salt = hash
  * of the OTHER endpoint — deterministic, no RNG, reproducible on any
  * engine), aggregates the sub-groups in parallel, then merges the
  * ≤`salts` sub-aggregates per key — bounding any reducer's share of a
  * hub at ~1/salts.
  *
  * When to use which (measured on a 10M-edge Zipf graph whose head
  * vertex owns 5% of all edges; SCALE.md, "Skew headroom"):
  *  - count/sum-like aggs: Spark's map-side partial aggregation already
  *    compresses a hub to ≤#partitions partial rows — [[saltedDegrees]]
  *    is the parity-checked template (q91 = q03's oracle), measured pure
  *    overhead (1.9 s → 3.4 s), never a win.
  *  - holistic aggs (collect_list/collect_set) whose partials are as
  *    large as their inputs: partial aggregation cannot compress them and
  *    the hub's whole neighbor list lands in one task buffer. Salting
  *    costs ~one extra full-data shuffle (measured 5.1 s → 9.9 s while
  *    the 500k-entry hub still fits a task), so [[saltedAdjacency]] is
  *    the FALLBACK for hubs whose lists exceed task memory (degree in
  *    the tens of millions), not a default — value-identical output
  *    makes it a safe one-line switch exactly there.
  */
object Salting {

  private def ends(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("id"), col("dst").cast("long").as("peer"))
      .unionAll(edges.select(col("dst").cast("long"), col("src").cast("long")))

  /** (id, degree) over the undirected view — result identical to
    * `GraphStream.getDegrees`, plan salted two-phase.
    */
  def saltedDegrees(edges: DataFrame, salts: Int = 16): DataFrame =
    ends(edges)
      .groupBy(col("id"), pmod(xxhash64(col("peer")), lit(salts)).as("salt"))
      .agg(count(lit(1)).as("d"))
      .groupBy("id").agg(sum("d").as("degree"))

  /** (id, nbrs) undirected adjacency lists with per-reducer hub share
    * bounded at ~1/salts; `nbrs` is sorted for deterministic output.
    */
  def saltedAdjacency(edges: DataFrame, salts: Int = 16): DataFrame =
    ends(edges)
      .groupBy(col("id"), pmod(xxhash64(col("peer")), lit(salts)).as("salt"))
      .agg(collect_list(col("peer")).as("part"))
      .groupBy("id").agg(array_sort(flatten(collect_list(col("part")))).as("nbrs"))

  /** Plain single-phase adjacency — the baseline SCALE.md's skew table
    * compares against (hub list materializes in one reducer).
    */
  def plainAdjacency(edges: DataFrame): DataFrame =
    ends(edges).groupBy("id").agg(array_sort(collect_list(col("peer"))).as("nbrs"))
}
