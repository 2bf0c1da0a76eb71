package graft.operators

import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components — two implementations with the same output
  * contract (id BIGINT, component BIGINT = min vertex id of component):
  *
  *  - [[SummaryAggregations.connectedComponents]]: the reference's
  *    single-pass mergeable union-find (GS/library/ConnectedComponents
  *    .java:~40). One job, no iteration; the merged summary is ≤|V|
  *    entries. Right choice while the vertex set fits in one task's
  *    memory (millions of vertices).
  *
  *  - [[ConnectedComponents.iterative]]: distributed min-label
  *    propagation with root hooking + shortcutting (the
  *    Shiloach–Vishkin shape). Every step is a handful of shuffles on
  *    vertex id; state never concentrates on one node, so it survives
  *    vertex sets far beyond single-task memory (the 100 TB path).
  *    Converges in O(log n) rounds INDEPENDENT of graph diameter or
  *    id placement (measured: a 1M-vertex random-id spanning tree in
  *    ~20 rounds, where frontier-only propagation needed hundreds);
  *    lineage is truncated per round via localCheckpoint to keep
  *    plans bounded; fails loud at the round cap instead of returning
  *    unconverged labels.
  */
object ConnectedComponents {

  /** Single-pass summary aggregation (reference parity). */
  def singlePass(edges: DataFrame): DataFrame =
    SummaryAggregations.connectedComponents(edges)

  /** Scale-adaptive CC — the subroutine entry point, and the only CC
    * leg choice in the operators: the [[LocalGraph.oneTask]] gate
    * decides between [[singlePass]] (per-task union-find buffer ∝
    * vertices — the cheap path while the vertex set fits task memory;
    * ≤ 2·bar vertices by construction, the bar being a quarter of the
    * session's: 1M edges by default) and [[iterative]] (the
    * shuffle-bound 100 TB path). Both paths share the exact (id,
    * component = min member id) output contract (spec-pinned equal),
    * so the choice is invisible to callers. The bar sits below the
    * single-pass buffer's measured ceiling (an 8.3M-vertex javaSer OOM
    * in the component-local Louvain; 2M vertices ≈ 1M edges of margin
    * below it). Operators that ARE the iterative demonstration (q28)
    * keep calling [[iterative]] directly.
    */
  def auto(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // probe the projection directly — [[iterative]] checkpoints its own
    // symmetrized frame, so no copy of the full edge set just to decide
    if (LocalGraph.oneTask("connectedComponents", e, div = 4)) singlePass(e)
    else iterative(e, maxIter)
  }

  /** Scalable iterative CC. `edges`: (src, dst, …).
    *
    * Each round is hooking + shortcutting (the Shiloach–Vishkin 1982
    * shape, the standard PRAM CC with O(log n) round bound):
    *
    *  1. propagate: l' = min over {own label} ∪ {neighbor labels};
    *  2. HOOK: every vertex whose label just improved tells its OLD
    *     root the new minimum (one aggregation over changed rows,
    *     keyed by the old label) — the root adopts it;
    *  3. shortcut: one pointer jump l ← label(l), which rebinds the
    *     root's whole fragment in the SAME round (members point at
    *     the root, the root now carries the improved label).
    *
    * The hook step is load-bearing, not an optimization: without it,
    * a label fragment is absorbed only by the frontier physically
    * crawling edge-by-edge to the fragment's root vertex — on a
    * high-diameter graph with RANDOM id placement (a 1M-vertex
    * spanning tree) that measured >50 rounds and, under the old
    * silent cap, returned 241 components for a connected tree. The
    * sequential-id path probe that looked fine was the best case,
    * not the typical one. Soundness of the hook: the candidate label
    * is the id of a vertex connected to the teller, and the teller is
    * connected to its old root — so the root only ever adopts labels
    * from inside its own component.
    *
    * Fails loud if maxIter rounds don't converge — an unconverged
    * label table is a WRONG answer, not a degraded one.
    */
  def iterative(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val sym = edges.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .union(edges.select(col("dst").cast("long"), col("src").cast("long")))
      .distinct()
      .cutLineage()

    var labels = sym.select(col("u").as("id")).distinct()
      .withColumn("l", col("id"))
      .cutLineage()

    var converged = false
    var iter = 0
    var prevSum = labels.agg(coalesce(sum("l"), lit(0L))).head().getLong(0)
    while (!converged && iter < maxIter) {
      // 1. min label among self + neighbors; keep the old label so the
      // hook step knows who improved
      val nbrMin = sym.join(labels, sym("v") === labels("id"))
        .groupBy(col("u")).agg(min(col("l")).as("nl"))
      val p1 = labels.join(nbrMin, labels("id") === nbrMin("u"), "left")
        .select(labels("id"), col("l").as("lo"),
          least(col("l"), coalesce(col("nl"), col("l"))).as("ln"))
      // 2. hook: improved vertices report min(new label) to their old
      // root; roots take the min of their own label and all reports
      val hooks = p1.where(col("ln") < col("lo"))
        .groupBy(col("lo")).agg(min(col("ln")).as("hl"))
        .select(col("lo").as("hid"), col("hl"))
      val p2 = p1.join(hooks, p1("id") === hooks("hid"), "left")
        .select(col("id"), least(col("ln"), coalesce(col("hl"), col("ln"))).as("l"))
      // 3. shortcut: l <- label(l)
      val lhs = p2.toDF("id", "l")
      val rhs = p2.toDF("id2", "l2")
      val jumped = lhs.join(rhs, lhs("l") === rhs("id2"), "left")
        .select(col("id"), coalesce(col("l2"), col("l")).as("l"))
        .cutLineage()
      val newSum = jumped.agg(coalesce(sum("l"), lit(0L))).head().getLong(0)
      converged = newSum == prevSum
      prevSum = newSum
      labels = jumped
      iter += 1
    }
    require(converged,
      s"iterative CC did not converge in $maxIter rounds — raise maxIter " +
        "(labels at the cap are WRONG, not approximate)")
    labels.select(col("id"), col("l").as("component"))
  }

  /** INCREMENTAL connected components — the daily-update path at
    * 100 TB: given the PREVIOUS decomposition's labels `(id,
    * component)` and a DELTA of new edges, produce the labels of the
    * grown graph WITHOUT touching the old edge set.
    *
    * Correctness: a component's label edges `(id → component)` form a
    * star that is connectivity-equivalent to the original component
    * (every member reaches the root in one hop), and component roots
    * are themselves member vertices — so CC over (label stars ∪ delta)
    * equals CC over (old edges ∪ delta), with min-label outputs
    * unchanged because the star preserves each component's member set.
    * Cost: ∝ |V| + |delta| instead of |E| + |delta| — on a corpus
    * where edges outnumber vertices 100:1, the daily recompute drops
    * by that factor. Spec-pinned ≡ full recompute; q186 hash-checks it
    * against the full-graph oracle.
    */
  def incremental(labels: DataFrame, delta: DataFrame, maxIter: Int = 50): DataFrame = {
    val stars = labels.select(col("id").cast("long").as("src"),
      col("component").cast("long").as("dst"))
    auto(stars.unionByName(delta.select(col("src").cast("long"),
      col("dst").cast("long"))), maxIter)
  }

  /** DECREMENTAL connected components — the retraction half of the
    * daily-update path ([[incremental]] handles inserts; takedowns and
    * re-crawls DELETE): given the previous labels, the previous edge
    * set and a set of deleted edges, produce the labels of the shrunk
    * graph by recomputing ONLY the components a deletion touches.
    *
    * Deleting an edge can only SPLIT its own component (connectivity
    * elsewhere is untouched), so: (1) components containing a deleted
    * edge are "affected"; (2) unaffected vertices keep their labels
    * verbatim; (3) affected components re-run [[iterative]] over their
    * induced surviving edges, with vertices isolated by the deletion
    * falling back to themselves. Edge identity is direction-insensitive
    * — (a,b) deletes (b,a) — and deleting an absent edge is a no-op.
    *
    * Relabel caveat: an affected component's pieces get fresh min-member
    * labels, which for the piece NOT containing the old min differ from
    * any label the insert-only path could produce — that is the correct
    * min-label contract, hash-checked by the q191 oracle (full CC over
    * E∖D). Spec pins the bridge-split and cycle-edge-no-op cases.
    *
    * Cost: one relabel pass over the old edges to carve out the
    * affected induced subgraphs, then CC work ∝ affected |V|+|E| only.
    * At 100 TB the old edge set is stored partitioned by component
    * label (the natural layout after a CC run), so the carve-out is a
    * partition-pruned read of the affected components, not a full scan.
    */
  def decremental(labels: DataFrame, oldEdges: DataFrame, deleted: DataFrame,
                  maxIter: Int = 50): DataFrame = {
    val lab = labels.select(col("id").cast("long").as("id"),
      col("component").cast("long").as("component"))
    val e = normEdges(oldEdges).cutLineage()
    val d = normEdges(deleted).cutLineage()
    // components with a deleted edge (both endpoints share a component
    // by the CC contract, so keying on one endpoint suffices)
    val affected = d.join(lab, d("a") === lab("id"))
      .select(col("component")).distinct().cutLineage()
    // induced surviving edges of the affected components
    val subE = e.join(d, Seq("a", "b"), "left_anti")
      .join(lab.toDF("a", "ca"), Seq("a"))
      .join(affected.toDF("ca"), Seq("ca"), "left_semi")
      .select(col("a"), col("b"))
    reassemble(lab, affected, subE, maxIter)
  }

  /** [[decremental]] over a component-PARTITIONED edge layout — the
    * deployment shape the plain operator's scaladoc promises: after a
    * CC run, the edge set is laid out with
    * `Sources.writePartitioned(edgesWithComponent, path, "component")`,
    * and the daily deletion pass reads ONLY the affected components'
    * directories. `edgesByComponent`: (src, dst, component) as read
    * back from that layout. The affected component ids are collected
    * to the driver (their count is bounded by |deleted| — the audited
    * loop-control class, like the per-round convergence scalars) and
    * pushed as a STATIC `isin` filter, which the parquet source turns
    * into PartitionFilters — directory pruning, not a full scan
    * (spec-asserted on the physical plan). Everything downstream is
    * [[decremental]]'s machinery and returns identical labels.
    *
    * Mass-retraction fence: a takedown wave touching millions of
    * components would inflate the plan with a million-literal `isin`
    * (plan-size blowup, not a data problem), so past `maxIsinLiterals`
    * the affected set stays distributed and prunes via a BROADCAST
    * left-semi join on the partition column instead — no plan-size
    * cliff, and the scan still skips unaffected partitions at runtime
    * through dynamic partition pruning / the broadcast filter. Both
    * paths return identical labels (spec-pinned).
    */
  def decrementalPartitioned(labels: DataFrame, edgesByComponent: DataFrame,
                             deleted: DataFrame, maxIter: Int = 50,
                             maxIsinLiterals: Int = 10000): DataFrame = {
    val lab = labels.select(col("id").cast("long").as("id"),
      col("component").cast("long").as("component"))
    val d = normEdges(deleted).cutLineage()
    val affected = d.join(lab, d("a") === lab("id"))
      .select(col("component")).distinct().cutLineage()
    // ONE driver job decides the fence AND supplies the literals: a
    // (cap+1)-row collect proves "over the cap" as well as a count does
    val ids = affected.limit(maxIsinLiterals + 1).collect().map(_.getLong(0))
    val pruned =
      if (ids.length <= maxIsinLiterals)
        edgesByComponent.where(col("component").isin(ids.map(Long.box): _*))
      else
        edgesByComponent.join(broadcast(affected), Seq("component"), "left_semi")
    val subE = normEdges(pruned).join(d, Seq("a", "b"), "left_anti")
    reassemble(lab, affected, subE, maxIter)
  }

  private def normEdges(e: DataFrame): DataFrame = e.select(
    least(col("src").cast("long"), col("dst").cast("long")).as("a"),
    greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
    .where(col("a") =!= col("b")).distinct()

  /** Shared decremental tail: re-run CC over the affected induced
    * edges, vertices isolated by the deletion fall back to themselves,
    * unaffected labels pass through verbatim.
    */
  private def reassemble(lab: DataFrame, affected: DataFrame,
                         subE: DataFrame, maxIter: Int): DataFrame = {
    val affVerts = lab.join(affected, Seq("component"), "left_semi")
      .select("id").cutLineage()
    val recc = auto(subE.select(col("a").as("src"), col("b").as("dst")),
      maxIter).toDF("id", "newc")
    val reassigned = affVerts.join(recc, Seq("id"), "left")
      .select(col("id"), coalesce(col("newc"), col("id")).as("component"))
    lab.join(affected, Seq("component"), "left_anti")
      .select("id", "component")
      .unionByName(reassigned)
  }
}
