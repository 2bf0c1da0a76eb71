package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled stress centrality — exact INTEGER shortest-path counting.
  *
  * For each source s in a fixed sample: a forward BFS computes per
  * vertex its distance layer and σ(v) = the number of shortest s→v
  * paths (σ sums over the predecessor layer — pure integer DP on the
  * BFS DAG); a backward sweep computes p(v) = the number of DAG paths
  * descending from v (p(v) = Σ over successors w of 1 + p(w)). The
  * stress contribution of s at v (v ≠ s) is σ(v)·p(v) = the number of
  * shortest paths from s that pass THROUGH v to some strictly-deeper
  * target. Summing over the source sample gives sampled stress
  * centrality (Shimbel) — unlike betweenness there is no fractional
  * dependency split, so every intermediate is an exact integer and the
  * result hash-checks on any engine.
  *
  * Plan shape: the forward pass is the multi-source tagged frontier of
  * [[Traversals.egoSizes]] with a σ-sum instead of a dedup (work ∝
  * Σ reached, one keyed join + anti-join + agg per layer); the backward
  * pass replays the layers in reverse (one keyed join + agg per layer).
  * Layers are checkpointed — the BFS lineage discipline. Counts can
  * overflow Long on graphs with astronomically many equal-length paths;
  * the callers' fixture graphs are verified far from the edge (σ·p
  * maxima are spec-probed).
  */
object Centrality {

  /** Forward BFS DAG layers shared by the centrality operators:
    * layers(d) = (s, v, sig) with σ summed over the predecessor layer,
    * first-reached discipline via anti-join against everything settled
    * so far. Returns the layer list DEEPEST-FIRST. Fails loud (like the
    * SQL unrolls' (-1,-1) sentinel) if the frontier outlives maxDepth —
    * every centrality value would otherwise be silently undercounted.
    */
  private def forwardLayers(sym: DataFrame, sources: Seq[Long],
                            maxDepth: Int, opName: String): List[DataFrame] = {
    val spark = sym.sparkSession
    import spark.implicits._
    var layers = List(sources.toDF("s").select(col("s"), col("s").as("v"), lit(1L).as("sig"))
      .cutLineage())
    var settled = layers.head.select("s", "v").cutLineage()
    var d = 0
    var frontierSize = 1L
    while (frontierSize > 0 && d < maxDepth) {
      val nxt = layers.head.toDF("s", "m", "msig")
        .join(sym, col("m") === sym("u"))
        .groupBy(col("s"), col("v")).agg(sum(col("msig")).as("sig"))
        .join(settled, Seq("s", "v"), "left_anti")
        .cutLineage()
      frontierSize = Lineage.rows(nxt)
      if (frontierSize > 0) {
        layers ::= nxt
        settled = settled.unionByName(nxt.select("s", "v")).cutLineage()
        d += 1
      }
    }
    require(frontierSize == 0,
      s"$opName: BFS frontier still non-empty at maxDepth=$maxDepth " +
        s"($frontierSize (source, vertex) pairs unreached) — raise maxDepth; " +
        "results would undercount on deeper graphs")
    layers
  }

  /** (id, stress) for vertices with positive sampled stress. */
  def stressCentrality(edges: DataFrame, sources: Seq[Long],
                       maxDepth: Int = 20): DataFrame = {
    require(sources.nonEmpty, "stressCentrality: need at least one source")
    val sym = Traversals.symmetrize(edges).cutLineage()
    // the one-task leg mirrors the maxDepth budget exactly
    if (LocalGraph.oneTask("stressCentrality", sym))
      return LocalCentrality.centralityLocal(sym, sources, maxDepth, 0L,
        LocalCentrality.Stress, "stressCentrality")
    val layers = forwardLayers(sym, sources, maxDepth, "stressCentrality")

    // backward: p = 0 on the deepest layer; one reverse join per layer.
    // layers is deepest-first after the loop.
    var p = layers.head.select(col("s"), col("v"), lit(0L).as("p"))
    var acc = layers.head.select(col("s"), col("v"), col("sig"), lit(0L).as("p"))
    for (upper <- layers.tail) {
      val contrib = p.toDF("s", "w", "pw")
        .join(sym.toDF("v", "w"), Seq("w"))
        .groupBy(col("s"), col("v")).agg(sum(lit(1L) + col("pw")).as("p0"))
      val pUp = upper.select(col("s"), col("v"), col("sig"))
        .join(contrib, Seq("s", "v"), "left")
        .select(col("s"), col("v"), col("sig"),
          coalesce(col("p0"), lit(0L)).as("p"))
        .cutLineage()
      acc = acc.unionByName(pUp)
      p = pUp.select("s", "v", "p")
    }

    // only the successor edges (v in layer d, w in layer d+1) count —
    // the join above runs against full sym, so restrict: w must be a
    // settled vertex one layer deeper. That restriction is enforced
    // structurally: p rows exist only for the deeper layer, and a
    // same-layer or shallower neighbor w simply has no p row in the
    // frame being joined. (s, w) pairs outside the layer contribute
    // nothing.
    acc.where(col("v") =!= col("s"))
      .select(col("v"), (col("sig") * col("p")).as("g"))
      .groupBy(col("v").as("id")).agg(sum(col("g")).as("stress"))
      .where(col("stress") > 0)
  }

  /** Sampled HARMONIC closeness centrality in fixed-point micro-units:
    * close_mu(v) = Σ_{s ∈ sources, s≠v, v reachable} (scale div d(s,v)).
    * Harmonic (not classic reciprocal-of-sum) closeness so disconnected
    * pairs contribute 0 instead of poisoning the sum — the standard
    * choice on graphs that may not be connected. Each term is one
    * truncating integer division of non-negative operands, so the result
    * replays bit-exact on any engine (Spark `div` ≡ DuckDB `//`).
    *
    * Reuses the shared [[forwardLayers]] BFS (first-reach layer index =
    * exact distance); no backward pass — one union + keyed agg over the
    * layer list. Same lineage discipline and fail-loud maxDepth contract
    * as the other sampled-centrality operators.
    */
  def harmonicCloseness(edges: DataFrame, sources: Seq[Long],
                        maxDepth: Int = 20, scale: Long = 1000000L): DataFrame = {
    require(sources.nonEmpty, "harmonicCloseness: need at least one source")
    val sym = Traversals.symmetrize(edges).cutLineage()
    if (LocalGraph.oneTask("harmonicCloseness", sym))
      return LocalCentrality.centralityLocal(sym, sources, maxDepth, scale,
        LocalCentrality.Harmonic, "harmonicCloseness")
    val layers = forwardLayers(sym, sources, maxDepth, "harmonicCloseness")
    // layers is deepest-first: depth(layers(i)) = layers.length - 1 - i;
    // the depth-0 source layer contributes nothing (v == s there).
    val depthOf = layers.length - 1
    val contribs = layers.zipWithIndex.collect {
      case (l, i) if depthOf - i >= 1 =>
        l.select(col("v"), lit(scale / (depthOf - i)).as("c"))
    }
    require(contribs.nonEmpty,
      "harmonicCloseness: no vertex reachable from any source (isolated sources)")
    contribs.reduce(_ unionByName _)
      .groupBy(col("v").as("id")).agg(sum(col("c")).as("close_mu"))
  }

  /** Sampled BRANDES betweenness centrality in fixed-point micro-units
    * — the fractional dependency split made deterministic: the backward
    * accumulation δ(v) = Σ_{w ∈ succ(v)} (σ_v/σ_w)·(1 + δ(w)) runs
    * entirely in integers by carrying δ in micro-units (×`scale`) and
    * truncating each term once,
    *
    *   δµ(v) = Σ_w (σ_v · (scale + δµ(w))) div σ_w,
    *
    * so any engine replaying the same layer order and integer division
    * produces bit-identical values (operands are non-negative, so Spark
    * `div` and DuckDB `//` agree). Truncation error is bounded by the
    * successor count per term — micro-unit resolution, not correctness,
    * and the contract IS the formula above.
    *
    * Output: (id, btw_mu) = Σ_sources δµ, vertices with positive
    * dependency only. Same plan shape and lineage discipline as
    * [[stressCentrality]]: shared forward σ layers, one reverse join +
    * keyed agg per layer backward. Overflow caveat: σ_v·(scale + δµ)
    * must fit a Long — spec-probed on the fixture graphs like the
    * stress products.
    *
    * `oneTaskBar` caps the session's twin-gate bar for this call only;
    * it exists for the perfbench harness, which still passes it, and
    * goes once perfbench sets `spark.graft.oneTaskBar` instead.
    */
  def betweennessCentrality(edges: DataFrame, sources: Seq[Long],
                            maxDepth: Int = 20, scale: Long = 1000000L,
                            oneTaskBar: Long = Long.MaxValue): DataFrame = {
    require(sources.nonEmpty, "betweennessCentrality: need at least one source")
    val sym = Traversals.symmetrize(edges).cutLineage()
    if (LocalGraph.oneTask("betweennessCentrality", sym, cap = oneTaskBar))
      return LocalCentrality.centralityLocal(sym, sources, maxDepth, scale,
        LocalCentrality.Betweenness, "betweennessCentrality")
    val layers = forwardLayers(sym, sources, maxDepth, "betweennessCentrality")

    // backward: δµ = 0 on the deepest layer; each upper layer's vertices
    // collect the truncated per-successor terms. `lower` holds ONLY the
    // layer one deeper, so a same-layer or shallower neighbor simply has
    // no row in the joined frame — the successor restriction is
    // structural, as in the stress backward pass.
    var lower = layers.head.select(col("s"), col("v"), col("sig"), lit(0L).as("del"))
    var acc = lower
    for (upper <- layers.tail) {
      val contrib = lower.toDF("s", "w", "sigw", "delw")
        .join(sym.toDF("v", "w"), Seq("w"))
        .join(upper.select(col("s"), col("v"), col("sig").as("sigv")), Seq("s", "v"))
        .select(col("s"), col("v"),
          expr(s"(sigv * ($scale + delw)) div sigw").as("term"))
        .groupBy("s", "v").agg(sum(col("term")).as("d0"))
      val up = upper.select(col("s"), col("v"), col("sig"))
        .join(contrib, Seq("s", "v"), "left")
        .select(col("s"), col("v"), col("sig"),
          coalesce(col("d0"), lit(0L)).as("del"))
        .cutLineage()
      acc = acc.unionByName(up)
      lower = up
    }
    acc.where(col("v") =!= col("s"))
      .groupBy(col("v").as("id")).agg(sum(col("del")).as("btw_mu"))
      .where(col("btw_mu") > 0)
  }
}
