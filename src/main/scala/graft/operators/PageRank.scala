package graft.operators

import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixed-point PageRank over a directed edge list.
  *
  * The GraphX bridge ([[Snapshots.pageRank]]) computes float ranks whose
  * last ulps depend on summation order, so it can only ever be
  * rows-checked. This variant keeps ranks in integer micro-units
  * (SCALE = 1e6) and uses integer division at every step, so the result
  * is bit-identical under any partitioning / parallelism / merge order —
  * an exact, oracle-checkable contract, at the cost of sub-micro-unit
  * precision (immaterial after the driver's 6-dp rounding anyway).
  *
  * Semantics (the simple non-redistributing form of the PageRank paper —
  * dangling mass is dropped, keeping every term integer):
  *
  *   r_0(v)    = SCALE
  *   r_{k+1}(v) = (15 * SCALE) div 100
  *              + (85 * Σ_{u→v} (r_k(u) div outdeg(u))) div 100
  *
  * The four entry points are this one round map with three inputs
  * varied: the per-arc share (`r div outdeg`, or `(r·w) div totw` for
  * [[weightedFixedPoint]]), the seed r_0 (SCALE, the previous ranks for
  * [[fixedPointFrom]], or SCALE·[v ∈ S] for [[personalized]]) and the
  * teleport mask (every vertex, or S for [[personalized]]). One
  * distributed loop and one one-task kernel ([[LocalRank]]) run them.
  *
  * Distributed shape — identical to float power iteration and the right
  * one at 100 TB: per round, one join of ranks against the (static,
  * pre-partitioned) edge list on `u` and one aggregation shuffle on `v`.
  * The edge list is hash-partitioned on `u` once and cut, so that each
  * round shuffles only the (|V|-sized) rank table; lineage is cut every
  * third round. The cut keeps that layout only when AQE does not re-plan
  * the repartition: under AQE a small edge list comes back as one
  * coalesced partition of unknown layout, and each round's join
  * shuffles it again (LineageSpec, "repartition(col("u")).cutLineage()
  * keeps its partitioning", runs with AQE off to show the kept layout).
  * Rounds are fixed (no convergence probe ⇒ no per-round driver action).
  */
object PageRank {

  val Scale = 1000000L

  /** `edges`: (src, dst, …) directed; returns (id BIGINT, rank BIGINT)
    * with rank in micro-units after `iters` rounds.
    *
    * `oneTaskBar` caps the session's twin-gate bar for this call only;
    * it exists for the perfbench harness, which still passes it, and
    * goes once perfbench sets `spark.graft.oneTaskBar` instead.
    */
  def fixedPoint(edges: DataFrame, iters: Int = 10,
                 oneTaskBar: Long = Long.MaxValue): DataFrame = {
    val e = arcsOf(edges)
    if (LocalGraph.oneTask("pagerank", e, cap = oneTaskBar))
      return LocalRank.pageRankLocal(e, iters, None)
    rounds(e, iters)
  }

  /** WARM-START maintenance for [[fixedPoint]] — the incremental leg of
    * the centrality family (the walk-maintenance view is Bahmani,
    * Chowdhury & Goel 2012; this is its simpler deterministic cousin,
    * the warm restart every production ranking pipeline runs on a
    * delta): the SAME integer round map over the NET graph, seeded
    * from the previous deployment's ranks instead of the uniform
    * start. Vertices new to the graph seed at SCALE; vanished vertices
    * drop with their rows. The output contract is the seeded
    * iteration's exact integer state after `iters` rounds — a pure
    * function of (net edges, prev ranks, iters) that the q240 oracle
    * replays bit-for-bit (base rounds → seed → warm rounds).
    *
    * WHY the contract is NOT "equals a cold recompute": integer
    * truncation gives the round map many stationary states — measured
    * on the C10 CDC fixture, warm and cold both go stationary but 83
    * vertices apart at sf0.001, and the cold iteration 2-cycles
    * forever at sf0.01 — so no round count makes the two bit-equal.
    * What warm-starting buys, and what the spec + tier-2 probe PROVE
    * with the per-round max-|Δ| sentinel (`trace`), is reaching any
    * stationarity tolerance in far fewer rounds after a small delta:
    * the previous ranks already sit within O(‖delta‖) of a stationary
    * state, while the uniform start must re-mix the whole graph.
    *
    * Passing an EMPTY `prev` reproduces [[fixedPoint]] exactly (every
    * seed coalesces to SCALE) — the spec's cold baseline arm.
    * `trace`, when given, records max per-vertex |Δrank| after each
    * round (micro-units; one extra action per round, certification
    * only — production leaves it None and pays no per-round barrier).
    */
  def fixedPointFrom(edges: DataFrame, prev: DataFrame, iters: Int = 5,
                     trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val e = arcsOf(edges)
    // `trace` callers (per-round Δ-sentinel probes) always take the
    // round path — the twin has no per-round driver channel
    if (LocalGraph.oneTask("pagerankFrom", e, cap = if (trace.isEmpty) Long.MaxValue else 0L))
      return LocalRank.pageRankLocal(e, iters, Some(prev))
    rounds(e, iters, prev = Some(prev), trace = trace)
  }

  /** Weighted PageRank: each out-edge carries mass proportional to its
    * integer weight (`value` cast to BIGINT) instead of 1/outdeg — the
    * per-arc share is `(rank·w) div totw(u)`, an independent exact
    * integer, so the inbound sum stays order-free. Arcs whose source has
    * `totw ≤ 0` propagate nothing; their endpoints keep their rows.
    * With every weight 1 this is [[fixedPoint]].
    */
  def weightedFixedPoint(edges: DataFrame, iters: Int = 10): DataFrame = {
    val e = edges.select(col("src").cast("long").as("u"),
      col("dst").cast("long").as("v"), col("value").cast("long").as("w"))
    if (LocalGraph.oneTask("weightedPagerank", e))
      return LocalRank.weightedPageRankLocal(e, iters)
    rounds(e, iters, weighted = true)
  }

  /** Personalized PageRank: the teleport term lands only on `sources`
    * instead of uniformly — the standard random-walk-with-restart
    * scoring used for seed-set expansion / related-item retrieval:
    *
    *   r_0(v)     = SCALE·[v ∈ S]
    *   r_{k+1}(v) = (15·SCALE div 100)·[v ∈ S]
    *              + (85 · Σ_{u→v} (r_k(u) div outdeg(u))) div 100
    *
    * With every vertex a source this is [[fixedPoint]].
    */
  def personalized(edges: DataFrame, sources: Seq[Long], iters: Int = 10): DataFrame = {
    val e = arcsOf(edges)
    if (LocalGraph.oneTask("personalizedPagerank", e))
      return LocalRank.personalizedLocal(e, sources, iters)
    rounds(e, iters, sources = Some(sources))
  }

  private def arcsOf(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))

  /** The one distributed round loop behind all four entry points, over
    * arcs `e` = (u, v[, w]), with the three inputs above: `weighted`
    * picks the `(rank·w) div totw` share over arcs with `totw > 0`,
    * `prev` or `sources` the seed, and `sources` the teleport mask.
    * With `trace`, every round is cut, its max |Δrank| recorded and the
    * superseded round released; otherwise every third round (and the
    * last) is cut.
    */
  private def rounds(e: DataFrame, iters: Int, weighted: Boolean = false,
                     prev: Option[DataFrame] = None, sources: Option[Seq[Long]] = None,
                     trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val (arcs, share) =
      if (weighted)
        (e.join(e.groupBy("u").agg(sum("w").as("totw")), "u").where(col("totw") > 0),
          "(rank * w) div totw")
      else (e.join(e.groupBy("u").agg(count(lit(1)).as("outdeg")), "u"), "rank div outdeg")
    // static per-round join input, partitioned once on the join key
    val eArc = arcs.repartition(col("u")).cutLineage()
    val ids = e.select(col("u").as("id")).union(e.select(col("v"))).distinct()
    val verts = sources.fold(ids)(s => ids.withColumn("is_src", col("id").isInCollection(s)))
      .cutLineage()
    def masked(x: Long) =
      if (sources.isEmpty) lit(x) else when(col("is_src"), lit(x)).otherwise(lit(0L))

    var ranks = prev match {
      case Some(p) => verts
        .join(p.select(col("id"), col("rank").as("pr")), Seq("id"), "left")
        .select(col("id"), coalesce(col("pr"), lit(Scale)).as("rank"))
        .cutLineage()
      case None => verts.select(col("id"), masked(Scale).as("rank"))
    }
    for (k <- 1 to iters) {
      val contrib = eArc
        .join(ranks, eArc("u") === ranks("id"))
        .select(col("v").as("id"), expr(share).as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      val next = verts
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (masked(15L * Scale / 100) + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
      trace match {
        case Some(buf) =>
          val nx = next.cutLineage()
          buf += nx.toDF("id", "nr")
            .join(ranks.toDF("id", "or"), Seq("id"))
            .agg(coalesce(max(abs(col("nr") - col("or"))), lit(0L)))
            .head().getLong(0)
          // release the superseded round's checkpoint — the Δ above was
          // its last reader, and a traced certification loop would
          // otherwise pin O(iters) |V|-sized frames (OOM'd live in
          // tier2prwarm at 2 × 30 rounds)
          org.apache.spark.sql.graftbridge.PlanBridge.checkpointRddId(ranks)
            .foreach(id => e.sparkSession.sparkContext.getPersistentRDDs
              .get(id).foreach(_.unpersist(false)))
          ranks = nx
        // no convergence probe ⇒ no need to materialize every round; cut
        // lineage every few rounds to bound plan depth without paying a
        // synchronous job barrier per iteration
        case None => ranks = if (k % 3 == 0 || k == iters) next.cutLineage() else next
      }
    }
    ranks
  }
}
