package graft.operators

import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixed-point HITS (hubs & authorities, Kleinberg) over a
  * directed edge list, in integer micro-units — the same exact-contract
  * family as [[PageRank.fixedPoint]] (q54): every intermediate is a
  * non-negative integer and every division truncates, so any engine
  * replaying the same iteration count produces bit-identical scores
  * regardless of partitioning or summation order.
  *
  * Per round (classic mutual reinforcement, L∞-normalized):
  *
  *   a_raw(v) = Σ_{u→v} h(u)            (one join on u + agg on v)
  *   a(v)     = (a_raw(v)·SCALE) div max_w a_raw(w)
  *   h_raw(u) = Σ_{u→v} a(v)            (one join on v + agg on u)
  *   h(u)     = (h_raw(u)·SCALE) div max_w h_raw(w)
  *
  * L∞ (max) normalization replaces the textbook L2 norm precisely
  * because it stays in integers AND keeps the top score pinned at SCALE
  * independent of |V| — an L1 (sum) normalizer spreads SCALE total
  * micro-units across all vertices, so past |V| ≈ SCALE every value
  * truncates to 0 and the next normalizer divides by zero (found by the
  * 10M-vertex tier-2 smoke). The relative ordering and the convergence
  * fixpoint (principal eigenvectors of AᵀA / AAᵀ) are the same up to
  * scaling.
  *
  * Distributed shape at 100 TB: the edge list is static — partitioned
  * once on each join key and cut, so that each round shuffles only the
  * |V|-row score tables. The cut keeps that layout only when AQE does
  * not re-plan the repartition: under AQE a small edge list comes back
  * as one coalesced partition of unknown layout and is shuffled again
  * each round (LineageSpec, "repartition(col("u")).cutLineage() keeps
  * its partitioning", runs with AQE off to show the kept layout). The two normalizing maxima are
  * single-row aggregates cross-joined back (broadcast of one row — no
  * driver action inside the loop, no collect). Rounds are fixed, so no
  * per-round convergence probe either; lineage is cut every 3 rounds.
  *
  * Overflow: scores are ≤ SCALE after each normalization, so
  * a_raw ≤ indeg_max·SCALE and the normalizer multiplies by SCALE once
  * ⇒ terms stay ≤ indeg_max·10¹² — Long-safe up to degree ~9·10⁶
  * (documented caveat; spec-probed on the fixture graphs).
  *
  * Reference scope: gelly-streaming ships no HITS; this extends the
  * iterative family (GS/example/IterativeConnectedComponents.java:~40 is
  * the reference's only feedback-loop shape) with the second classic
  * link-analysis scorer users expect next to PageRank.
  */
object Hits {

  val Scale = 1000000L

  /** `edges`: (src, dst, …) directed. Returns (id BIGINT, hub_mu BIGINT,
    * auth_mu BIGINT) after `iters` rounds; vertices with no in-edges
    * carry auth_mu 0, vertices with no out-edges carry hub_mu 0.
    */
  def fixedPoint(edges: DataFrame, iters: Int = 5,
                 oneTaskBar: Long = LocalGraph.SymRowBar): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
    if (LocalGraph.oneTask("hits", e, oneTaskBar))
      return LocalRank.hitsLocal(e, iters, None)
    // Static per-round join inputs, partitioned once per join key.
    // MEMORY BILL: the edge list is checkpointed TWICE (u-keyed and
    // v-keyed) — 2x edge-list storage, traded deliberately so every
    // round's two joins reuse a co-located partitioning with zero
    // per-round exchanges. At 100 TB prefer this over re-shuffling the
    // edges 2x per round; the checkpoints are freed when the session's
    // block manager evicts them.
    val eByU = e.repartition(col("u")).cutLineage()
    val eByV = e.repartition(col("v")).cutLineage()
    val verts = e.select(col("u").as("id")).union(e.select(col("v")))
      .distinct().cutLineage()

    // The loop tables are SPARSE: auths holds only vertices with ≥1
    // in-edge, hubs (after round 1) only vertices with ≥1 out-edge. An
    // absent row is a 0 score, and a 0 contributes nothing to either
    // Σ — so dropping the per-round dense-vertex scaffold (two |V|
    // left-joins + coalesce per round in the original formulation)
    // changes NO value; the zeros are filled once, at the end. The
    // normalizing max is likewise unchanged (max of non-negatives
    // ignores absent zeros). q127's hash is the regression gate.
    var hubs = verts.withColumn("h", lit(Scale))
    var auths = verts.limit(0).withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      // each RAW table feeds TWO consumers — its one-row normalizing
      // max and the normalize projection — so it must materialize
      // EAGERLY: left lazy, the plan tree references it twice and the
      // doubling nests round over round (×4 per round, ×64 between the
      // old every-3-rounds cuts — measured 20.6 s at sf0.1; eager
      // per-round cuts land the same bit-identical scores at a
      // fraction of that). The join+agg runs exactly once per half-
      // round; everything downstream is a projection over its blocks.
      val araw = eByU.join(hubs, eByU("u") === hubs("id"))
        .groupBy(col("v").as("id")).agg(sum("h").as("r"))
        .cutLineage()
      val asum = araw.agg(max("r").as("t"))
      auths = araw.crossJoin(broadcast(asum))
        .select(col("id"), expr("(r * " + Scale + ") div t").as("a"))
      val hraw = eByV.join(auths, eByV("v") === auths("id"))
        .groupBy(col("u").as("id")).agg(sum("a").as("r"))
        .cutLineage()
      val hsum = hraw.agg(max("r").as("t"))
      hubs = hraw.crossJoin(broadcast(hsum))
        .select(col("id"), expr("(r * " + Scale + ") div t").as("h"))
    }
    verts.join(hubs, Seq("id"), "left").join(auths, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("hub_mu"),
        coalesce(col("a"), lit(0L)).as("auth_mu"))
  }

  /** WARM-START maintenance for [[fixedPoint]] —
    * [[PageRank.fixedPointFrom]]'s contract for the second
    * link-analysis scorer, completing the centrality family's
    * maintenance legs: the SAME integer round map over the NET graph,
    * with the HUB vector seeded from the previous deployment's scores
    * instead of the uniform SCALE start. Only the hub seed matters —
    * each round derives authorities from hubs first, so the hub vector
    * IS the iteration state (the power-iteration view: h is the AAᵀ
    * eigenvector iterate; a = f(h)). Vertices new to the net graph
    * seed at SCALE, vanished vertices drop with their rows, and a
    * previous hub of 0 (no out-edges in the old graph) seeds as the 0
    * it was.
    *
    * The output contract is the q240 one: the seeded iteration's exact
    * integer state after `iters` rounds — a pure function of
    * (net edges, prev scores, iters) the oracle replays bit-for-bit
    * (base rounds → seed → warm rounds); bit-equality to a cold
    * recompute is NOT claimed (integer truncation makes stationary
    * states non-unique — the measured q240 evidence). Passing an empty
    * `prev` reproduces [[fixedPoint]] exactly (every seed coalesces to
    * SCALE — the spec's cold arm). `trace`, when given, records the
    * per-round max |Δhub| in micro-units (certification only;
    * production passes None and pays no per-round barrier).
    */
  def fixedPointFrom(edges: DataFrame, prev: DataFrame, iters: Int = 3,
                     trace: Option[scala.collection.mutable.Buffer[Long]] = None,
                     oneTaskBar: Long = LocalGraph.SymRowBar): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
    // `trace` callers (per-round Δ-sentinel probes) always take the
    // round path — the twin has no per-round driver channel
    if (LocalGraph.oneTask("hitsFrom", e, if (trace.isEmpty) oneTaskBar else 0L))
      return LocalRank.hitsLocal(e, iters, Some(prev))
    val eByU = e.repartition(col("u")).cutLineage()
    val eByV = e.repartition(col("v")).cutLineage()
    val verts = e.select(col("u").as("id")).union(e.select(col("v")))
      .distinct().cutLineage()

    var hubs = verts
      .join(prev.select(col("id"), col("hub_mu").as("ph")), Seq("id"), "left")
      .select(col("id"), coalesce(col("ph"), lit(Scale)).as("h"))
      .cutLineage()
    var auths = verts.limit(0).withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      val prevHubs = hubs
      val araw = eByU.join(hubs, eByU("u") === hubs("id"))
        .groupBy(col("v").as("id")).agg(sum("h").as("r"))
        .cutLineage()
      val asum = araw.agg(max("r").as("t"))
      auths = araw.crossJoin(broadcast(asum))
        .select(col("id"), expr("(r * " + Scale + ") div t").as("a"))
      val hraw = eByV.join(auths, eByV("v") === auths("id"))
        .groupBy(col("u").as("id")).agg(sum("a").as("r"))
        .cutLineage()
      val hsum = hraw.agg(max("r").as("t"))
      hubs = hraw.crossJoin(broadcast(hsum))
        .select(col("id"), expr("(r * " + Scale + ") div t").as("h"))
      trace.foreach { buf =>
        val nx = hubs.cutLineage()
        // absent rows are zeros on either side: full join, zero-fill
        buf += nx.toDF("id", "nh")
          .join(prevHubs.select(col("id"), col("h").as("oh")), Seq("id"), "full")
          .agg(coalesce(max(abs(coalesce(col("nh"), lit(0L)) -
            coalesce(col("oh"), lit(0L)))), lit(0L)))
          .head().getLong(0)
        hubs = nx
      }
    }
    verts.join(hubs, Seq("id"), "left").join(auths, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("hub_mu"),
        coalesce(col("a"), lit(0L)).as("auth_mu"))
  }
}
