package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Community detection via synchronous label propagation (LPA) made
  * deterministic: every round, each vertex adopts the most frequent
  * label among its neighbors, ties broken by the SMALLEST label — a
  * fixed total order, so the round function is a pure function of the
  * previous labeling and any engine replaying it (the q110 oracle
  * unrolls the rounds in SQL) produces identical communities.
  * Asynchronous/randomized LPA — the textbook variant — is
  * order-sensitive by construction and would be rows-only; the
  * synchronous form trades a little convergence speed for a
  * hash-checkable contract.
  *
  * Plan per round: one join of the (symmetrized, checkpointed-once) edge
  * list against the |V|-sized label table, one (vertex, label) count
  * aggregation, one bounded per-vertex top-1 window, one keyed
  * left-join back (isolated vertices keep their label). Labels are
  * checkpointed per round — the BFS lineage discipline. Rounds are a
  * FIXED parameter (part of the semantic contract), not a fixpoint:
  * sync LPA can oscillate 2-cycles, so "run r rounds" is the honest,
  * reproducible spec.
  */
object Communities {

  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val sym = edges.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .union(edges.select(col("dst").cast("long"), col("src").cast("long")))
      .where(col("u") =!= col("v"))
      .distinct()
      .cutLineage()
    if (LocalGraph.oneTask("labelPropagation", sym))
      return LocalCommunities.lpaLocal(sym, rounds)
    var labels = sym.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
      .cutLineage()
    for (_ <- 1 to rounds) {
      val counts = sym.join(labels.toDF("v", "nl"), Seq("v"))
        .groupBy(col("u"), col("nl")).agg(count(lit(1)).as("c"))
      val top = counts
        .withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy(col("c").desc, col("nl").asc)))
        .where(col("rn") === 1)
        .select(col("u").as("id"), col("nl").as("new_label"))
      labels = labels.join(top, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_label"), col("label")).as("label"))
        .cutLineage()
    }
    labels
  }

  /** Deterministic greedy vertex coloring — Jones–Plassmann (public,
    * 1993) under the engine-portable priority order: a vertex is READY
    * when every neighbor with a smaller ([[graft.Portable.prio31]], id)
    * priority is already colored, and takes the smallest color unused
    * by those neighbors (the mex). The fixpoint equals the SEQUENTIAL
    * greedy coloring in priority order — one fixed total order, so any
    * engine replaying the rounds produces the identical coloring (the
    * q79 MIS determinism discipline applied to coloring); colors are
    * bounded by maxDegree+1 as for any greedy order. Coloring is the
    * standard parallel-scheduling primitive (conflict-free update
    * batches: all vertices of one color touch no shared edge).
    *
    * Per round (FUSED, r8 — the loop is driver-latency-bound, not
    * data-bound, so fewer jobs per round is the lever): ONE pass —
    * dep edges of still-uncolored vertices join the nullable-color
    * state table on the neighbor side, and a single aggregation yields
    * per vertex both `blocked` (any uncolored smaller-priority
    * neighbor survives) and `used` (the colored ones' colors);
    * unblocked vertices take the mex. One eager checkpoint + one
    * cached count per round, against the previous shape's two
    * checkpoints and four-join chain. Per-round work stays keyed on
    * the SHRINKING uncolored set (the dep scan is semi-joined on it
    * before anything widens); rounds = the priority DAG's depth
    * (logarithmic on random priorities), fail-loud at `maxRounds`.
    */
  def greedyColoring(edges: DataFrame, maxRounds: Int = 100,
                     trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val before0 = sc.getPersistentRDDs.keySet
    val sym = edges.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .union(edges.select(col("dst").cast("long"), col("src").cast("long")))
      .where(col("u") =!= col("v"))
      .distinct()
      .cutLineage()
    // the parallel fixpoint EQUALS the sequential greedy in (prio31, id)
    // order, which the one-task leg computes directly; `trace` callers
    // (round-shape probes) take the rounds
    if (LocalGraph.oneTask("greedyColoring", sym, cap = if (trace.isEmpty) Long.MaxValue else 0L))
      return LocalGraph.coloringLocal(sym).select(col("id"), col("color"))
    def pr(c: org.apache.spark.sql.Column) =
      struct(graft.Portable.prio31(c).as("p"), c.as("i"))
    // dependency edges: u waits on its smaller-priority neighbors v —
    // pre-partitioned ON u once, so that every round's semi-join can
    // reuse the layout instead of re-shuffling the edge table (the
    // uncolored side arrives partitioned by id ≡ u via the alias-aware
    // rule). The cut keeps the layout only when AQE does not re-plan
    // the repartition: under AQE a small edge table comes back as one
    // coalesced partition of unknown layout and each round shuffles it
    // again (LineageSpec's kept-partitioning test runs with AQE off)
    val dep = sym.where(pr(col("v")) < pr(col("u")))
      .repartition(col("u")).cutLineage()
    var state = sym.select(col("u").as("id")).distinct()
      .withColumn("color", lit(null).cast("long"))
      .cutLineage()
    // the setup checkpoints (sym, dep, initial state) are owned by this
    // call and released after the loop — only the FINAL state snapshot
    // survives, it IS the returned frame (ADVICE r7: the old shape
    // pinned three edge-scale tables for the session's life)
    val initIds: Seq[Int] = (sc.getPersistentRDDs.keySet -- before0).toSeq
    var remaining = Lineage.rows(state)
    var rounds = 0
    var ownedIds: Seq[Int] = Nil
    try {
      while (remaining > 0 && rounds < maxRounds) {
        val unc = state.where(col("color").isNull)
        val agg = dep.join(unc.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(state.select(col("id").as("v"), col("color").as("vc")), Seq("v"))
          .groupBy(col("u").as("id"))
          .agg(max(when(col("vc").isNull, 1).otherwise(0)).as("blocked"),
            collect_set(col("vc")).as("used"))
        val emptyArr = array().cast("array<bigint>")
        val mex = array_min(filter(
          sequence(lit(0L), size(coalesce(col("used"), emptyArr)).cast("long")),
          c => !array_contains(coalesce(col("used"), emptyArr), c)))
        val before = sc.getPersistentRDDs.keySet
        val newState = state.join(agg, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("color"),
              when(coalesce(col("blocked"), lit(0)) === 0, mex)).as("color"))
          .cutLineage()
        val left = newState.where(col("color").isNull).count()
        val fresh = (sc.getPersistentRDDs.keySet -- before).toSeq
        ownedIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
        ownedIds = fresh
        state = newState
        trace.foreach(_ += remaining - left) // colored this round
        remaining = left
        rounds += 1
      }
    } finally {
      initIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    }
    require(remaining == 0,
      s"greedyColoring: $remaining vertices uncolored after $maxRounds rounds — " +
        "raise maxRounds; a partial coloring is not the greedy fixpoint")
    // the final round's checkpoint is deliberately NOT unpersisted: the
    // returned frame reads it (locally-checkpointed frames are
    // unrecomputable once dropped); the harnesses clear residual blocks
    // between queries
    state
  }

  /** One synchronous greedy modularity-gain pass — the Louvain level-1
    * MOVE step, made deterministic and hash-checkable: every vertex
    * simultaneously evaluates moving to each neighboring community of
    * the CURRENT labeling, using the exact-integer gain
    *
    *   gain·2m² = 2m·(k_i,C − k_i,D∖i) − k_i·(Σtot_C − Σtot_D + k_i)
    *
    * (k_i,C = edges from i into C, Σtot_C = C's degree mass, D = i's
    * community) and adopts the best strictly-positive move, ties broken
    * by the SMALLEST target label. Because simultaneous moves can in
    * principle fight each other, the pass carries Louvain's monotonicity
    * contract explicitly: the refined labeling is kept only if the exact
    * integer modularity ([[integerModularity]]) did not decrease,
    * otherwise the input labeling is returned unchanged — so callers get
    * Q(refine(L)) ≥ Q(L) unconditionally, on any engine, with no
    * floating point anywhere.
    *
    * Plan: the per-round shape of [[labelPropagation]] (|V|-join +
    * bounded top-1 window) plus two |C|-sized aggregates for the gate —
    * nothing touches more than one |E| join per term.
    */
  def modularityRefine(edges: DataFrame, labels: DataFrame): DataFrame = {
    val c = edges.select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .cutLineage()
    val m = Lineage.rows(c)
    // sym rows ≤ 2m, so gating m at half the bar bounds the sym rows
    if (LocalGraph.oneTask("modularityRefine", c, div = 2))
      return LocalCommunities.refineLocal(c,
        labels.select(col("id"), col("label")))
    val sym = c.select(col("x").as("u"), col("y").as("v"))
      .union(c.select(col("y"), col("x")))
      .where(col("u") =!= col("v")).distinct()
      .cutLineage()
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("k"))
    val l0 = labels.select(col("id"), col("label")).cutLineage()
    val stot = l0.join(deg, Seq("id")).groupBy("label").agg(sum("k").as("stot"))
    val kic = sym.join(l0.toDF("v", "lv"), Seq("v"))
      .groupBy(col("u"), col("lv")).agg(count(lit(1)).as("kc"))
    val cur = l0.select(col("id").as("u"), col("label").as("lu"))
      .join(deg.toDF("u", "k"), Seq("u"))
      .join(stot.toDF("lu", "stotd"), Seq("lu"))
      .join(kic.toDF("u", "lu", "kd"), Seq("u", "lu"), "left")
      .select(col("u"), col("lu"), col("k"), col("stotd"),
        coalesce(col("kd"), lit(0L)).as("kd"))
    val best = cur.join(kic, Seq("u"))
      .where(col("lv") =!= col("lu"))
      .join(stot.toDF("lv", "stotc"), Seq("lv"))
      .select(col("u"), col("lv"),
        (lit(2L * m) * (col("kc") - col("kd"))
          - col("k") * (col("stotc") - col("stotd") + col("k"))).as("gain"))
      .where(col("gain") > 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy("u").orderBy(col("gain").desc, col("lv").asc)))
      .where(col("rn") === 1)
      .select(col("u").as("id"), col("lv").as("new_label"))
    val l1 = l0.join(best, Seq("id"), "left")
      .select(col("id"), coalesce(col("new_label"), col("label")).as("label"))
      .cutLineage()
    // the monotonicity gate: two exact-integer scalars
    val cd = c.toDF("src", "dst")
    if (integerModularity(cd, l1, m) >= integerModularity(cd, l0, m)) l1 else l0
  }

  /** FULL multi-level Louvain: `movesPerLevel` synchronous greedy move
    * passes (the [[modularityRefine]] contract generalized to WEIGHTED
    * graphs with self-loops), then graph coarsening — communities
    * collapse to single vertices, parallel edges sum their integer
    * weights, internal edges become self-loops — and the next level
    * repeats on the coarse graph. All arithmetic stays exact-integer:
    * coarse-graph weighted modularity with self-loop degrees counted
    * twice equals original-graph modularity for the induced labeling
    * (the classic Louvain invariant), so the per-pass monotonicity gate
    * and the per-pass history are globally comparable. The unroll is
    * FIXED (no data-dependent early exit): a pass from a stable
    * labeling is a no-op in any engine, which keeps the replayed SQL
    * oracle step-for-step identical.
    *
    * Labels live in the ORIGINAL vertex-id space throughout, so the
    * returned (id, community) needs no decode join. NAMING CAVEAT
    * (observed, not hypothetical): a synchronous move pass can strand a
    * vertex holding a label whose owner moved elsewhere in the same
    * pass, so a community's name is a vertex id but NOT guaranteed to
    * be a MEMBER's id in this plain variant — the oracle replays the
    * identical dynamics, so results still hash-match. The Leiden
    * variant ([[louvainLeiden]]) renames every community to its minimum
    * member each level as part of the refinement, restoring the
    * member-named guarantee.
    *
    * Plan per pass: one |E| join + two |V|-sized aggs + a bounded
    * per-vertex top-1 window + the two-scalar gate — the
    * [[modularityRefine]] shape; coarsening is one |E| relabel join +
    * keyed sum. Levels shrink geometrically, so level-2+ cost is noise.
    *
    * `oneTaskBar` caps the session's twin-gate bar for this call only;
    * it exists for the perfbench harness, which still passes it, and
    * goes once perfbench sets `spark.graft.oneTaskBar` instead.
    */
  def louvain(edges: DataFrame, levels: Int = 2, movesPerLevel: Int = 2,
              oneTaskBar: Long = Long.MaxValue): DataFrame =
    louvainCore(unitGraph(edges), levels, movesPerLevel, leiden = false,
      cap = oneTaskBar)._1

  /** [[louvain]] plus the per-pass exact-integer modularity history
    * (4m²·Q per accepted pass, in pass order) — the spec's monotonicity
    * probe. Always the round path (the history is a per-pass driver
    * record the one-task twin has no channel for).
    */
  private[graft] def louvainDetail(edges: DataFrame, levels: Int,
                                   movesPerLevel: Int): (DataFrame, Seq[Long]) =
    louvainCore(unitGraph(edges), levels, movesPerLevel, leiden = false,
      cap = 0L)

  /** [[louvain]] over a WEIGHTED edge list (src, dst, weight): parallel
    * edges sum their integer weights into the canonical graph, and the
    * move passes / modularity gates run on weighted k_i / Σtot — the
    * machinery was always weighted (coarse levels are), this entry
    * point just lets level 1 start weighted too. Long-exact while total
    * weight < ~1.5e9 (the [[weightedModularity]] envelope).
    */
  def louvainWeighted(edges: DataFrame, levels: Int = 2,
                      movesPerLevel: Int = 2): DataFrame =
    louvainCore(weightedGraph(edges), levels, movesPerLevel, leiden = false)._1

  /** Canonical unit-weight graph: u < v, distinct, w = 1. */
  private def unitGraph(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .select(col("u"), col("v"), lit(1L).as("w"))
      .cutLineage()

  /** Canonical weighted graph: u < v, parallel edges SUM their weights. */
  private def weightedGraph(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"),
        col("weight").cast("long").as("w0"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"),
        col("w0"))
      .groupBy("u", "v").agg(sum("w0").as("w"))
      .cutLineage()

  /** The shared multi-level loop behind [[louvain]], [[louvainWeighted]]
    * and [[louvainLeiden]]: per level, `movesPerLevel` gated move
    * passes, optionally the Leiden connectivity refinement, then
    * coarsening. Takes the canonical weighted graph (u < v, integer w).
    */
  private def louvainCore(g0: DataFrame, levels: Int, movesPerLevel: Int,
                          leiden: Boolean,
                          cap: Long = Long.MaxValue): (DataFrame, Seq[Long]) = {
    // the per-pass history is only produced by the round path (the
    // Detail spec probes)
    if (LocalGraph.oneTask("louvain", g0, div = 2, cap = cap))
      return (LocalCommunities.louvainLocal(g0, levels, movesPerLevel,
        leiden, compLocal = false), Nil)
    var g = g0
    val m = g.agg(coalesce(sum("w"), lit(0L))).head().getLong(0)
    var mapping = g.select(explode(array(col("u"), col("v"))).as("id")).distinct()
      .select(col("id"), col("id").as("cur"))
      .cutLineage()
    val hist = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (lvl <- 1 to levels) {
      var labels = g.select(explode(array(col("u"), col("v"))).as("id")).distinct()
        .select(col("id"), col("id").as("label"))
        .cutLineage()
      // coarsening preserves Q exactly, so the singleton labeling on a
      // coarse graph scores what the previous level ended at — one
      // evaluation at the very start covers every level boundary
      var curQ =
        if (lvl == 1) weightedModularity(g, labels, m) else hist.last
      for (p <- 1 to movesPerLevel) {
        val cand = weightedMovePass(g, labels, Left(m), p % 2)
        val candQ = weightedModularity(g, cand, m)
        if (candQ >= curQ) { labels = cand; curQ = candQ }
        hist += curQ
      }
      if (leiden) {
        // Leiden step: enforce internal connectivity before coarsening
        val refined = connectivityRefine(g, labels)
        val refinedQ = weightedModularity(g, refined, m)
        require(refinedQ >= curQ,
          s"connectivityRefine lowered exact-integer modularity ($curQ -> $refinedQ) " +
            "— impossible for a pure component split; the labeling is corrupt")
        labels = refined; curQ = refinedQ
        hist += curQ
      }
      mapping = mapping.join(labels.toDF("cur", "nl"), Seq("cur"))
        .select(col("id"), col("nl").as("cur"))
        .cutLineage()
      g = g.join(labels.toDF("u", "la"), Seq("u"))
        .join(labels.toDF("v", "lb"), Seq("v"))
        .select(least(col("la"), col("lb")).as("u"),
          greatest(col("la"), col("lb")).as("v"), col("w"))
        .groupBy("u", "v").agg(sum("w").as("w"))
        .cutLineage()
    }
    (mapping.toDF("id", "community"), hist.toSeq)
  }

  /** Leiden-style connectivity refinement: replace every community with
    * the connected components of its INDUCED subgraph, each named by its
    * minimum member id — so every output community is internally
    * connected BY CONSTRUCTION (the well-known Louvain defect this pass
    * repairs: greedy move passes can leave a community whose members are
    * only connected through vertices that subsequently moved away).
    *
    * The split can never lower exact-integer modularity: every
    * intra-community edge has both endpoints in one component (that is
    * what connectivity means), so Σ in_c is unchanged, while a community
    * splitting into degree masses a+b trades (a+b)² for a²+b² in the
    * Σtot² penalty — strictly smaller when both parts are non-empty.
    * The caller asserts that invariant on the exact integers rather than
    * gating (gating away the split would surrender the connectivity
    * guarantee, the entire point of the pass).
    *
    * Plan: one |E| two-sided label join to keep intra-community edges,
    * then connected components over them, then one |V| left join;
    * vertices with no intra-community edge become singletons named by
    * their own id. The CC leg is [[ConnectedComponents.auto]]'s: the
    * single-pass summary while the intra-community edges fit its twin
    * gate's bar, distributed min-label pointer jumping past it (and at
    * `spark.graft.oneTaskBar=0`). Both produce the identical min-id
    * labeling, so the switch is invisible to the oracle.
    */
  private[graft] def connectivityRefine(g: DataFrame, labels: DataFrame): DataFrame = {
    val l = labels.select(col("id"), col("label")).cutLineage()
    val intra = g.where(col("u") =!= col("v"))
      .join(l.toDF("u", "la"), Seq("u"))
      .join(l.toDF("v", "lb"), Seq("v"))
      .where(col("la") === col("lb"))
      .select(col("u").as("src"), col("v").as("dst"))
    l.join(ConnectedComponents.auto(intra).toDF("id", "rep"), Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("label"))
      .cutLineage()
  }

  /** [[louvain]] with Leiden's connectivity guarantee: after each
    * level's gated move passes, [[connectivityRefine]] splits any
    * internally-disconnected community into its connected parts before
    * coarsening, so every community at every level — and therefore every
    * FINAL community — is internally connected. All other contracts
    * (exact-integer arithmetic, fixed unroll, member-id community
    * names, per-pass monotone history) are [[louvain]]'s; the history
    * additionally records the post-refinement score per level, and the
    * refinement's never-decreases invariant is asserted fail-loud.
    */
  def louvainLeiden(edges: DataFrame, levels: Int = 2, movesPerLevel: Int = 2): DataFrame =
    louvainCore(unitGraph(edges), levels, movesPerLevel, leiden = true)._1

  private[graft] def louvainLeidenDetail(edges: DataFrame, levels: Int,
                                         movesPerLevel: Int): (DataFrame, Seq[Long]) =
    louvainCore(unitGraph(edges), levels, movesPerLevel, leiden = true,
      cap = 0L)

  /** COMPONENT-LOCAL multi-level Louvain — [[louvain]]'s dynamics with
    * modularity evaluated PER CONNECTED COMPONENT (each component uses
    * its own edge mass m_c in the gain and in the gate, and each
    * component accepts or rejects its pass independently). On a
    * connected graph this IS [[louvain]] (m_c = m); on a multi-
    * component graph it removes the classic cross-component coupling —
    * global-m modularity makes whether two communities merge in
    * component X depend on how many edges component Y has (the
    * resolution-limit artifact, Fortunato & Barthélemy 2007) — and in
    * exchange the objective becomes DECOMPOSABLE: each component's
    * result is a pure function of its own induced edges. That is the
    * property the maintenance leg ([[louvainMaintain]]) is built on,
    * and the reason the maintained result can be bit-equal to this
    * full recompute: with global m, ANY delta re-couples every
    * component through the gain denominator and nothing can pass
    * through verbatim.
    *
    * All other contracts are [[louvain]]'s: exact-integer arithmetic,
    * fixed unroll (levels × parity-alternating gated passes), smallest-
    * label tie-breaks, labels in the original vertex-id space. The
    * per-component gate still yields global monotonicity (global Q is
    * the weighted sum of component terms, each non-decreasing).
    *
    * Plan: one CC decomposition up front (min-label, through
    * [[ConnectedComponents.auto]]'s twin gate), then the [[louvain]]
    * per-pass shape with every scalar (m, gate) turned into a
    * component-keyed |C|-sized table — no driver-side per-pass actions
    * at all, where the global version paid two scalar collects per pass.
    */
  def louvainByComponent(edges: DataFrame, levels: Int = 2,
                         movesPerLevel: Int = 2): DataFrame =
    louvainCompCore(unitGraph(edges), levels, movesPerLevel)

  /** CDC-MAINTAINED communities — the maintenance-matrix leg for the
    * decomposition family's last member (coreness and trussness have
    * theirs; communities were the gap): given the previous
    * [[louvainByComponent]] labeling, the previous edges and
    * insert/delete deltas, produce the NET graph's labeling without
    * recomputing unaffected components.
    *
    * Soundness of the carve-out: [[louvainByComponent]]'s result on a
    * component is a pure function of the component's induced edge set
    * (that is exactly what component-local modularity buys — see the
    * scaladoc there for why the global-m variant CANNOT be maintained
    * this way). A supergraph (old ∪ inserts ∪ deletes) component
    * untouched by any delta endpoint has an identical induced net edge
    * set, and net components refine supergraph components, so its
    * stored labels pass through verbatim. Affected components re-run
    * the FULL fixed unroll from the singleton start on their induced
    * net edges — Louvain's labeling is seed-sensitive (unlike the
    * coreness fixpoint, which re-converges from capped seeds), so a
    * fresh start inside the affected region is what bit-equality with
    * the full recompute requires; the q238 oracle replays that full
    * recompute over the net edge set and never sees the changelog.
    *
    * Delta precedence: tombstone wins — net = (old ∪ inserts) ∖
    * deletes, the shared contract of the C10 maintenance family.
    * Vertices isolated by the delta drop with their components'
    * recompute (the fresh run only speaks for edge endpoints), exactly
    * as the full recompute would drop them.
    *
    * REGIME (the tier2coremaint caveat): on a single-giant-component
    * graph every delta affects everything and this degenerates to the
    * full recompute plus carve-out overhead — the honest certification
    * case; the win is the unaffected fraction on multi-component
    * (multi-tenant / per-domain) graphs, measured at tier 2.
    *
    * `labels`: the supergraph's stored CC decomposition (id,
    * component) if the deployment keeps one; computed fresh when
    * absent. `trace`, when given, records the affected-vertex count.
    */
  def louvainMaintain(oldLabels: DataFrame, oldEdges: DataFrame,
                      inserts: DataFrame, deletes: DataFrame,
                      levels: Int = 2, movesPerLevel: Int = 2,
                      labels: Option[DataFrame] = None,
                      trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val (netC, affVerts) =
      Maintenance.carve(oldEdges, inserts, deletes, labels, trace)
    val passThrough = oldLabels
      .select(col("id").cast("long").as("id"), col("community").cast("long"))
      .join(affVerts, Seq("id"), "left_anti")
    // the affected induced subgraph is component-closed in the NET
    // graph (net ⊆ old ∪ inserts, so net components refine supergraph
    // components): one endpoint test suffices
    val sub = netC.join(affVerts.toDF("u"), Seq("u"), "left_semi")
    val recomputed = louvainCompCore(
      sub.select(col("u"), col("v"), lit(1L).as("w")).cutLineage(),
      levels, movesPerLevel)
    passThrough.unionByName(recomputed.toDF("id", "community"))
  }

  /** The component-keyed multi-level loop behind [[louvainByComponent]]
    * and [[louvainMaintain]]: [[louvainCore]]'s structure with the two
    * per-pass driver scalars (m and the modularity gate) replaced by
    * |components|-sized keyed tables. Takes the canonical weighted
    * graph (u < v, integer w); returns (id, community) in the original
    * vertex-id space.
    */
  private def louvainCompCore(g0: DataFrame, levels: Int,
                              movesPerLevel: Int): DataFrame = {
    // the maintenance path's affected subgraphs stay under the bar
    if (LocalGraph.oneTask("louvainByComponent", g0, div = 2))
      return LocalCommunities.louvainLocal(g0, levels, movesPerLevel,
        leiden = false, compLocal = true)
    var g = g0.cutLineage()
    val ccEdges = g.where(col("u") =!= col("v"))
      .select(col("u").as("src"), col("v").as("dst"))
    val verts0 = g.select(explode(array(col("u"), col("v"))).as("id")).distinct()
      .cutLineage()
    // min-label components through the twin gate
    // ([[ConnectedComponents.auto]]): the single-pass summary is a
    // per-task O(|V|) union-find buffer, and tier2louvmaint's
    // 8.3M-vertex block graph OOM'd it live (32 concurrent tasks ×
    // multi-M-entry typed buffers), so past the gate's edge bar the
    // shuffle-bound iterative path runs
    var vcomp = ConnectedComponents.auto(ccEdges).toDF("id", "cmp").cutLineage()
    // per-component edge mass — constant across levels (coarsening
    // preserves each component's total weight)
    val mTbl = g.join(vcomp.toDF("u", "cmp"), Seq("u"))
      .groupBy("cmp").agg(sum("w").as("m")).cutLineage()
    var mapping = verts0.select(col("id"), col("id").as("cur")).cutLineage()
    // per-component running Q of the CURRENT labeling, carried across
    // passes AND levels (coarsening preserves per-component Q exactly,
    // the [[louvainCore]] memo turned into a keyed table)
    var curQ: DataFrame = null
    for (lvl <- 1 to levels) {
      var labels = g.select(explode(array(col("u"), col("v"))).as("id")).distinct()
        .select(col("id"), col("id").as("label")).cutLineage()
      if (lvl == 1) curQ = modularityByComp(g, labels, vcomp, mTbl).cutLineage()
      val mOf = vcomp.join(mTbl, Seq("cmp")).select(col("id").as("u"), col("m"))
      for (p <- 1 to movesPerLevel) {
        val cand = weightedMovePass(g, labels, Right(mOf), p % 2)
        val candQ = modularityByComp(g, cand, vcomp, mTbl)
        val gate = curQ.toDF("cmp", "qi")
          .join(candQ.toDF("cmp", "qc"), Seq("cmp"))
          .select(col("cmp"), (col("qc") >= col("qi")).as("acc"),
            when(col("qc") >= col("qi"), col("qc")).otherwise(col("qi")).as("q"))
          .cutLineage()
        labels = labels.join(vcomp, Seq("id"))
          .join(gate.select("cmp", "acc"), Seq("cmp"))
          .join(cand.toDF("id", "cl"), Seq("id"))
          .select(col("id"),
            when(col("acc"), col("cl")).otherwise(col("label")).as("label"))
          .cutLineage()
        curQ = gate.select(col("cmp"), col("q")).cutLineage()
      }
      mapping = mapping.join(labels.toDF("cur", "nl"), Seq("cur"))
        .select(col("id"), col("nl").as("cur"))
        .cutLineage()
      if (lvl < levels) {
        g = g.join(labels.toDF("u", "la"), Seq("u"))
          .join(labels.toDF("v", "lb"), Seq("v"))
          .select(least(col("la"), col("lb")).as("u"),
            greatest(col("la"), col("lb")).as("v"), col("w"))
          .groupBy("u", "v").agg(sum("w").as("w"))
          .cutLineage()
        // a coarse vertex (named by a label) inherits its members'
        // component — communities never span components
        vcomp = labels.join(vcomp, Seq("id"))
          .select(col("label").as("id"), col("cmp")).distinct()
          .cutLineage()
      }
    }
    mapping.toDF("id", "community")
  }

  /** Per-component exact integer modularity: (cmp, 4·m_c·in_c −
    * Σ_{communities in c} stot²) — [[weightedModularity]] as a keyed
    * table instead of a driver scalar.
    */
  private def modularityByComp(g: DataFrame, labels: DataFrame,
                               vcomp: DataFrame, mTbl: DataFrame): DataFrame = {
    val internal = g
      .join(labels.toDF("u", "la"), Seq("u"))
      .join(labels.toDF("v", "lb"), Seq("v"))
      .where(col("la") === col("lb"))
      .join(vcomp.toDF("u", "cmp"), Seq("u"))
      .groupBy("cmp").agg(sum("w").as("inw"))
    val s2 = labels.join(weightedDegrees(g), Seq("id"))
      .join(vcomp, Seq("id"))
      .groupBy("cmp", "label").agg(sum("k").as("stot"))
      .groupBy("cmp").agg(sum(col("stot") * col("stot")).as("s2"))
    mTbl.join(internal, Seq("cmp"), "left")
      .join(s2, Seq("cmp"), "left")
      .select(col("cmp"),
        (lit(4L) * col("m") * coalesce(col("inw"), lit(0L))
          - coalesce(col("s2"), lit(0L))).as("q"))
  }

  /** Weighted degrees over a canonical weighted graph (u ≤ v, integer
    * w, self-loops allowed): k_i = Σ_{j≠i} w(i,j) + 2·w(i,i) — the
    * self-loop counts both endpoints, preserving Σk = 2m.
    */
  private def weightedDegrees(g: DataFrame): DataFrame = {
    val e = g.where(col("u") =!= col("v"))
    val sym = e.select(col("u").as("id"), col("w"))
      .unionByName(e.select(col("v").as("id"), col("w")))
      .unionByName(g.where(col("u") === col("v"))
        .select(col("u").as("id"), (col("w") * 2).as("w")))
    sym.groupBy("id").agg(sum("w").as("k"))
  }

  /** One gated synchronous move pass on a weighted graph — the
    * [[modularityRefine]] move step with weighted k_i,C / Σtot and the
    * same exact-integer gain and gate. Only vertices with
    * `id % 2 == parity` are eligible to move: simultaneous moves of two
    * adjacent vertices into each other's communities SWAP labels
    * instead of merging (sync Louvain's classic oscillation), and
    * alternating a deterministic 2-coloring between passes breaks the
    * symmetry the way distributed Louvain implementations do with
    * vertex coloring — while keeping the pass a pure function of the
    * input labeling. Returns the CANDIDATE labeling; the caller gates
    * it against exact-integer modularity (one evaluation per pass —
    * the pre-pass score is the previous accepted score, memoized).
    *
    * `m` is the gain's edge mass: one constant for the global pass, or
    * a per-vertex `(u, m)` table for the COMPONENT-LOCAL pass
    * ([[louvainCompCore]]), joined onto each vertex's row; the caller
    * then gates the candidate per component.
    */
  private def weightedMovePass(g: DataFrame, l0: DataFrame, m: Either[Long, DataFrame],
                               parity: Int): DataFrame = {
    val e = g.where(col("u") =!= col("v"))
    val sym = e.select(col("u").as("p"), col("v").as("o"), col("w"))
      .unionByName(e.select(col("v").as("p"), col("u").as("o"), col("w")))
    val deg = weightedDegrees(g)
    val stot = l0.join(deg, Seq("id")).groupBy("label").agg(sum("k").as("stot"))
    val kic = sym.join(l0.toDF("o", "lv"), Seq("o"))
      .groupBy(col("p").as("u"), col("lv")).agg(sum("w").as("kc"))
    val cur0 = l0.select(col("id").as("u"), col("label").as("lu"))
      .join(deg.toDF("u", "k"), Seq("u"))
      .join(stot.toDF("lu", "stotd"), Seq("lu"))
      .join(kic.toDF("u", "lu", "kd"), Seq("u", "lu"), "left")
    val (cur, twoM) = m match {
      case Left(total) => (cur0, lit(2L * total))
      case Right(perVertex) => (cur0.join(perVertex, Seq("u")), lit(2L) * col("m"))
    }
    val best = cur.join(kic, Seq("u"))
      .where(col("lv") =!= col("lu") && pmod(col("u"), lit(2L)) === parity)
      .join(stot.toDF("lv", "stotc"), Seq("lv"))
      .select(col("u"), col("lv"),
        (twoM * (col("kc") - coalesce(col("kd"), lit(0L)))
          - col("k") * (col("stotc") - col("stotd") + col("k"))).as("gain"))
      .where(col("gain") > 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy("u").orderBy(col("gain").desc, col("lv").asc)))
      .where(col("rn") === 1)
      .select(col("u").as("id"), col("lv").as("new_label"))
    l0.join(best, Seq("id"), "left")
      .select(col("id"), coalesce(col("new_label"), col("label")).as("label"))
      .cutLineage()
  }

  /** Exact integer modularity 4m²·Q = 4m·Σ_c in_c − Σ_c (Σtot_c)² on a
    * weighted canonical graph — in_c sums internal edge weight
    * (self-loops are internal by construction). Long-exact while
    * 4m·in fits 63 bits, i.e. total weight < ~1.5e9 — same envelope as
    * [[integerModularity]].
    */
  private[graft] def weightedModularity(g: DataFrame, labels: DataFrame, m: Long): Long = {
    val internal = g
      .join(labels.toDF("u", "la"), Seq("u"))
      .join(labels.toDF("v", "lb"), Seq("v"))
      .where(col("la") === col("lb"))
      .agg(coalesce(sum("w"), lit(0L))).head().getLong(0)
    val sumD2 = labels.join(weightedDegrees(g), Seq("id"))
      .groupBy("label").agg(sum("k").as("stot"))
      .agg(coalesce(sum(col("stot") * col("stot")), lit(0L)))
      .head().getLong(0)
    4L * m * internal - sumD2
  }

  /** Exact integer modularity 4m²·Q = 4m·Σ_c in_c − Σ_c d_c² for a
    * canonical (src<dst, distinct) edge set — comparable across
    * labelings of the SAME graph; monotone in Q (4m² > 0), zero float.
    */
  def integerModularity(edges: DataFrame, labels: DataFrame, mOpt: Long = -1L): Long = {
    val c = edges.select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
    val m = if (mOpt >= 0) mOpt else c.count()
    val lab = labels.select(col("id"), col("label"))
    val internal = c.join(lab.toDF("x", "lx"), Seq("x"))
      .join(lab.toDF("y", "ly"), Seq("y"))
      .where(col("lx") === col("ly")).count()
    val sumD2 = c.select(explode(array(col("x"), col("y"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("k"))
      .join(lab, Seq("id"))
      .groupBy("label").agg(sum("k").as("stot"))
      .agg(coalesce(sum(col("stot") * col("stot")), lit(0L)))
      .head().getLong(0)
    4L * m * internal - sumD2
  }

  /** Exact-integer community quality table for a (canonical src<dst)
    * edge set and a labeling: per community its vertex count, internal
    * edge count and total (undirected) degree — precisely the integers
    * modularity is made of (Q = Σ_c [in_c/m − (d_c/2m)²]); keeping them
    * unreduced keeps the output engine-exact, the caller divides.
    * One labels broadcast-or-shuffle join per side + three keyed aggs.
    */
  def communityStats(edges: DataFrame, labels: DataFrame): DataFrame = {
    val c = edges.select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
    val lab = labels.select(col("id"), col("label")).cutLineage()
    val internal = c
      .join(lab.toDF("x", "lx"), Seq("x"))
      .join(lab.toDF("y", "ly"), Seq("y"))
      .where(col("lx") === col("ly"))
      .groupBy(col("lx").as("label")).agg(count(lit(1)).as("internal_edges"))
    val deg = c.select(explode(array(col("x"), col("y"))).as("id"))
      .join(lab, Seq("id"))
      .groupBy("label").agg(count(lit(1)).as("total_degree"))
    val nv = lab.groupBy("label").agg(count(lit(1)).as("n_vertices"))
    nv.join(internal, Seq("label"), "left")
      .join(deg, Seq("label"), "left")
      .select(col("label"), col("n_vertices"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        coalesce(col("total_degree"), lit(0L)).as("total_degree"))
  }
}
