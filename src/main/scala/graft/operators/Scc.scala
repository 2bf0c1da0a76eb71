package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph — the directed
  * sibling of [[ConnectedComponents.iterative]]'s output contract:
  * `(id BIGINT, scc BIGINT = min member id of the component)`.
  *
  * Algorithm: iterative trim + forward/backward min-label peeling — the
  * label-propagation formulation of FW-BW (Fleischer/Hendrickson/Pinar
  * 2000) with Orzan-2004-style colors and Hong-et-al-2013 trimming,
  * chosen over Tarjan precisely because it is shuffle-parallel:
  *
  *  - trim: a vertex with no in-edges or no out-edges in the REMAINING
  *    graph is a singleton SCC — assign and drop. Strips the acyclic
  *    fringe (DAG paths peel from both ends) so the fixpoints below
  *    only pay for the cyclic core.
  *  - fwd/bwd fixpoint: `f(v) = min{id(u) : u ⇝ v or u = v}` propagated
  *    along edges, `b(v)` the same along REVERSED edges, both advanced
  *    in the SAME round (one checkpoint, shared convergence checksum)
  *    with pointer jumping (`f(v) ← min(f(v), f(f(v)))` — valid because
  *    `f(v)=u` witnesses `u ⇝ v`, so `f(u)=w` witnesses `w ⇝ u ⇝ v`),
  *    which cuts rounds to O(log diameter)-ish.
  *  - peel: `f(v) == b(v) == r` ⟺ `r ⇝ v ∧ v ⇝ r` ⟺ v ∈ SCC(r); both
  *    labels are CONSTANT on an SCC (all members share the same
  *    reacher/reachable sets), so complete SCCs peel atomically — which
  *    is what makes dropping them sound: no cycle through survivors can
  *    route through a peeled vertex (it would have been in the peeled
  *    SCC). Every round peels at least the SCC of the smallest live
  *    vertex; realized parallelism is one SCC per locally-min "color
  *    region", so outer rounds track the depth of min-label chains in
  *    the condensation DAG, not the SCC count.
  *
  * Scale shape: every step is a shuffle keyed on vertex id over the
  * SHRINKING live set — two groupBy joins + two self-joins (jump) per
  * inner round, one localCheckpoint per round (the [[graft.Lineage]]
  * discipline), convergence by strictly-decreasing label checksum (one
  * scalar action per round, the audited loop-control class). State
  * never concentrates: no per-vertex adjacency materialization, no
  * driver-side graph. Caps are fail-loud (`require`), paired with the
  * oracle-side sentinel — the q147 two-sided discipline.
  */
object Scc {

  /** `edges`: (src, dst, …) directed. Self-loops are ignored (a
    * singleton is an SCC with or without one). Returns (id, scc).
    */
  def stronglyConnectedComponents(edges: DataFrame, maxOuter: Int = 30,
                                  maxInner: Int = 60): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    var e = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .cutLineage()
    if (LocalGraph.oneTask("scc", e, div = 2))
      return LocalGraph.sccLocal(e)
    var live = e.select(col("u").as("id")).union(e.select(col("v")))
      .distinct().cutLineage()
    var liveCount = Lineage.rows(live)
    if (liveCount == 0)
      return live.select(col("id"), col("id").as("scc"))
    val assigned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    var outer = 0
    while (liveCount > 0 && outer < maxOuter) {
      // trim: no out-edge (never a src) or no in-edge (never a dst)
      // among live edges → singleton SCC. Also catches fully isolated
      // leftovers whose edges died with a peeled component.
      val uset = e.select(col("u").as("id")).distinct()
      val vset = e.select(col("v").as("id")).distinct()
      val trimmed = live
        .join(uset, Seq("id"), "left_anti")
        .union(live.join(vset, Seq("id"), "left_anti"))
        .distinct()
        .cutLineage()
      val nTrim = Lineage.rows(trimmed)
      if (nTrim > 0) {
        assigned += trimmed.select(col("id"), col("id").as("scc"))
        live = live.join(trimmed, Seq("id"), "left_anti").cutLineage()
        liveCount -= nTrim
        e = e.join(trimmed.toDF("u"), Seq("u"), "left_anti")
          .join(trimmed.toDF("v"), Seq("v"), "left_anti")
          .select("u", "v").cutLineage()
      }

      if (liveCount > 0) {
        // fused fwd/bwd min-label fixpoint with pointer jumping. BOTH
        // directions ride ONE tagged edge table and ONE melted label
        // table per round, so a round is 2 joins + 2 aggregations
        // instead of 4 joins + 2 aggregations + 2 more joins — the
        // same per-round-latency fusion that cut the coloring rounds
        // (each inner round is scheduler-latency-bound at sf, and the
        // join count multiplies every round at every scale).
        val er = e.select(col("u").as("s"), col("v").as("t"), lit(true).as("fwd"))
          .unionByName(e.select(col("v").as("s"), col("u").as("t"),
            lit(false).as("fwd")))
          .cutLineage()
        var lab = live.select(col("id"), col("id").as("f"), col("id").as("b"))
          .cutLineage()
        def step(in: DataFrame): DataFrame = {
          // propagate: fwd rows read f at the edge source, bwd rows b —
          // one join + one groupBy advances both labels
          val prop0 = er.join(in.select(col("id").as("s"), col("f"), col("b")), Seq("s"))
            .groupBy(col("t").as("id"))
            .agg(min(when(col("fwd"), col("f"))).as("nf"),
              min(when(!col("fwd"), col("b"))).as("nb"))
          val prop = in.join(prop0, Seq("id"), "left")
            .select(col("id"),
              least(col("f"), coalesce(col("nf"), col("f"))).as("f"),
              least(col("b"), coalesce(col("nb"), col("b"))).as("b"))
          // jump: two narrow self-joins keyed on f and b. (A melt-and-
          // pivot single-join form was tried and measured SLOWER at
          // sf0.1 — it trades the two N-row key-joins for a 2N-row
          // melted join PLUS a 2N-row pivot aggregation, a net extra
          // exchange per round.)
          val jf = prop.select(col("id").as("jid"), col("f").as("jf"))
          val jb = prop.select(col("id").as("kid"), col("b").as("kb"))
          prop
            .join(jf, prop("f") === jf("jid"), "left")
            .join(jb, prop("b") === jb("kid"), "left")
            .select(col("id"),
              least(col("f"), coalesce(col("jf"), col("f"))).as("f"),
              least(col("b"), coalesce(col("kb"), col("b"))).as("b"))
        }
        var prevSum: Option[(Long, Long)] = None
        var converged = false
        var inner = 0
        while (!converged && inner < maxInner) {
          // one propagate+jump step per checkpoint/checksum round. (A
          // two-step body was tried and measured SLOWER: the second
          // step references the first's uncheckpointed plan five times,
          // so Spark re-executes that subtree per reference — the fixed
          // per-round cost is cheaper than the re-execution it saves.)
          val jumped = step(lab).cutLineage()
          val sums = jumped.agg(sum("f"), sum("b")).as[(Long, Long)].head()
          converged = prevSum.contains(sums)
          prevSum = Some(sums)
          lab = jumped
          inner += 1
        }
        require(converged,
          s"scc: fwd/bwd fixpoint still moving after $maxInner inner rounds " +
            "(outer " + outer + ") — raise maxInner; truncated labels are " +
            "not reachability minima")

        val done = lab.where(col("f") === col("b"))
          .select(col("id"), col("f").as("scc")).cutLineage()
        val nDone = Lineage.rows(done)
        require(nDone > 0, "scc: no component peeled — unreachable (the " +
          "min live vertex's SCC always satisfies f == b)")
        assigned += done
        live = lab.where(col("f") =!= col("b")).select("id").cutLineage()
        liveCount -= nDone
        val liveU = live.toDF("u")
        val liveV = live.toDF("v")
        e = e.join(liveU, Seq("u"), "left_semi")
          .join(liveV, Seq("v"), "left_semi").cutLineage()
      }
      outer += 1
    }
    require(liveCount == 0,
      s"scc: $liveCount vertices unassigned after $maxOuter outer rounds — " +
        "raise maxOuter; a partial peel is not the SCC decomposition")
    assigned.reduce(_ unionByName _)
  }

  /** Condensation of the SCC decomposition: one row per component with
    * its size and its LONGEST-PATH level in the condensation DAG
    * (sources at 0 — the scheduling depth of the component). Output
    * `(scc BIGINT, n_members BIGINT, level BIGINT)`.
    *
    * The level fixpoint (`level(c) ← max(level(c), level(pred)+1)`)
    * runs on the CONDENSED edge set — |SCCs| rows, not |V| — and
    * terminates in ≤ DAG-depth rounds (the condensation is acyclic by
    * construction, so the longest path is finite; the cap is fail-loud
    * anyway).
    */
  def condensationLevels(edges: DataFrame, maxDepth: Int = 60): DataFrame =
    condensationLevelsFrom(edges, stronglyConnectedComponents(edges), maxDepth)

  /** [[condensationLevels]] over PRECOMPUTED SCC labels — callers that
    * already ran the decomposition (q163/q164 share one via the
    * session memo) skip recomputing it.
    */
  def condensationLevelsFrom(edges: DataFrame, sccLabels: DataFrame,
                             maxDepth: Int = 60): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val scc = sccLabels.select(col("id"), col("scc")).cutLineage()
    val e = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
    val ce = e
      .join(scc.toDF("u", "cs"), Seq("u"))
      .join(scc.toDF("v", "cd"), Seq("v"))
      .where(col("cs") =!= col("cd"))
      .select("cs", "cd").distinct().cutLineage()
    var lv = scc.groupBy(col("scc")).agg(count(lit(1)).as("n_members"))
      .withColumn("level", lit(0L)).cutLineage()
    if (lv.limit(1).isEmpty) return lv.select("scc", "n_members", "level")
    // levels only rise, so an unchanged Σlevel is the fixpoint
    var prevSum = 0L
    var converged = false
    var r = 0
    while (!converged && r < maxDepth) {
      val bump = ce.join(lv.select(col("scc").as("cs"), col("level").as("pl")), Seq("cs"))
        .groupBy(col("cd").as("scc")).agg((max(col("pl")) + 1).as("nl"))
      val next = lv.join(bump, Seq("scc"), "left")
        .select(col("scc"), col("n_members"),
          greatest(col("level"), coalesce(col("nl"), col("level"))).as("level"))
        .cutLineage()
      val moved = next.agg(sum("level")).as[Long].head()
      converged = moved == prevSum
      prevSum = moved
      lv = next
      r += 1
    }
    require(converged, s"scc: condensation levels still rising after " +
      s"$maxDepth rounds — either the cap is under the DAG depth or the " +
      "input was not fully condensed")
    lv.select("scc", "n_members", "level")
  }
}
