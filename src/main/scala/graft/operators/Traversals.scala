package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph traversals over the `(src, dst, …)` edge model —
  * frontier-based BFS and iterative k-core peeling. Both follow the
  * plan discipline of [[ConnectedComponents.iterative]] (the 100 TB
  * path): every round is a bounded number of shuffles keyed by vertex
  * id, state lives in partitioned DataFrames (never on the driver), and
  * lineage is cut per round with `localCheckpoint` so plans stay flat.
  * The only driver-side values are scalar loop-control counts.
  *
  * Reference scope note: vasia/gelly-streaming ships no traversal
  * library (its BFS lives inside the Spanner summary's bounded
  * distance check, GS/summaries/AdjacencyListGraph.java:~50); these are
  * beyond-reference capabilities a batch/snapshot analytics user
  * expects from a graph engine.
  */
object Traversals {

  /** The one undirected view of the operators: both directions,
    * self-loops dropped, exact-duplicate arcs merged. Callers cut it
    * where they reuse it.
    */
  private[operators] def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .union(edges.select(col("dst").cast("long"), col("src").cast("long")))
      .where(col("u") =!= col("v"))
      .distinct()

  /** Unweighted single-source BFS over the undirected view of `edges`.
    * Returns `(id BIGINT, dist BIGINT)` for every vertex reachable from
    * `source` (the source itself at dist 0).
    *
    * Per round: one join frontier⋈edges (frontier is the small side —
    * AQE broadcasts it when it fits) + one anti-join against settled
    * vertices. The settled table is partitioned by id and only ever
    * grows by the frontier; nothing is collected. Rounds = eccentricity
    * of the source, each a constant number of shuffles — the standard
    * distributed-BFS cost model.
    */
  def bfsDepths(edges: DataFrame, source: Long, maxIter: Int = 100): DataFrame =
    bfsFromSym(symmetrize(edges).cutLineage(), source, maxIter)

  /** BFS over an already-symmetrized, already-checkpointed `(u, v)` edge
    * set — lets multi-sweep compositions (diameter) pay the symmetrize
    * shuffle once.
    */
  private def bfsFromSym(sym: DataFrame, source: Long, maxIter: Int): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    // the one-task leg keeps the silent maxIter truncation (failLoud=false)
    if (LocalGraph.oneTask("bfsDepths", sym))
      return LocalGraph.multiBfsLocal(sym, Seq(source), maxIter,
        "bfsDepths", failLoud = false).select(col("id"), col("dist"))

    // each frontier is materialized exactly ONCE; the settled set for the
    // anti-join is a lazy union over those cached levels, so the total
    // data written is O(|V|), not O(|V| · eccentricity) as a per-round
    // settled rewrite would be
    var frontiers = List(Seq((source, 0L)).toDF("id", "dist").cutLineage())
    var depth = 0L
    var done = false
    while (depth < maxIter && !done) {
      depth += 1
      val settledIds = frontiers.map(_.select(col("id").as("sid")))
        .reduce(_ union _)
      val next = frontiers.head.join(sym, frontiers.head("id") === sym("u"))
        .select(col("v").as("id"))
        .distinct()
        .join(settledIds, col("id") === col("sid"), "left_anti")
        .withColumn("dist", lit(depth))
        .cutLineage()
      if (next.isEmpty) done = true else frontiers ::= next
    }
    frontiers.map(_.select(col("id"), col("dist"))).reduce(_ union _)
  }

  /** Landmark distance index — MULTI-SOURCE BFS in one pass (the
    * standard distance-oracle build, e.g. Potamias et al. 2009 "Fast
    * Shortest Path Distance Estimation in Large Networks"): distances
    * from the `nLandmarks` highest-degree vertices (ties by min id —
    * deterministic) to every reachable vertex. At 100 TB nobody
    * answers d(u,w) with a per-query BFS; they precompute this index
    * and serve d̂(u,w) = min over landmarks of d(u,lm)+d(lm,w) — an
    * upper bound, exact when a landmark lies on a shortest path.
    *
    * The frontier machinery is [[bfsFromSym]]'s with the landmark id
    * carried through the state key: ALL landmark BFS trees advance in
    * the SAME round — one frontier⋈edges join per round total, not per
    * landmark — and each (lm, id) level is materialized exactly once
    * (the settled anti-join reads the lazy union of past levels, so
    * total writes are O(nLandmarks·|V|), not ·eccentricity).
    *
    * Output: (lm, id, dist) for every reachable (landmark, vertex)
    * pair.
    */
  def landmarkDistances(edges: DataFrame, nLandmarks: Int = 8,
                        maxIter: Int = 100): DataFrame = {
    val sym = symmetrize(edges).cutLineage()
    val lms = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("id").asc).limit(nLandmarks)
      .select(col("id").as("lm")).cutLineage()
    // the one-task leg mirrors the fail-loud ecc budget
    if (LocalGraph.oneTask("landmarkDistances", sym))
      return LocalGraph.multiBfsLocal(sym,
        lms.collect().map(_.getLong(0)).toSeq, maxIter, "landmarkDistances")
    var frontiers = List(
      lms.select(col("lm"), col("lm").as("id"), lit(0L).as("dist")).cutLineage())
    var depth = 0L
    var done = false
    while (depth < maxIter && !done) {
      depth += 1
      val settled = frontiers.map(_.select(col("lm"), col("id")))
        .reduce(_ union _)
      val head = frontiers.head
      val next = head.join(sym, head("id") === sym("u"))
        .select(col("lm"), col("v").as("id"))
        .distinct()
        .join(settled, Seq("lm", "id"), "left_anti")
        .withColumn("dist", lit(depth))
        .cutLineage()
      if (next.isEmpty) done = true else frontiers ::= next
    }
    // fail loud, never truncate silently (the boruvka/coreness
    // convention): a graph with eccentricity past maxIter would
    // otherwise hand callers a silently incomplete index (ADVICE r10).
    // Eccentricity EXACTLY maxIter is complete — the depth-maxIter
    // frontier was appended before the loop exited — so probe whether
    // the final frontier would expand before declaring truncation
    // (review finding r11: the plain require spuriously aborted the
    // ecc == maxIter boundary)
    if (!done) {
      val settled = frontiers.map(_.select(col("lm"), col("id")))
        .reduce(_ union _)
      val head = frontiers.head
      val more = !head.join(sym, head("id") === sym("u"))
        .select(col("lm"), col("v").as("id"))
        .join(settled, Seq("lm", "id"), "left_anti")
        .isEmpty
      require(!more,
        s"landmarkDistances: frontier still non-empty after $maxIter rounds — " +
          "raise maxIter; a truncated index under-serves every query")
    }
    frontiers.map(_.select(col("lm"), col("id"), col("dist")))
      .reduce(_ union _)
  }

  /** Distance estimates SERVED from a landmark index ([[
    * landmarkDistances]]' output): for each query pair,
    * d̂(a, b) = min over landmarks of d(a, lm) + d(lm, b) — two joins
    * against the index and a min-aggregation, never a BFS at query
    * time. Pairs where either side reaches no landmark drop (they are
    * in landmark-free components; the index cannot speak for them).
    * Output: (a, b, est_dist) — an upper bound on the true distance,
    * exact when some landmark lies on a shortest a–b path.
    */
  def landmarkEstimates(index: DataFrame, pairs: DataFrame): DataFrame = {
    val ia = index.select(col("lm"), col("id").as("a"), col("dist").as("da"))
    val ib = index.select(col("lm"), col("id").as("b"), col("dist").as("db"))
    pairs.select(col("a").cast("long"), col("b").cast("long"))
      .join(ia, Seq("a"))
      .join(ib, Seq("lm", "b"))
      .groupBy("a", "b")
      .agg(min(col("da") + col("db")).as("est_dist"))
  }

  /** Persist a [[landmarkDistances]] index as an id-bucketed catalog
    * table — [[graft.functions.PQ.save]]'s build-once / query-many
    * discipline for distances: serving ([[landmarkEstimates]]) joins
    * the index on the query vertex id twice, so bucketing on `id`
    * makes BOTH probe sides Exchange-free scans, and ANY session of
    * the deployment reloads through the shared catalog — no BFS ever
    * runs at query time. Overwrite semantics, idempotent across
    * processes (the stale-location contract in
    * [[graft.sources.Sources.dropManagedTable]]).
    */
  def saveLandmarkIndex(index: DataFrame, name: String,
                        nBuckets: Int = 8): Unit = {
    graft.sources.Sources.dropManagedTable(index.sparkSession, name)
    graft.sources.Sources.writeBucketed(
      index.select(col("lm"), col("id"), col("dist")),
      name, "id", nBuckets, sortCols = Seq("id", "lm"))
  }

  /** Reload a [[saveLandmarkIndex]]ed index: the returned DataFrame IS
    * the bucketed table scan (spec-asserted: the serving plan reads the
    * catalog table and contains no BFS iteration).
    */
  def loadLandmarkIndex(spark: org.apache.spark.sql.SparkSession,
                        name: String): DataFrame =
    spark.table(name)

  /** INSERT maintenance for a landmark index — the monotone half of the
    * distance lifecycle (deletions can only INCREASE distances and need
    * affected-tree rebuilds; insertions only DECREASE them, so the
    * index relaxes forward without ever re-running a full BFS):
    * label-correcting relaxation over the GROWN graph seeded at the new
    * edges' endpoints. Landmarks stay FIXED at build-time selection —
    * re-picking landmarks is a rebuild decision, not maintenance (the
    * PQ.delete "no re-train" contract applied to distances).
    *
    * Correctness: any (lm, v) whose true distance decreased (or became
    * finite) has a shortest path in the grown graph using ≥ 1 inserted
    * edge; induct along that path from the landmark — every prefix
    * endpoint's improved distance is found before the next relaxation
    * extends it, exactly Bellman–Ford with a seeded queue on unit
    * weights. Vertices untouched by any improving path keep their
    * stored distance, which remains exact. The maintained index is
    * therefore row-equal to a fresh [[landmarkDistances]]-style BFS
    * over the grown graph from the SAME landmarks — what the q231
    * oracle hash-checks.
    *
    * Cost: the seed is one index⋈Δ join; each round relaxes ONLY the
    * just-improved frontier against the edge table (work ∝ affected
    * neighborhoods, the BFS frontier discipline) and min-merges into
    * the ≤ nLandmarks·|V| state. Rounds ≤ the grown eccentricity;
    * fail-loud if `maxIter` is outlived (the [[landmarkDistances]]
    * convention).
    */
  def landmarkMaintainInserts(index: DataFrame, grownEdges: DataFrame,
                              inserts: DataFrame,
                              maxIter: Int = 100): DataFrame = {
    val sym = symmetrize(grownEdges).cutLineage()
    // the maintained index is row-equal to a fresh BFS over the GROWN
    // graph from the build-time landmarks, which the one-task leg runs
    if (LocalGraph.oneTask("landmarkMaintainInserts", sym))
      return LocalGraph.multiBfsLocal(sym,
        index.select(col("lm").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq,
        maxIter, "landmarkMaintainInserts")
    val dsym = symmetrize(inserts).cutLineage()
    val cur = index.select(col("lm").cast("long"), col("id").cast("long"),
      col("dist").cast("long")).cutLineage()
    // candidate improvements THROUGH a new edge: d(lm, u) + 1 offered to
    // v for every inserted arc (u, v) — both directions via dsym
    val seed = cur.join(dsym, cur("id") === dsym("u"))
      .select(col("lm"), dsym("v").as("id"), (col("dist") + 1).as("dist"))
    relaxFrom(cur, sym, seed, maxIter, "landmarkMaintainInserts")
  }

  /** The shared label-correcting relaxation loop ([[
    * landmarkMaintainInserts]] seeds it through the new edges,
    * [[landmarkMaintainDeletes]] from the valid boundary into the
    * invalidated region): adopt every offered (lm, id, dist) that beats
    * the current entry (or fills an absence), then re-offer from the
    * just-improved frontier over the full edge set until no offer
    * improves anything. Distances per (lm, id) strictly decrease from
    * +∞, so the loop terminates in ≤ eccentricity rounds; fail-loud on
    * an exhausted budget.
    */
  private def relaxFrom(index: DataFrame, sym: DataFrame, seed: DataFrame,
                        maxIter: Int, opName: String): DataFrame = {
    var cur = index
    def improvements(offers: DataFrame): DataFrame =
      offers.groupBy("lm", "id").agg(min(col("dist")).as("dist"))
        .join(cur.select(col("lm"), col("id"), col("dist").as("old")),
          Seq("lm", "id"), "left")
        .where(col("old").isNull || col("dist") < col("old"))
        .select("lm", "id", "dist")
    var frontier = improvements(seed).cutLineage()
    var iter = 0
    var done = frontier.isEmpty
    while (iter < maxIter && !done) {
      iter += 1
      cur = cur
        .join(frontier.select(col("lm"), col("id"), col("dist").as("nd")),
          Seq("lm", "id"), "full_outer")
        .select(col("lm"), col("id"),
          least(coalesce(col("dist"), col("nd")),
            coalesce(col("nd"), col("dist"))).as("dist"))
        .cutLineage()
      // relax the just-improved vertices over the FULL edge set —
      // improvements propagate through old edges too
      frontier = improvements(
        frontier.join(sym, frontier("id") === sym("u"))
          .select(col("lm"), sym("v").as("id"), (col("dist") + 1).as("dist")))
        .cutLineage()
      done = frontier.isEmpty
    }
    require(done,
      s"$opName: improvements still propagating after $maxIter " +
        "rounds — raise maxIter; a truncated relaxation leaves stale distances")
    cur
  }

  /** DELETE maintenance for a landmark index — the non-monotone half
    * ([[landmarkMaintainInserts]] relaxes downward; deletions can only
    * INCREASE distances, so stale entries must first be found and
    * evicted, then the hole re-derived): the classic two-phase
    * delete-repair on BFS trees, set-oriented.
    *
    * Phase 1 — CASCADE INVALIDATION. A surviving entry d(lm, v) is
    * CERTIFIED by a support: a neighbor u in the shrunk graph with
    * d(lm, u) = d(lm, v) − 1 that itself survives (d = 0 ⇔ v = lm is
    * self-certified). Initial suspects are exactly the pairs that lost
    * a potential support through a deleted edge (d(v) = d(u) + 1
    * across a deleted (u, v)); each round evicts suspects with no
    * surviving support and re-suspects their dependents (neighbors one
    * level further out) — invalidation flows strictly upward in dist,
    * so total work ∝ Σ deg over the invalidated region.
    *
    * Phase 2 — BOUNDARY REPAIR. Every surviving entry is EXACT
    * (support chains induct down to the landmark: a path of length d
    * exists in the shrunk graph, and deletions can't shorten
    * distances); relaxation seeded from surviving entries adjacent to
    * the invalidated region re-derives each evicted pair's new
    * distance — any shortest path to an evicted vertex leaves the
    * surviving set exactly once, at its last surviving vertex, whose
    * entry the seed offers. Pairs with no path left stay evicted
    * (unreachable — correctly absent). Offers can never disturb a
    * surviving entry (it is already minimal), so the shared
    * [[relaxFrom]] loop is reused verbatim.
    *
    * The maintained index is row-equal to a fresh BFS over the shrunk
    * graph from the SAME build-time landmarks — what the q236 oracle
    * hash-checks. Deleting an absent edge is a no-op; landmarks are
    * never re-picked (the rebuild-vs-maintain contract shared with
    * [[graft.functions.PQ.delete]]).
    */
  def landmarkMaintainDeletes(index: DataFrame, oldEdges: DataFrame,
                              deletes: DataFrame,
                              maxIter: Int = 100): DataFrame = {
    val dsym = symmetrize(deletes).cutLineage()
    val symS = symmetrize(oldEdges).join(dsym, Seq("u", "v"), "left_anti")
      .cutLineage()
    // the maintained index is row-equal to a fresh BFS over the SHRUNK
    // graph from the build-time landmarks, which the one-task leg runs
    if (LocalGraph.oneTask("landmarkMaintainDeletes", symS))
      return LocalGraph.multiBfsLocal(symS,
        index.select(col("lm").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq,
        maxIter, "landmarkMaintainDeletes")
    var cur = index.select(col("lm").cast("long"), col("id").cast("long"),
      col("dist").cast("long")).cutLineage()
    // suspects: pairs whose dist rode a now-deleted edge
    var frontier = dsym
      .join(cur.select(col("lm"), col("id").as("u"), col("dist").as("du")),
        Seq("u"))
      .join(cur.select(col("lm"), col("id").as("v"), col("dist").as("dv")),
        Seq("lm", "v"))
      .where(col("dv") === col("du") + 1)
      .select(col("lm"), col("v").as("id"), col("dv").as("dist")).distinct()
      .cutLineage()
    val nbrs = symS.select(col("u").as("id"), col("v").as("nb"))
    var iter = 0
    while (iter < maxIter && !frontier.isEmpty) {
      iter += 1
      val supported = frontier
        .join(nbrs, Seq("id"))
        .join(cur.select(col("lm"), col("id").as("nb"), col("dist").as("dn")),
          Seq("lm", "nb"))
        .where(col("dn") === col("dist") - 1)
        .select(col("lm"), col("id")).distinct()
      val invalid = frontier.select(col("lm"), col("id"), col("dist"))
        .join(supported, Seq("lm", "id"), "left_anti")
        .cutLineage()
      if (invalid.isEmpty) {
        frontier = invalid // empty — cascade settled
      } else {
        // dependents one level out re-test against the shrunk index
        cur = cur.join(invalid.select("lm", "id"), Seq("lm", "id"), "left_anti")
          .cutLineage()
        frontier = invalid
          .join(nbrs, Seq("id"))
          .join(cur.select(col("lm"), col("id").as("nb"), col("dist").as("dn")),
            Seq("lm", "nb"))
          .where(col("dn") === col("dist") + 1)
          .select(col("lm"), col("nb").as("id"), col("dn").as("dist")).distinct()
          .cutLineage()
      }
    }
    require(frontier.isEmpty,
      s"landmarkMaintainDeletes: invalidation still cascading after $maxIter " +
        "rounds — raise maxIter; stale distances would survive")
    // repair: offers from the surviving set into the evicted region —
    // restrict the adjacency to arcs LANDING on an evicted id BEFORE
    // joining the full index, so the seed costs ∝ the evicted boundary
    // (the lm-independent id superset prunes first; the unrestricted
    // form paid |index|·avg-degree for an arbitrarily small delete —
    // review finding r11), then keep only true (lm, id) losses
    val lost = index.select(col("lm").cast("long"), col("id").cast("long"))
      .join(cur.select("lm", "id"), Seq("lm", "id"), "left_anti")
      .cutLineage()
    val intoLost = nbrs.join(
      lost.select(col("id").as("nb")).distinct(), Seq("nb"), "left_semi")
    val seed = cur.join(intoLost, Seq("id"))
      .select(col("lm"), col("nb").as("id"), (col("dist") + 1).as("dist"))
      .join(lost, Seq("lm", "id"), "left_semi")
    relaxFrom(cur, symS, seed, maxIter, "landmarkMaintainDeletes")
  }

  /** Double-sweep diameter estimation: BFS from `start`, then BFS again
    * from the farthest vertex found (ties broken by min id — fully
    * deterministic). The second sweep's maximum distance is the classic
    * high-quality diameter lower bound (exact on trees); the cost is
    * exactly two BFS runs. Output: one row
    * `(source, ecc_source, far_vertex, diameter_lb)`.
    */
  def doubleSweepDiameter(edges: DataFrame, start: Long, maxIter: Int = 100): DataFrame = {
    val sym = symmetrize(edges).cutLineage()
    val d1 = bfsFromSym(sym, start, maxIter)
    val farRow = d1.orderBy(col("dist").desc, col("id").asc).limit(1).head()
    val far = farRow.getLong(0)
    val d2 = bfsFromSym(sym, far, maxIter)
    d2.agg(max(col("dist")).as("diameter_lb"))
      .select(lit(start).as("source"),
        lit(farRow.getLong(1)).as("ecc_source"),
        lit(far).as("far_vertex"),
        col("diameter_lb"))
  }

  /** Weighted single-source shortest paths (Bellman–Ford relaxation)
    * over the undirected view of `edges`, weight = the edge `value`
    * cast to BIGINT (integer weights keep every path sum exact, so the
    * distances are engine-deterministic regardless of relaxation
    * order). Parallel edges collapse to their minimum weight first.
    * Returns `(id BIGINT, dist BIGINT)` for reachable vertices.
    *
    * Per round: one join frontier⋈edges + one min-aggregation + one
    * full-outer merge with the distance table, all keyed by vertex id —
    * frontier-based Bellman–Ford (only edges out of vertices whose
    * distance improved can improve anything). Convergence is the empty
    * frontier; the only driver action per round is that emptiness probe.
    */
  def sssp(edges: DataFrame, source: Long, maxIter: Int = 60): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val half = edges.select(col("src").cast("long").as("u"),
      col("dst").cast("long").as("v"), col("value").cast("long").as("w"))
    val sym = half.union(half.select(col("v"), col("u"), col("w")))
      .where(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min("w").as("w"))
      .cutLineage()

    if (LocalGraph.oneTask("sssp", sym))
      return LocalGraph.ssspLocal(sym, source, maxIter)
    var dist = Seq((source, 0L)).toDF("id", "dist").cutLineage()
    // frontier = vertices whose distance improved last round. Only their
    // out-edges can improve anything next round, so each round relaxes
    // frontier-incident edges instead of the whole edge list — after the
    // early rounds the frontier collapses to the few still-improving
    // vertices and per-round join volume collapses with it (measured
    // 2.7× on the 10M-edge smoke vs full relaxation).
    var frontier = dist
    var iter = 0
    while (iter < maxIter && !frontier.isEmpty) {
      val relaxed = sym.join(frontier, sym("u") === frontier("id"))
        .select(col("v").as("id"), (col("dist") + col("w")).as("nd"))
        .groupBy("id").agg(min("nd").as("nd"))
      val merged = dist.join(relaxed, Seq("id"), "full")
        .select(col("id"),
          least(coalesce(col("dist"), col("nd")), coalesce(col("nd"), col("dist"))).as("dist"),
          (col("nd").isNotNull && (col("dist").isNull || col("nd") < col("dist")))
            .as("improved"))
        .cutLineage()
      frontier = merged.where(col("improved")).select("id", "dist")
      dist = merged.select("id", "dist")
      iter += 1
    }
    dist
  }

  /** Maximal independent set — Luby-style parallel greedy with FIXED
    * deterministic priorities: `p(v) = ((v mod 2³¹)·2654435761) mod 2³¹`
    * (the id is reduced mod 2³¹ BEFORE the Knuth multiply so the product
    * stays < 2⁶³ for any Long id — an unreduced multiply would wrap
    * silently in Spark yet raise in ANSI engines, breaking the
    * engine-determinism contract on large id spaces), ties
    * broken by id (a strict total order, so no two neighbors can block
    * each other). Each round, every active vertex whose (p, id) beats
    * all active neighbors joins the MIS; selected vertices and their
    * neighbors retire. Fixed priorities make the result the sequential
    * greedy MIS in priority order — engine-deterministic — while the
    * rounds stay Luby-parallel (measured: 4 rounds on C10 at sf0.01).
    *
    * Per round: one neighbor-min aggregation + two semi-joins, all
    * keyed by vertex id; selections are checkpointed once each (the
    * BFS frontier discipline). Returns `(id BIGINT)` — the MIS.
    */
  def maximalIndependentSet(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    def prio(c: org.apache.spark.sql.Column) =
      struct(graft.Portable.prio31(c).as("p"), c.as("i"))
    var sym = symmetrize(edges).cutLineage()
    var activeV = sym.select(col("u").as("id")).distinct().cutLineage()
    var selections: List[DataFrame] = Nil
    var iter = 0
    var done = activeV.isEmpty
    while (iter < maxIter && !done) {
      val nbrMin = sym.groupBy(col("u")).agg(min(prio(col("v"))).as("np"))
      val sel = activeV.join(nbrMin, activeV("id") === nbrMin("u"), "left")
        .where(col("np").isNull || prio(col("id")) < col("np"))
        .select(col("id"))
        .cutLineage()
      selections ::= sel
      val removed = sel
        .union(sym.join(sel, sym("u") === sel("id")).select(col("v").as("id")))
        .distinct()
      activeV = activeV
        .join(removed.select(col("id").as("rid")), col("id") === col("rid"), "left_anti")
        .cutLineage()
      sym = sym
        .join(activeV.select(col("id").as("ku")), sym("u") === col("ku"), "left_semi")
        .join(activeV.select(col("id").as("kv")), sym("v") === col("kv"), "left_semi")
        .cutLineage()
      done = activeV.isEmpty
      iter += 1
    }
    selections.reduceOption(_ union _)
      .getOrElse(activeV.limit(0))
      .select(col("id"))
  }

  /** k-core: the maximal subgraph in which every vertex has degree ≥ k
    * (undirected view). Returns `(id BIGINT, core_degree BIGINT)` — the
    * surviving vertices with their degree inside the core.
    *
    * Iterative peel: drop vertices with degree < k, recompute degrees
    * on the induced subgraph, repeat to fixpoint. Each round is one
    * degree aggregation + two semi-joins (both endpoints must survive),
    * all keyed by vertex id; convergence is detected from the edge
    * count, a scalar. Rounds are bounded by the longest peel chain —
    * the degeneracy ordering depth — typically tens even on huge
    * graphs.
    */
  def kcore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    var sym = symmetrize(edges).cutLineage()
    var m = Lineage.rows(sym)
    // the gate reuses the loop-control count
    if (LocalGraph.oneTask("kcore", sym))
      return LocalGraph.kcoreLocal(sym, k, maxIter)
    var changed = m > 0
    var iter = 0
    while (changed && iter < maxIter) {
      val keep = sym.groupBy(col("u")).agg(count("*").as("d"))
        .where(col("d") >= k)
        .select(col("u").as("kid"))
      val pruned = sym
        .join(keep, sym("u") === keep("kid"), "left_semi")
        .join(keep, sym("v") === keep("kid"), "left_semi")
        .cutLineage()
      val m2 = Lineage.rows(pruned)
      changed = m2 != m
      m = m2
      sym = pruned
      iter += 1
    }
    sym.groupBy(col("u").as("id")).agg(count("*").as("core_degree"))
  }

  /** FULL core decomposition — coreness (max k such that the vertex
    * survives in the k-core) for EVERY vertex, via the h-index fixed
    * point (Lü, Zhou, Zhang & Stanley 2016): initialize c(v) = deg(v),
    * then iterate c(v) ← H({c(u) : u ∼ v}) where H is the h-index
    * (the largest h with ≥ h neighbors of value ≥ h). The sequence is
    * per-vertex monotone non-increasing and converges exactly to the
    * coreness; a fixed unroll with a convergence check (fail-loud, both
    * engines) replaces [[kcore]]'s per-k peeling when the whole
    * decomposition is wanted in ONE pass family.
    *
    * FRONTIER rounds: a vertex's h-index can only change when some
    * neighbor's value changed, so after the first full round only the
    * neighbors of last round's CHANGED vertices are recomputed — the
    * BFS frontier discipline every other iterative operator here uses.
    * Per round: one semi-join restricting the |E| table to candidate
    * rows, the per-candidate descending sort (window; bounded by
    * degree), and a coalescing join back onto the |V| value table.
    * The h-index is the number of rank positions r with value_r ≥ r —
    * invariant to tie order, engine-exact. The measured long
    * few-vertices tail on chain-like regions (46 rounds at sf0.01) is
    * exactly where the frontier pays: tail rounds touch the few
    * changers' neighborhoods, not |E| (SCALE.md tier2core r7).
    * Non-candidates keep their value, which equals what recomputation
    * would produce (their neighbor multiset is unchanged) — so the
    * fixpoint is identical to full recomputation, and it is UNIQUE (it
    * IS the coreness). The SQL oracle may therefore unroll any budget
    * covering its own convergence — its last-two-rounds sentinel and
    * this `require` fail independently and loudly if either side's
    * budget is outlived; a silent one-sided truncation cannot happen.
    */
  def coreness(edges: DataFrame, maxRounds: Int = 200): DataFrame = {
    val sym = symmetrize(edges).cutLineage()
    if (LocalGraph.oneTask("coreness", sym))
      return LocalGraph.corenessLocal(sym)
        .select(col("id"), col("coreness"))
    var c = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("h"))
      .cutLineage()
    // round 1 recomputes everyone (degrees are only the upper bound)
    var changed = c.select(col("id"))
    var moved = 1L
    var r = 0
    while (moved > 0 && r < maxRounds) {
      val cand = sym.join(changed.toDF("v"), Seq("v"), "left_semi")
        .select(col("u")).distinct()
      val nv = sym.join(cand, Seq("u"), "left_semi")
        .join(c.toDF("v", "cv"), Seq("v"))
        .select(col("u"), col("cv"))
      val upd = hIndex(nv)
      val next = c.join(upd, Seq("id"), "left")
        .select(col("id"), coalesce(col("nh"), col("h")).as("h"),
          (col("nh").isNotNull && col("nh") =!= col("h")).as("ch"))
        .cutLineage()
      changed = next.where(col("ch")).select("id")
      moved = changed.count()
      c = next.select("id", "h")
      r += 1
    }
    require(moved == 0,
      s"coreness: $moved vertices still changing after $maxRounds rounds — " +
        "raise maxRounds; a truncated decomposition is not the coreness")
    c.select(col("id"), col("h").as("coreness"))
  }

  /** The h-index inner round shared by [[coreness]] and
    * [[corenessMaintain]]: per candidate vertex u, H({cv of u's
    * neighbors}) from the (u, cv) rows — descending row_number, h =
    * #ranks r with cv_r ≥ r. One shuffle; a 10⁷-degree hub's rows all
    * sort in ONE window task (the r11 verdict's watch item).
    */
  private def hIndex(nv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    nv.withColumn("r", row_number().over(
        Window.partitionBy("u").orderBy(col("cv").desc)))
      .where(col("cv") >= col("r"))
      .groupBy(col("u").as("id")).agg(count(lit(1)).as("nh"))
  }

  /** MAINTAINED core decomposition — the incremental/decremental leg of
    * the maintenance matrix for [[coreness]] (CC, triangles, MSF and
    * BM25 all have theirs; decompositions were the gap): given the
    * previous decomposition `(id, coreness)`, the previous edges, and
    * insert/delete deltas, produce the NET graph's coreness without
    * recomputing unaffected components.
    *
    * Soundness of the carve-out: coreness decomposes per connected
    * component, and a vertex whose coreness CHANGES always lies in a
    * component of the SUPERGRAPH (old ∪ inserts) containing a touched
    * endpoint — for inserts, a risen vertex v sits in the grown
    * (k+1)-core whose component must contain an inserted edge (else
    * that whole k+1-core component existed in the old graph and v had
    * already risen); for deletes, a fallen vertex sits in an old
    * k-core component that lost an edge, by the symmetric argument.
    * Unaffected components therefore pass their rows through verbatim.
    *
    * Recompute seed inside affected components: c₀(v) =
    * min(deg_net(v), old(v) + bIns) where bIns = |inserted undirected
    * edges| — an upper bound on the net coreness (one insertion raises
    * any coreness by at most 1, Sarıyüce et al. 2013; deletions never
    * raise it), so the pure-decremental case seeds at min(deg, old) —
    * far below the from-degrees start. The iteration is the
    * [[coreness]] h-index frontier loop made CAPPED-MONOTONE
    * (c ← min(c, H(c))): from any pointwise upper bound it decreases
    * monotonically to a state with c ≤ H(c), and any such state has
    * every level set {c ≥ k} inducing a k-core (each member keeps ≥ k
    * neighbors at ≥ k), hence c ≤ coreness; with the invariant
    * c ≥ coreness preserved by monotone H, the fixpoint IS the
    * coreness. The q232 oracle is the full h-index replay over the
    * net edge set — a stale pass-through or a truncated recompute
    * flips the hash.
    *
    * REGIME (the tier2msfdec caveat, SCALE.md): the win is the
    * unaffected fraction. On a single-giant-component graph every
    * delta marks everything affected and this degenerates to the full
    * recompute plus carve-out overhead; multi-tenant / per-domain
    * graphs with many components are where the maintenance pays.
    *
    * `labels`: the supergraph's stored CC decomposition `(id,
    * component)` if the deployment keeps one (the q210 pattern);
    * computed fresh when absent. `trace`, when given, records the
    * affected-vertex count (the delta-confinement spec's probe).
    *
    * Delta precedence: deletes apply to the POST-insert graph — an
    * edge appearing in both sets is dead (net = (old ∪ inserts) ∖
    * deletes). A CDC changelog resolution never produces such overlap
    * (latest-wins per key), but ad-hoc callers composing their own
    * deltas get the tombstone-wins contract, caught live by the
    * tier2coremaint probe when its generators collided on one edge.
    */
  def corenessMaintain(oldCore: DataFrame, oldEdges: DataFrame,
                       inserts: DataFrame, deletes: DataFrame,
                       labels: Option[DataFrame] = None,
                       maxRounds: Int = 200,
                       trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val oldSym = symmetrize(oldEdges)
    val insSym = symmetrize(inserts)
    val superSym = oldSym.unionByName(insSym).distinct().cutLineage()
    val netSym = superSym
      .join(symmetrize(deletes), Seq("u", "v"), "left_anti")
      .cutLineage()
    val lbl = labels.getOrElse(ConnectedComponents.auto(
        superSym.select(col("u").as("src"), col("v").as("dst"))))
      .select(col("id"), col("component"))
    val touched = inserts.select(col("src").cast("long").as("id"))
      .unionByName(inserts.select(col("dst").cast("long").as("id")))
      .unionByName(deletes.select(col("src").cast("long").as("id")))
      .unionByName(deletes.select(col("dst").cast("long").as("id")))
      .distinct()
    val affComps = lbl.join(touched, Seq("id"), "left_semi")
      .select(col("component")).distinct()
    val affVerts = lbl.join(affComps, Seq("component"), "left_semi")
      .select(col("id")).cutLineage()
    trace.foreach(_ += Lineage.rows(affVerts))
    val passThrough = oldCore
      .select(col("id").cast("long").as("id"), col("coreness").cast("long"))
      .join(affVerts, Seq("id"), "left_anti")
    // the affected induced subgraph is component-closed in the NET
    // graph (net components refine super components), so one endpoint
    // test suffices
    val subSym = netSym.join(affVerts.toDF("u"), Seq("u"), "left_semi")
      .cutLineage()
    // the capped-monotone iteration converges to the UNIQUE coreness of
    // the affected induced subgraph from ANY upper bound, so seeds and
    // caps only speed the round path up and the one-task leg skips them
    if (LocalGraph.oneTask("corenessMaintain", subSym))
      return passThrough.unionByName(
        LocalGraph.corenessLocal(subSym).select(col("id"), col("coreness")))
    val bIns = insSym.where(col("u") < col("v")).count()
    val oldByIns = oldCore.select(col("id").cast("long").as("id"),
      (col("coreness").cast("long") + bIns).as("cap"))
    var c = subSym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      .join(oldByIns, Seq("id"), "left")
      .select(col("id"), least(col("deg"),
        coalesce(col("cap"), col("deg"))).as("h"))
      .cutLineage()
    var changed = c.select(col("id"))
    var moved = if (changed.isEmpty) 0L else 1L
    var r = 0
    while (moved > 0 && r < maxRounds) {
      val cand = subSym.join(changed.toDF("v"), Seq("v"), "left_semi")
        .select(col("u")).distinct()
      val nv = subSym.join(cand, Seq("u"), "left_semi")
        .join(c.toDF("v", "cv"), Seq("v"))
        .select(col("u"), col("cv"))
      val upd = hIndex(nv)
      val next = c.join(upd, Seq("id"), "left")
        .select(col("id"),
          least(col("h"), coalesce(col("nh"), col("h"))).as("nxt"),
          (col("nh").isNotNull && col("nh") < col("h")).as("ch"))
        .cutLineage()
      changed = next.where(col("ch")).select("id")
      moved = changed.count()
      c = next.select(col("id"), col("nxt").as("h"))
      r += 1
    }
    require(moved == 0,
      s"corenessMaintain: $moved vertices still changing after $maxRounds " +
        "rounds — raise maxRounds; a truncated decomposition is not the coreness")
    passThrough.unionByName(c.select(col("id"), col("h").as("coreness")))
  }

  /** Deterministic hash walks — the graph-embedding / neighborhood-
    * sampling primitive (node2vec-style walks) made engine-reproducible:
    * at step t the walk at vertex u moves to the neighbor minimizing the
    * step-salted portable priority ([[graft.Portable.prio31]] — id
    * reduced mod 2³¹ BEFORE any multiply, so full-range 64-bit ids
    * cannot overflow on any engine; ties broken by neighbor id, the MIS
    * (p, id) struct order), so any engine replaying the arithmetic
    * produces the identical walks. A vertex with no neighbors ends its
    * walk in place.
    *
    * Output: `(start, end)` after `steps` hops. Per step: one
    * frontier-restricted next-hop aggregation (semi-join on the current
    * positions, so work ∝ frontier neighborhoods, not |E|) + one keyed
    * join; positions checkpointed per step (the BFS lineage discipline).
    */
  def hashWalks(edges: DataFrame, starts: DataFrame, steps: Int): DataFrame = {
    val sym = symmetrize(edges).cutLineage()
    var walk = starts.select(col("id").cast("long").as("start"))
      .withColumn("cur", col("start"))
      .cutLineage()
    for (step <- 1 to steps) {
      val pri = struct(graft.Portable.prio31(col("v"), step).as("p"), col("v").as("i"))
      val frontier = walk.select(col("cur")).distinct()
      val next = sym.join(frontier, sym("u") === frontier("cur"), "left_semi")
        .select(col("u"), pri.as("pr"))
        .groupBy("u").agg(min(col("pr")).as("m"))
        .select(col("u").as("cur"), col("m.i").as("nxt"))
      walk = walk.join(next, Seq("cur"), "left")
        .select(col("start"), coalesce(col("nxt"), col("cur")).as("cur"))
        .cutLineage()
    }
    walk.select(col("start"), col("cur").as("end"))
  }

  /** Ego-network sizes: |vertices within `radius` hops| per start vertex
    * (start included) — the neighborhood-cardinality feature graph ML
    * pipelines attach to sampled nodes. Multi-source expansion carries a
    * source tag, so one pass serves every start; per hop one join + one
    * anti-join, both keyed. The frontier is restricted to FIRST-REACHED
    * vertices each hop (anti-join against `reached`), so settled
    * vertices are never re-expanded and the frontier shrinks to empty
    * once an ego saturates — work ∝ Σ |ego(s)| edge visits at ANY
    * radius, not per-hop re-expansion of the whole ego (ADVICE/VERDICT
    * r3: the old form was fine at radius ≤ 2, wasteful beyond).
    *
    * `trace`, when given, records each hop's fresh-frontier row count
    * (one extra count action per hop — leave it None in production).
    */
  def egoSizes(edges: DataFrame, starts: DataFrame, radius: Int = 2,
               trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val sym = symmetrize(edges).cutLineage()
    var reached = starts.select(col("id").cast("long").as("s"))
      .withColumn("v", col("s"))
      .cutLineage()
    var frontier = reached
    for (_ <- 1 to radius) {
      val nxt = frontier.toDF("s", "m")
        .join(sym, col("m") === sym("u"))
        .select(col("s"), col("v"))
        .distinct()
      val fresh = nxt.join(reached, Seq("s", "v"), "left_anti").cutLineage()
      trace.foreach(_ += Lineage.rows(fresh))
      // fresh is disjoint from reached by construction — plain union
      reached = reached.unionByName(fresh).cutLineage()
      frontier = fresh
    }
    reached.groupBy(col("s").as("id")).agg(count(lit(1)).as("ego_size"))
  }

  /** Greedy densest-subgraph peel (Bahmani, Kumar & Vassilvitskii 2012,
    * the MapReduce formulation of Charikar's greedy): starting from the
    * whole graph, each round drops EVERY vertex whose degree is at most
    * (1+ε)·avg — here ε = 1/10, i.e. drop v iff 10·deg(v)·n ≤ 11·m_sym —
    * and records the surviving subgraph's size. The round maximizing
    * m/n (cross-multiplied exact-integer compare, earliest round on
    * ties) is a 2(1+ε)-approximation of the densest subgraph.
    *
    * Scale shape: each round is one degree aggregation + two semi-joins
    * (the [[kcore]] plan), all keyed by vertex id; since every kept
    * vertex has degree strictly above (11/10)·avg, at most 10/11 of the
    * vertices survive a round, so rounds ≤ log_{11/10} n (~145 at 10⁶
    * vertices, ~290 at 10¹²) — geometric, never the O(n) of
    * one-at-a-time peeling. The default `maxRounds` = 320 covers the
    * worst-case bound past 10¹² vertices, so the fail-loud `require`
    * below only fires on a genuine non-termination bug, never on a
    * legitimately deep peel (real graphs peel far faster — the
    * planted-core probe in SCALE.md's tier2dense table finishes 10M
    * edges in a few dozen rounds).
    * The per-vertex threshold product 10·deg·n is computed in
    * DECIMAL(38,0): deg ≤ 10⁹ times n ≤ 10¹² overflows 64-bit at the
    * 100 TB target, and the loop-control stats (n, m_sym per round —
    * driver scalars) use BigInt for the cross-round density argmax.
    *
    * Output: one row per non-empty round —
    * `(round, n_vertices, n_edges, density_micro, is_best)` with
    * n_edges = m_sym/2 (undirected) and density_micro = 10⁶·m/n
    * truncated. Fails loud if edges remain after `maxRounds` (a
    * truncated peel could silently miss the best round).
    */
  def densestSubgraph(edges: DataFrame, maxRounds: Int = 320): DataFrame = {
    val spark = edges.sparkSession
    var sym = symmetrize(edges).cutLineage()
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var r = 0L
    var msym = Lineage.rows(sym)
    // the gate reuses the loop-control count
    if (LocalGraph.oneTask("densestSubgraph", sym))
      return LocalDensest.densestLocal(sym, maxRounds)
    while (msym > 0 && r < maxRounds) {
      val n = sym.select(col("u")).distinct().count()
      stats += ((r, n, msym))
      val keep = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .where(col("d").cast("decimal(38,0)") * lit(10L * n) > lit(11L * msym))
        .select(col("u").as("kid"))
      sym = sym
        .join(keep, sym("u") === keep("kid"), "left_semi")
        .join(keep, sym("v") === keep("kid"), "left_semi")
        .cutLineage()
      msym = Lineage.rows(sym)
      r += 1
    }
    require(msym == 0,
      s"densestSubgraph: $msym arcs remain after $maxRounds rounds — " +
        "raise maxRounds; a truncated peel may miss the densest prefix")
    if (stats.isEmpty) {
      // edgeless input: no rounds, no densest subgraph — empty result,
      // not a reduceLeft crash
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("round", "n_vertices", "n_edges", "density_micro", "is_best")
    }
    // density argmax by cross-multiplication (m_sym/2n ordering equals
    // m_sym/n ordering); BigInt: m_sym·n products exceed 64-bit at scale
    val bestRound = stats.reduceLeft { (a, b) =>
      val cmp = BigInt(a._3) * BigInt(b._2) - BigInt(b._3) * BigInt(a._2)
      if (cmp > 0 || (cmp == 0 && a._1 < b._1)) a else b
    }._1
    val rows = stats.toSeq.map { case (rd, n, ms) =>
      (rd, n, ms / 2, (BigInt(ms) * 500000L / n).toLong,
        if (rd == bestRound) 1L else 0L)
    }
    import spark.implicits._
    rows.toDF("round", "n_vertices", "n_edges", "density_micro", "is_best")
  }

  /** COMPONENT-LOCAL greedy densest-subgraph peel — [[densestSubgraph]]
    * with the two global loop scalars (n, m_sym) replaced by
    * |components|-keyed tables, the exact analogue of
    * [[Communities.louvainByComponent]]'s move from global m to m_c:
    * each connected component peels against ITS OWN (1+ε)·avg-degree
    * threshold and records its own per-round stats, so a component's
    * rows are a pure function of its induced edge set. That
    * decomposability is what makes the result MAINTAINABLE under a
    * changelog ([[densestMaintain]]) — with the global threshold, any
    * delta re-couples every component through the average degree and
    * nothing could pass through verbatim. On a connected graph the
    * output is exactly [[densestSubgraph]]'s rows keyed by the single
    * component (spec-checked).
    *
    * Approximation: per-component peeling carries the same
    * 2(1+ε)-guarantee per component, and the densest subgraph of the
    * whole graph lives inside one component — so the globally best
    * `is_best` row (cross-component argmax by the same exact-integer
    * compare, a post-hoc projection) is at least as good an answer as
    * the global peel's, often strictly better (the global threshold
    * can peel a small dense component away while a huge sparse one
    * holds the average down).
    *
    * Scale shape: per round one (cmp,u)-keyed degree aggregation + one
    * cmp-keyed stats aggregation + two semi-joins — the
    * [[densestSubgraph]] plan with `cmp` added to the keys; rounds =
    * max over components of the geometric bound, all components peel
    * in the SAME pass (no per-component loop). The only driver scalar
    * is the loop-control arc count. The final per-component argmax is
    * a stats⋈stats self-join keyed by cmp in DECIMAL(38,0)
    * cross-multiplication — the stats table holds ≤ rounds·|components|
    * rows, never edges.
    *
    * Output: one row per (component, non-empty round) —
    * `(component, round, n_vertices, n_edges, density_micro, is_best)`
    * with component = the min-label CC id (the min vertex id in the
    * component — the cross-engine label contract), density_micro =
    * ⌊10⁶·m/n⌋ by two-step BIGINT floor division (ms·500000 alone
    * overflows 64-bit at 10¹³ arcs), and is_best = 1 on exactly the
    * component's earliest max-density round.
    *
    * `labels`: a stored `(id, component)` CC decomposition of this edge
    * set if the deployment keeps one; computed fresh when absent.
    */
  def densestByComponent(edges: DataFrame, maxRounds: Int = 320,
                         labels: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym0 = symmetrize(edges).cutLineage()
    val emptySchema = Seq.empty[(Long, Long, Long, Long, Long, Long)]
      .toDF("component", "round", "n_vertices", "n_edges", "density_micro", "is_best")
    val arcs0 = Lineage.rows(sym0)
    if (arcs0 == 0) return emptySchema
    // the one-task leg derives the min-label decomposition itself
    // (`labels`, when given, must be exactly that decomposition); one
    // count serves the empty check and the gate
    if (LocalGraph.oneTask("densestByComponent", sym0))
      return LocalDensest.densestByComponentLocal(sym0, maxRounds)
    val vcomp = labels.getOrElse(ConnectedComponents.auto(
        sym0.select(col("u").as("src"), col("v").as("dst"))))
      .select(col("id"), col("component").as("cmp"))
    var sym = sym0.join(vcomp.toDF("u", "cmp"), Seq("u"))
      .select(col("cmp"), col("u"), col("v")).cutLineage()
    val perRound = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 0L
    var arcs = Lineage.rows(sym)
    while (arcs > 0 && r < maxRounds) {
      val stats = sym.groupBy(col("cmp"))
        .agg(countDistinct(col("u")).as("n"), count(lit(1)).as("ms"))
        .cutLineage()
      perRound += stats.withColumn("round", lit(r))
      // keep v iff 10·deg(v)·n_c > 11·m_c — per-component threshold;
      // DECIMAL(38,0) products (deg·n overflows 64-bit at the target)
      val keep = sym.groupBy(col("cmp"), col("u")).agg(count(lit(1)).as("d"))
        .join(stats, Seq("cmp"))
        .where(col("d").cast("decimal(38,0)") * col("n") * lit(10L) >
          col("ms").cast("decimal(38,0)") * lit(11L))
        .select(col("u").as("kid"))
      sym = sym
        .join(keep, sym("u") === keep("kid"), "left_semi")
        .join(keep, sym("v") === keep("kid"), "left_semi")
        .cutLineage()
      arcs = Lineage.rows(sym)
      r += 1
    }
    require(arcs == 0,
      s"densestByComponent: $arcs arcs remain after $maxRounds rounds — " +
        "raise maxRounds; a truncated peel may miss the densest prefix")
    val st = perRound.reduce(_ unionByName _).cutLineage()
    // per-component earliest-max argmax by exact cross-multiplication:
    // round a loses iff some round b of the SAME component has strictly
    // greater density (ms_b·n_a > ms_a·n_b) or equal density and an
    // earlier round. Stats-table self-join — rows ∝ rounds·components.
    val beaten = st.toDF("cmp", "n", "ms", "round")
      .join(st.toDF("cmp", "nb", "msb", "roundb"), Seq("cmp"))
      .where(col("msb").cast("decimal(38,0)") * col("n") >
          col("ms").cast("decimal(38,0)") * col("nb") ||
        (col("msb").cast("decimal(38,0)") * col("n") ===
          col("ms").cast("decimal(38,0)") * col("nb") &&
          col("roundb") < col("round")))
      .select(col("cmp"), col("round")).distinct()
      .withColumn("beaten", lit(1L))
    st.join(beaten, Seq("cmp", "round"), "left")
      .select(col("cmp").as("component"), col("round"),
        col("n").as("n_vertices"),
        expr("ms div 2").as("n_edges"),
        // ⌊ms·500000/n⌋ without the 64-bit overflow of the direct
        // product: (ms div n)·500000 + ((ms % n)·500000) div n — exact
        // for nonnegative integers, every intermediate ≤ 5·10¹⁷
        (expr("ms div n") * lit(500000L) +
          expr("(ms % n) * 500000 div n")).as("density_micro"),
        when(col("beaten").isNull, lit(1L)).otherwise(lit(0L)).as("is_best"))
  }

  /** CDC-MAINTAINED densest subgraph — the maintenance-matrix leg for
    * the density family: given the previous [[densestByComponent]]
    * stats, the previous edges and insert/delete deltas, produce the
    * NET graph's per-component peel WITHOUT recomputing unaffected
    * components.
    *
    * Soundness (the [[Communities.louvainMaintain]] argument applied to
    * stats rows): a component's rows are a pure function of its induced
    * edge set (component-local thresholds — that is what
    * [[densestByComponent]] buys). A supergraph (old ∪ inserts)
    * component untouched by any delta endpoint has an identical induced
    * net edge set, net components refine supergraph components, and its
    * min-vertex label is unchanged — so its stored rows pass through
    * verbatim (the component label IS a vertex id inside the component,
    * which is exactly what the anti-join below tests). Affected
    * components re-run the peel on their induced net edges; the peel is
    * seed-free (a deterministic function of the edges), so the union is
    * bit-equal to a fresh [[densestByComponent]] of the net graph
    * (spec-checked).
    *
    * Delta precedence: tombstone wins — net = (old ∪ inserts) ∖
    * deletes, the shared contract of the C10 maintenance family.
    * REGIME: on a single-giant-component graph every delta affects
    * everything and this degenerates to the full recompute plus
    * carve-out overhead (the honest certification case); the win is the
    * unaffected fraction on multi-component graphs, measured at tier 2.
    *
    * `labels`: the supergraph's stored `(id, component)` decomposition
    * when the deployment keeps one; computed fresh when absent.
    * `trace`, when given, records the affected-vertex count.
    */
  def densestMaintain(oldStats: DataFrame, oldEdges: DataFrame,
                      inserts: DataFrame, deletes: DataFrame,
                      maxRounds: Int = 320,
                      labels: Option[DataFrame] = None,
                      trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val (netC, affVerts) =
      Maintenance.carve(oldEdges, inserts, deletes, labels, trace)
    // an unaffected component's label is a vertex id INSIDE it, so one
    // anti-join on the label column is the membership test
    val passThrough = oldStats.join(
      affVerts.toDF("component"), Seq("component"), "left_anti")
    // the affected induced subgraph is component-closed in the NET
    // graph (net ⊆ old ∪ inserts): one endpoint test suffices
    val sub = netC.join(affVerts.toDF("u"), Seq("u"), "left_semi")
    val recomputed = densestByComponent(
      sub.select(col("u").as("src"), col("v").as("dst")), maxRounds)
    passThrough.unionByName(recomputed)
  }

  /** Undirected view of temporal edge EVENTS `(src, dst, t)` — the
    * [[symmetrize]] contract carrying the event time: both directions,
    * self-loops dropped, exact-duplicate events merged. Shared by both
    * temporal relaxations so their edge normalization cannot diverge.
    */
  private def symmetrizeTemporal(tedges: DataFrame): DataFrame =
    tedges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"), col("t").cast("long"))
      .union(tedges.select(col("dst").cast("long"), col("src").cast("long"),
        col("t").cast("long")))
      .where(col("u") =!= col("v"))
      .distinct()
      .cutLineage()

  /** LATEST-DEPARTURE temporal reachability — the dual of
    * [[temporalBfs]]: for a fixed `target` and `deadline`, lt(v) is the
    * latest time information may LEAVE v and still reach the target
    * time-respectingly (each edge time ≥ the previous, arriving while
    * its tail's budget allows): lt(target) = deadline, and
    * lt(v) = max over edge events (v, u, t) with t ≤ lt(u) of t.
    * Values are monotone non-decreasing per vertex and bounded by the
    * deadline, so the max-relax fixpoint is unique; the frontier rule
    * mirrors [[temporalBfs]] with the inequality flipped — an INCREASE
    * at u reopens edges into v that an earlier round correctly
    * rejected. Output: `(id, departure)` for vertices that can reach
    * the target at all.
    */
  def temporalDeparture(tedges: DataFrame, target: Long, deadline: Long,
                        maxRounds: Int = 64,
                        trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val spark = tedges.sparkSession
    import spark.implicits._
    val sym = symmetrizeTemporal(tedges).cutLineage()
    // `trace` callers probe round shape and take the rounds
    if (LocalGraph.oneTask("temporalDeparture", sym,
        cap = if (trace.isEmpty) Long.MaxValue else 0L))
      return LocalGraph.temporalDepartureLocal(sym, target, deadline)
    var lt = Seq((target, deadline)).toDF("id", "a").cutLineage()
    var changed = lt.select(col("id"))
    var moved = 1L
    var r = 0
    while (moved > 0 && r < maxRounds) {
      // edges INTO an improved vertex u: (v, u, t) usable iff t ≤ lt(u)
      val cand = sym.join(changed.toDF("v"), Seq("v"), "left_semi")
        .join(lt.toDF("v", "av"), Seq("v"))
        .where(col("t") <= col("av"))
        .groupBy(col("u").as("id")).agg(max(col("t")).as("na"))
      val next = lt.join(cand, Seq("id"), "full")
        .select(col("id"),
          greatest(coalesce(col("a"), col("na")), coalesce(col("na"), col("a"))).as("a"),
          (col("a").isNull || (col("na").isNotNull && col("na") > col("a"))).as("ch"))
        .cutLineage()
      changed = next.where(col("ch")).select("id")
      moved = changed.count()
      trace.foreach(_ += moved)
      lt = next.select("id", "a")
      r += 1
    }
    require(moved == 0,
      s"temporalDeparture: $moved budgets still improving after $maxRounds rounds — " +
        "raise maxRounds; a truncated relaxation is not the latest departure")
    lt.select(col("id"), col("a").as("departure"))
  }

  /** Time-respecting earliest-arrival BFS over TEMPORAL edge events
    * `(src, dst, t)` (undirected view): a path may only traverse an
    * edge event whose time is ≥ the arrival time at its tail, and the
    * arrival at a vertex is the minimum over such paths of the last
    * edge's time. The source starts at arrival `startT` (any event is
    * usable from it). This is the temporal reachability primitive —
    * "what could this vertex have influenced, respecting time order" —
    * that static BFS gets WRONG on temporal graphs (a later edge cannot
    * forward information received after it fired).
    *
    * Iterates Bellman-Ford-style rounds to the unique fixpoint (arrival
    * times are monotone non-increasing per vertex, bounded below), with
    * the frontier discipline of [[coreness]]: only edges out of
    * vertices whose arrival IMPROVED last round are re-relaxed — one
    * semi-join + one keyed join + one min-aggregate per round. Rounds ≤
    * the longest minimal time-respecting path (hop count); fails loud at
    * `maxRounds` — a truncated relaxation is not the earliest arrival.
    *
    * Output: `(id, arrival)` for every temporally-reachable vertex.
    */
  def temporalBfs(tedges: DataFrame, source: Long, startT: Long = -1L,
                  maxRounds: Int = 64,
                  trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val spark = tedges.sparkSession
    import spark.implicits._
    val sym = symmetrizeTemporal(tedges).cutLineage()
    // `trace` callers probe round shape and take the rounds
    if (LocalGraph.oneTask("temporalBfs", sym, cap = if (trace.isEmpty) Long.MaxValue else 0L))
      return LocalGraph.temporalArrivalLocal(sym, source, startT)
    var arr = Seq((source, startT)).toDF("id", "a").cutLineage()
    var changed = arr.select(col("id"))
    var moved = 1L
    var r = 0
    while (moved > 0 && r < maxRounds) {
      val cand = sym.join(changed.toDF("u"), Seq("u"), "left_semi")
        .join(arr.toDF("u", "au"), Seq("u"))
        .where(col("t") >= col("au"))
        .groupBy(col("v").as("id")).agg(min(col("t")).as("na"))
      val next = arr.join(cand, Seq("id"), "full")
        .select(col("id"),
          least(coalesce(col("a"), col("na")), coalesce(col("na"), col("a"))).as("a"),
          (col("a").isNull || (col("na").isNotNull && col("na") < col("a"))).as("ch"))
        .cutLineage()
      changed = next.where(col("ch")).select("id")
      moved = changed.count()
      trace.foreach(_ += moved)
      arr = next.select("id", "a")
      r += 1
    }
    require(moved == 0,
      s"temporalBfs: $moved arrivals still improving after $maxRounds rounds — " +
        "raise maxRounds; a truncated relaxation is not the earliest arrival")
    arr.select(col("id"), col("a").as("arrival"))
  }
}
