package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting — batch/window re-expression of the reference's
  * incremental exact triangle count (GS/example/ExactTriangleCount
  * .java:~50–200 builds per-vertex neighborhoods and intersects them per
  * edge; GS/example/WindowTriangles.java:~40–150 emits wedges per window
  * and matches closing edges).
  *
  * Algorithm: degree-oriented edge-iterator. Orient each edge from its
  * lower-(degree, id) endpoint (bounding out-degrees by O(√m) — hub
  * safety), build each vertex's out-neighbor list once, then for every
  * oriented edge (u,v) the triangles through it are
  * `N⁺(u) ∩ N⁺(v)` — a codegen'd `array_intersect`, NOT a join. In the
  * oriented DAG every triangle a→b, a→c, b→c is found exactly once, at
  * edge (a,b).
  *
  * Physical shape: one shuffle to build adjacency lists (|V| rows),
  * then two equi-joins of the edge list against them (broadcast when
  * the adjacency table fits, AQE decides; shuffle otherwise) with the
  * intersection evaluated map-side. The wedge relation — O(m^1.5) rows
  * that a join-based plan must materialize and shuffle — never exists.
  */
object Triangles {

  /** Oriented edges (ctr → out) plus both endpoints' out-neighbor lists,
    * computed independently per `win` group: degrees, orientation and
    * adjacency are all windowed, so a hub in one window keeps its
    * O(√m_win) out-degree bound there. Kept separate from the batch
    * [[withAdjacency]] on purpose — threading a constant win column
    * through the batch path measurably regressed q14 (the wider
    * adjacency rows flip AQE's broadcast decision at sf0.1).
    */
  private def withAdjacencyKeyed(cw: DataFrame): DataFrame = {
    // The edge set feeds degree agg, orientation and adjacency: compute
    // its upstream (e.g. the co-purchase self-join) once.
    val cc = cw.cutLineage()
    val deg = cc.select(col("win"), explode(array(col("src"), col("dst"))).as("v"))
      .groupBy("win", "v").agg(count("*").as("d"))

    val oriented = cc
      .join(deg.toDF("win", "src", "sd"), Seq("win", "src"))
      .join(deg.toDF("win", "dst", "dd"), Seq("win", "dst"))
      .select(col("win"),
        when(col("sd") < col("dd") || (col("sd") === col("dd")),
          struct(col("src").as("lo"), col("dst").as("hi")))
          .otherwise(struct(col("dst").as("lo"), col("src").as("hi"))).as("e"))
      .select(col("win"), col("e.lo").as("u"), col("e.hi").as("v"))
      .cutLineage()

    val adj = oriented.groupBy(col("win"), col("u").as("w"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))

    oriented
      .join(adj.toDF("win", "u", "au"), Seq("win", "u"))
      .join(adj.toDF("win", "v", "av"), Seq("win", "v"))
  }

  /** Public handle on the oriented+adjacency relation so callers running
    * several triangle statistics over the SAME edge set (e.g. global and
    * per-vertex counts in one bench session) can pay the degree/orient/
    * adjacency build once: `val a = adjacency(c).cutLineage()`
    * then [[globalCountFrom]] / [[perVertexCountsFrom]].
    */
  def adjacency(c: DataFrame): DataFrame = withAdjacency(c)

  /** Oriented edges (ctr → out) plus both endpoints' out-neighbor lists. */
  private def withAdjacency(c: DataFrame): DataFrame = {
    // The edge set feeds degree agg, orientation and adjacency: compute
    // its upstream (e.g. the co-purchase self-join) once.
    val cc = c.cutLineage()
    val deg = cc.select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy("v").agg(count("*").as("d"))

    val oriented = cc
      .join(deg.toDF("src", "sd"), Seq("src"))
      .join(deg.toDF("dst", "dd"), Seq("dst"))
      .select(
        when(col("sd") < col("dd") || (col("sd") === col("dd")),
          struct(col("src").as("lo"), col("dst").as("hi")))
          .otherwise(struct(col("dst").as("lo"), col("src").as("hi"))).as("e"))
      .select(col("e.lo").as("u"), col("e.hi").as("v"))
      .cutLineage()

    val adj = oriented.groupBy(col("u").as("w"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))

    oriented
      .join(adj.toDF("u", "au"), Seq("u"))
      .join(adj.toDF("v", "av"), Seq("v"))
  }

  /** Enumerate triangles of a canonical (src < dst, DISTINCT) edge set —
    * duplicate edge rows are the caller's bug: they inflate degrees and
    * adjacency lists, and the merge-scan counting path pairs duplicates
    * multiplicatively (`ktruss` canonicalizes+distincts for you; the
    * count/enumerate entry points trust their input, like the fixtures).
    * One row per triangle: (ta, tb, tc) = (apex, mid, third) in degree
    * order, NOT id-sorted.
    */
  def enumerate(c: DataFrame): DataFrame =
    withAdjacency(c).select(
      col("u").as("ta"), col("v").as("tb"),
      explode(array_intersect(col("au"), col("av"))).as("tc"))

  /** Global triangle count (reference ExactTriangleCount global counter).
    * Sums intersection sizes directly — no per-triangle row ever exists.
    */
  def globalCount(c: DataFrame): DataFrame = globalCountFrom(withAdjacency(c))

  /** [[globalCount]] over a pre-built [[adjacency]] relation. The
    * adjacency lists are sorted+distinct by construction, so the count
    * uses the allocation-free merge-scan expression instead of
    * materializing every intersection just to size it.
    */
  def globalCountFrom(withAdj: DataFrame): DataFrame =
    withAdj.agg(coalesce(sum(
      graft.expressions.VectorExpressions.sortedIntersectCount(col("au"), col("av"))),
      lit(0L)).as("triangles"))

  /** INCREMENTAL triangle maintenance — the graph-update sibling of
    * [[graft.operators.ConnectedComponents.incremental]]: given the old
    * canonical edge set and a delta of new edges, count the triangles
    * the delta CREATES (those containing ≥ 1 genuinely-new edge) by
    * wedge-closing each new edge through the grown graph — work
    * ∝ Σ_delta (deg(x) + deg(y)) plus a dedup shuffle of the candidate
    * triples, never a re-enumeration of the old graph's triangles.
    * Duplicate-of-old delta edges are dropped first (they create
    * nothing). A triangle with 2–3 new edges surfaces once per new
    * edge; the canonical-triple `distinct` collapses it to one row, so
    * the count is exact. Output one row: `(n_old, n_new, n_total)`
    * with n_total = n_old + n_new ≡ the full graph's triangle count —
    * the identity the q187 oracle hash-checks from the full edge set.
    */
  private def canonXY(df: DataFrame) = df.select(
      least(col("src"), col("dst")).cast("long").as("x"),
      greatest(col("src"), col("dst")).cast("long").as("y"))
    .where(col("x") =!= col("y")).distinct()

  /** ONE-ROW count of the distinct triangles of `full` (canonical
    * (x, y) pairs) that contain at least one `targets` edge — the
    * wedge-closing enumeration shared by [[deltaTriangles]],
    * [[decrementalTriangles]] and [[transitivityMaintain]]: join each
    * target edge's endpoints against the symmetrized adjacency, the
    * candidates ARE the common neighbors (the deg(x)·deg(y) cross
    * product never materializes), canonical-triple distinct collapses
    * a triangle surfacing through 2–3 target edges to one row.
    */
  private def closedThrough(full: DataFrame, targets: DataFrame,
                            out: String): DataFrame = {
    val sym = full.select(col("x").as("a"), col("y").as("b"))
      .unionByName(full.select(col("y").as("a"), col("x").as("b")))
    targets
      .join(sym.toDF("x", "w"), Seq("x"))
      .join(sym.toDF("y", "w"), Seq("y", "w"))
      .select(least(col("x"), col("y"), col("w")).as("ta"),
        (col("x") + col("y") + col("w")
          - least(col("x"), col("y"), col("w"))
          - greatest(col("x"), col("y"), col("w"))).as("tb"),
        greatest(col("x"), col("y"), col("w")).as("tc"))
      .distinct()
      .agg(count(lit(1)).as(out))
  }

  def deltaTriangles(oldEdges: DataFrame, delta: DataFrame): DataFrame = {
    val o = canonXY(oldEdges).cutLineage()
    val dNew = canonXY(delta).join(o, Seq("x", "y"), "left_anti").cutLineage()
    val full = o.unionByName(dNew).cutLineage()
    val nNew = closedThrough(full, dNew, "n_new")
    val nOld = globalCount(o.select(col("x").as("src"), col("y").as("dst")))
      .select(col("triangles").as("n_old"))
    nOld.crossJoin(nNew)
      .select(col("n_old"), col("n_new"),
        (col("n_old") + col("n_new")).as("n_total"))
  }

  /** DECREMENTAL triangle maintenance — [[deltaTriangles]]' retraction
    * half (the deletion sibling of [[graft.operators
    * .ConnectedComponents.decremental]]): count the triangles an edge
    * DELETION destroys by wedge-closing each deleted edge through the
    * OLD graph — a destroyed triangle is exactly an old triangle
    * containing ≥ 1 deleted edge, it surfaces once per deleted edge it
    * contains, and the canonical-triple `distinct` collapses it to one
    * row, so the count is exact (triangles with 2–3 deleted edges are
    * not double-counted). Deleting an absent edge destroys nothing
    * (semi-join drop). Work ∝ Σ_deleted (deg(x) + deg(y)) + the
    * candidate dedup — never a re-enumeration of surviving triangles.
    * Output one row: `(n_old, n_destroyed, n_remaining)` with
    * n_remaining ≡ the triangle count of E∖D — the identity the q194
    * oracle hash-checks by recounting both edge sets.
    */
  def decrementalTriangles(oldEdges: DataFrame, deleted: DataFrame): DataFrame = {
    val o = canonXY(oldEdges).cutLineage()
    val d = canonXY(deleted).join(o, Seq("x", "y"), "left_semi").cutLineage()
    val nDel = closedThrough(o, d, "n_destroyed")
    val nOld = globalCount(o.select(col("x").as("src"), col("y").as("dst")))
      .select(col("triangles").as("n_old"))
    nOld.crossJoin(nDel)
      .select(col("n_old"), col("n_destroyed"),
        (col("n_old") - col("n_destroyed")).as("n_remaining"))
  }

  /** MAINTAINED TRANSITIVITY — the q62 global clustering ratio updated
    * from the stored `(n_triangles, n_wedges, transitivity)` row and
    * degree table by COMPOSING two maintenance patterns:
    *
    *   triangles — the wedge-closing deltas ([[deltaTriangles]] /
    *     [[decrementalTriangles]] without their certification
    *     recounts): created = grown-graph triangles containing an
    *     actually-added edge, destroyed = grown-graph triangles
    *     containing an actually-removed edge; a triangle both created
    *     and destroyed cancels exactly, so
    *     n_net = n_old + created − destroyed. Work ∝
    *     Σ_delta (deg(x) + deg(y)).
    *   wedges — the algebraic delta ([[DegreeMetrics
    *     .assortativityMaintain]]'s pattern): Σ C(d, 2) changes only
    *     at delta endpoints, so the stored sum is patched by
    *     Σ_touched (C(d_net, 2) − C(d_old, 2)) in exact integers.
    *
    * Identical integers in ⇒ the readout double is bit-equal to a
    * cold [[transitivity]] over the net graph. `oldDegrees` =
    * [[DegreeMetrics.undirectedDegrees]] of `oldEdges` (the canonical
    * endpoint count — the same degree [[transitivity]] derives);
    * tombstone-wins, re-insert and absent-delete no-ops fall out of
    * the set-difference resolution. `trace` records the
    * touched-vertex count.
    */
  def transitivityMaintain(oldStats: DataFrame, oldDegrees: DataFrame,
                           oldEdges: DataFrame, inserts: DataFrame,
                           deletes: DataFrame,
                           trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val o = canonXY(oldEdges).cutLineage()
    val insEff = canonXY(inserts).join(o, Seq("x", "y"), "left_anti")
      .cutLineage()
    val grown = o.unionByName(insEff).cutLineage()
    val delEff = canonXY(deletes).join(grown, Seq("x", "y"), "left_semi")
      .cutLineage()
    val created = closedThrough(grown, insEff, "n_created")
    val destroyed = closedThrough(grown, delEff, "n_destroyed")
    // the q264 endpoint-degree patch: added/removed vs the NET set, so
    // an edge inserted and deleted in the same changelog touches no one
    val net = grown.join(delEff, Seq("x", "y"), "left_anti").cutLineage()
    val added = net.join(o, Seq("x", "y"), "left_anti")
    val removed = o.join(net, Seq("x", "y"), "left_anti")
    def ends(p: DataFrame) =
      p.select(col("x").as("id")).unionByName(p.select(col("y").as("id")))
    val touched = ends(added).unionByName(ends(removed)).distinct()
      .cutLineage()
    trace.foreach(_ += Lineage.rows(touched))
    val dAdj = ends(added).groupBy("id").agg(count(lit(1)).as("plus"))
      .join(ends(removed).groupBy("id").agg(count(lit(1)).as("minus")),
        Seq("id"), "full")
    val wedgeDelta = touched
      .join(oldDegrees.toDF("id", "d0"), Seq("id"), "left")
      .join(dAdj, Seq("id"), "left")
      .select(coalesce(col("d0"), lit(0L)).as("d_old"),
        (coalesce(col("d0"), lit(0L)) + coalesce(col("plus"), lit(0L))
          - coalesce(col("minus"), lit(0L))).as("d_net"))
      .agg(coalesce(sum(expr("d_net * (d_net - 1) div 2 - d_old * (d_old - 1) div 2")),
        lit(0L)).as("w_delta"))
    oldStats.select(col("n_triangles").as("t_0"), col("n_wedges").as("w_0"))
      .crossJoin(created).crossJoin(destroyed).crossJoin(wedgeDelta)
      .select((col("t_0") + col("n_created") - col("n_destroyed")).as("n_triangles"),
        (col("w_0") + col("w_delta")).as("n_wedges"))
      .select(col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("transitivity"))
  }

  /** Per-vertex triangle counts, vertices with ≥1 triangle. */
  def perVertexCounts(c: DataFrame): DataFrame =
    perVertexCountsFrom(withAdjacency(c))

  /** [[perVertexCounts]] over a pre-built [[adjacency]] relation. */
  def perVertexCountsFrom(withAdj: DataFrame): DataFrame =
    withAdj.select(
        col("u").as("ta"), col("v").as("tb"),
        explode(array_intersect(col("au"), col("av"))).as("tc"))
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("id"))
      .groupBy("id").agg(count("*").as("triangles"))

  /** Per-vertex 4-clique participation counts — the next motif up from
    * triangles (community cores, spam/bot cliques): a 4-clique is an
    * oriented triangle (ta <π tb <π tc in the degree orientation) plus
    * one vertex in the intersection of all three out-neighbor lists, so
    * each clique is enumerated exactly once from its π-minimal triangle.
    * Cost rides the same Σ min-side bound as the triangle enumerator —
    * one extra adjacency join and a three-way sorted intersection per
    * triangle; never a 4-way edge self-join. Output: (id, cliques4) for
    * vertices in ≥1 4-clique.
    */
  def fourCliqueCounts(c: DataFrame): DataFrame = {
    // canonicalize defensively (the ktruss discipline): duplicated or
    // reversed inputs fold into one (min, max) edge instead of
    // inflating degrees and adjacency lists
    val edges = c.select(
        least(col("src"), col("dst")).cast("long").as("src"),
        greatest(col("src"), col("dst")).cast("long").as("dst"))
      .where(col("src") < col("dst")).distinct()
    val adjRel = adjacency(edges).cutLineage()
    // per-vertex out-lists recovered from BOTH roles of the edge
    // relation (tc usually appears as an edge's v, never only as u);
    // π-sinks carry no list and cannot extend a triangle, so the inner
    // join below is exact
    val alist = adjRel.select(col("u").as("tc"), col("au").as("ac"))
      .unionByName(adjRel.select(col("v").as("tc"), col("av").as("ac")))
      .dropDuplicates("tc")
    // evaluate the edge's out-list intersection ONCE and carry it: the
    // td stage intersects it against tc's list per TRIANGLE row, and
    // re-deriving the O(deg) edge intersection there would repeat the
    // merge for every triangle of the edge
    adjRel
      .withColumn("common", array_intersect(col("au"), col("av")))
      .select(col("u").as("ta"), col("v").as("tb"),
        explode(col("common")).as("tc"), col("common"))
      .join(alist, Seq("tc"))
      .select(col("ta"), col("tb"), col("tc"),
        explode(array_intersect(col("common"), col("ac"))).as("td"))
      .select(explode(array(col("ta"), col("tb"), col("tc"), col("td"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("cliques4"))
  }

  /** Triangle count per tumbling window over a windowed canonical edge
    * set (win, src, dst) — the reference's WindowTriangles. Same
    * degree-oriented edge-iterator as the global path, with degrees and
    * adjacency computed within each window — a per-window hub would blow
    * up id-canonical orientation exactly the way the global path avoids.
    */
  def countPerWindow(cw: DataFrame): DataFrame =
    withAdjacencyKeyed(cw)
      .groupBy("win")
      .agg(sum(graft.expressions.VectorExpressions.sortedIntersectCount(
        col("au"), col("av"))).as("triangles"))
      .where(col("triangles") > 0)

  /** δ-constrained temporal triangle motifs (Paranjape-style, the
    * 3-edge cyclic motif): triples of edge EVENTS e1={a,b,t1},
    * e2={b,c,t2}, e3={a,c,t3} on three distinct vertices with strictly
    * increasing times t1 < t2 < t3 ≤ t1 + δ. Counted once per
    * time-ordered triple — e1 and e2 share exactly one vertex (the
    * motif's `center`), so the (e1, e2) wedge construction is
    * injective; equal-timestamp edge pairs are excluded by the strict
    * order (the deterministic contract; event-time ties carry no
    * order).
    *
    * Input: temporal edge events (src, dst, t) with src < dst, t in
    * epoch seconds; multi-edges at distinct times are distinct events.
    *
    * Plan: TWO bucketed range joins (q121's trick, never Σ deg²
    * globally): wedge formation buckets the earlier edge into its own
    * and the next δ-bucket and equi-joins on (center, bucket); closure
    * equi-joins the wedge's outer pair against the event table on
    * (pair, bucket) — both joins' volume tracks per-bucket co-activity,
    * and the exact time window filters after the equi-join. Output:
    * (center, n_triangles).
    */
  def temporalTriangles(events: DataFrame, deltaSec: Long): DataFrame = {
    val e = events.select(col("src").cast("long").as("x"),
        col("dst").cast("long").as("y"), col("t").cast("long").as("t"))
      .cutLineage() // two sym branches + the closure side
    val sym = e.select(col("x").as("p"), col("y").as("o"), col("t"))
      .unionByName(e.select(col("y").as("p"), col("x").as("o"), col("t")))
    val s1 = sym.select(col("p"), col("o").as("a"), col("t").as("t1"),
      explode(array(expr(s"t div $deltaSec"), expr(s"t div $deltaSec + 1"))).as("bk"))
    val s2 = sym.select(col("p"), col("o").as("c"), col("t").as("t2"),
      expr(s"t div $deltaSec").as("bk"))
    val wedges = s1.join(s2, Seq("p", "bk"))
      .where(col("t2") > col("t1") && col("t2") - col("t1") <= deltaSec &&
        col("a") =!= col("c"))
      .select(col("p").as("center"),
        least(col("a"), col("c")).as("u3"), greatest(col("a"), col("c")).as("v3"),
        col("t1"), col("t2"))
    // t1 < t3 ≤ t1 + δ pins t3's bucket to t1's or the next one
    val w2 = wedges.select(col("center"), col("u3"), col("v3"), col("t1"), col("t2"),
      explode(array(expr(s"t1 div $deltaSec"), expr(s"t1 div $deltaSec + 1"))).as("bk"))
    val e3 = e.select(col("x").as("u3"), col("y").as("v3"), col("t").as("t3"),
      expr(s"t div $deltaSec").as("bk"))
    w2.join(e3, Seq("u3", "v3", "bk"))
      .where(col("t3") > col("t2") && col("t3") <= col("t1") + deltaSec)
      .groupBy(col("center"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** k-truss: the maximal subgraph whose every edge participates in at
    * least k−2 triangles — the edge-analog of k-core and the standard
    * cohesive-subgraph miner. Iterative peel: count per-edge triangle
    * support with the degree-oriented enumerator, drop light edges,
    * repeat to fixpoint. Per round: one triangle enumeration (the q14
    * plan) + one support aggregation + one join; convergence from the
    * scalar edge count. Returns the canonical `(src, dst)` truss edges.
    */
  /** `deltaFraction` picks the per-round strategy: a round that removes
    * more than this fraction of the surviving edges recounts support by
    * re-enumerating the (already much smaller) kept graph — enumeration
    * cost ∝ remaining graph, and a fat round shrinks it a lot; a round
    * below it maintains support incrementally — cost ∝ the removed
    * edges' neighborhoods, which is what keeps the LONG TAIL of
    * small-removal rounds from re-scanning a 100 TB graph each time.
    * Measured warm on the sf0.1 co-purchase bench graph (SCALE.md,
    * "k-truss strategy A/B", identical outputs): k=5 hybrid 3.7 s vs
    * always-delta 4.5 s vs always-recount 5.3 s; k=7 hybrid 2.7 s vs
    * 4.1 s vs 2.9 s — the hybrid takes recount's fat first round AND
    * delta's cheap tail.
    * 0 ⇒ always recount, 1 ⇒ always delta.
    */
  def ktruss(c: DataFrame, k: Int, maxIter: Int = 50,
             deltaFraction: Double = 0.05): DataFrame = {
    require(k >= 3, s"ktruss: k must be >= 3, got $k")
    // canonicalize rather than filter: reversed/directed inputs fold
    // into (min, max) instead of being silently dropped
    val edges = c.select(
        least(col("src"), col("dst")).cast("long").as("src"),
        greatest(col("src"), col("dst")).cast("long").as("dst"))
      .where(col("src") < col("dst")).distinct()
      .cutLineage()
    peelFrom(withSupport(edges), k, maxIter, deltaFraction).select("src", "dst")
  }

  private def countSupport(es: DataFrame): DataFrame =
    enumerate(es).select(explode(array(
        struct(least(col("ta"), col("tb")).as("s"), greatest(col("ta"), col("tb")).as("d")),
        struct(least(col("ta"), col("tc")).as("s"), greatest(col("ta"), col("tc")).as("d")),
        struct(least(col("tb"), col("tc")).as("s"), greatest(col("tb"), col("tc")).as("d"))))
        .as("e"))
      .groupBy(col("e.s").as("src"), col("e.d").as("dst"))
      .agg(count("*").as("sup"))

  private def withSupport(es: DataFrame): DataFrame =
    es.join(countSupport(es), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), coalesce(col("sup"), lit(0L)).as("sup"))
      .cutLineage()

  /** The hybrid peel loop over an ALREADY-CORRECT (src, dst, sup)
    * table, returning the CONVERGED support table of the k-truss
    * survivors. Exposed separately so [[trussness]] can thread level
    * k's converged supports straight into level k+1 — the (k+1) peel
    * starts from exactly the supports a fresh enumeration of the
    * surviving graph would recount.
    */
  private def peelFrom(support0: DataFrame, k: Int, maxIter: Int,
                       deltaFraction: Double): DataFrame = {
    var support = support0
    var m = Lineage.rows(support)
    var below = support.where(col("sup") < k - 2).count()
    var iter = 0
    while (below > 0 && iter < maxIter) {
      if (m == 0 || below.toDouble / m > deltaFraction) {
        // fat round: drop the light edges and recount on the kept graph
        support = withSupport(support.where(col("sup") >= k - 2).select("src", "dst"))
      } else {
        // thin round: maintain support — only triangles touching a
        // removed edge are recounted
        val removed = support.where(col("sup") < k - 2).select("src", "dst")
        val kept = support.where(col("sup") >= k - 2)
        val old = support.select("src", "dst")

        // adjacency (in the pre-removal graph) for ONLY the vertices
        // touching a removed edge — a filter scan + bounded groupBy
        val affected = removed.select(explode(array(col("src"), col("dst"))).as("av")).distinct()
        val sym = old.select(col("src").as("u"), col("dst").as("v"))
          .union(old.select(col("dst").as("u"), col("src").as("v")))
        val adjA = sym.join(affected, sym("u") === affected("av"), "left_semi")
          .groupBy("u").agg(collect_set(col("v")).as("nbrs"))

        // distinct triangles of the old graph containing >=1 removed edge
        val tri = removed
          .join(adjA.select(col("u").as("src"), col("nbrs").as("an")), Seq("src"))
          .join(adjA.select(col("u").as("dst"), col("nbrs").as("bn")), Seq("dst"))
          .select(col("src"), col("dst"), explode(array_intersect(col("an"), col("bn"))).as("w"))
        val t3 = tri.select(array_sort(array(col("src"), col("dst"), col("w"))).as("t")).distinct()

        // each lost triangle decrements each of its SURVIVING edges once
        val deltas = t3.select(explode(array(
            struct(col("t")(0).as("src"), col("t")(1).as("dst")),
            struct(col("t")(0).as("src"), col("t")(2).as("dst")),
            struct(col("t")(1).as("src"), col("t")(2).as("dst")))).as("e"))
          .groupBy(col("e.src").as("src"), col("e.dst").as("dst"))
          .agg(count("*").as("dec"))
        support = kept.join(deltas, Seq("src", "dst"), "left")
          .select(col("src"), col("dst"),
            (col("sup") - coalesce(col("dec"), lit(0L))).as("sup"))
          .cutLineage()
      }
      m -= below
      below = support.where(col("sup") < k - 2).count()
      iter += 1
    }
    support
  }

  /** Per-edge TRUSS CLASS — the edge analogue of [[Traversals.coreness]]:
    * trussness(e) = the largest k with e in the k-truss, computed by
    * successive peels on the monotonically shrinking edge set
    * ((k+1)-truss ⊆ k-truss, so each level starts from the previous
    * level's survivors — the k=3 peel on the full graph dominates and
    * later levels cost geometrically less). Edges in no 3-truss report
    * trussness 2; survivors of the `kMax`-truss report `kMax`, meaning
    * "≥ kMax" (the cap bounds the level count — raise it when the deep
    * classes matter). Each level rides [[ktruss]]'s hybrid peel, and
    * the converged SUPPORT table of level k's survivors seeds level
    * k+1 directly — supports are valid in the surviving subgraph by
    * construction, so the per-level full triangle recount the naive
    * chain would pay (the k=3 enumeration repeated per level) happens
    * exactly ONCE, on the original graph.
    */
  def trussness(c: DataFrame, kMax: Int = 6): DataFrame = {
    require(kMax >= 3, s"trussness: kMax must be >= 3, got $kMax")
    val edges = c.select(
        least(col("src"), col("dst")).cast("long").as("src"),
        greatest(col("src"), col("dst")).cast("long").as("dst"))
      .where(col("src") < col("dst")).distinct()
      .cutLineage()
    if (LocalGraph.oneTask("trussness", edges, div = 2))
      return LocalGraph.trussnessLocal(edges, kMax)
    var sup = withSupport(edges)
    var parts = List.empty[DataFrame]
    for (k <- 3 to kMax) {
      val surv = peelFrom(sup, k, 50, 0.05)
      parts ::= sup.join(surv, Seq("src", "dst"), "left_anti")
        .select(col("src"), col("dst"), lit((k - 1).toLong).as("trussness"))
      sup = surv
    }
    parts ::= sup.select(col("src"), col("dst"), lit(kMax.toLong).as("trussness"))
    parts.reduce(_ unionByName _)
  }

  /** MAINTAINED truss decomposition — the edge-keyed leg of the
    * maintenance matrix ([[Traversals.corenessMaintain]] is the
    * vertex-keyed one): given the previous decomposition
    * `(src, dst, trussness)`, the previous edges, and insert/delete
    * deltas, produce the NET graph's trussness recomputing ONLY the
    * affected components.
    *
    * Soundness: trussness is a per-component statistic (triangles
    * never cross components), and a component of the SUPERGRAPH
    * (old ∪ inserts) untouched by any delta endpoint has an identical
    * edge set in the old and net graphs — its rows pass through
    * verbatim. Components are closed under both endpoints, so one
    * endpoint-membership test classifies an edge. Affected components
    * re-run the [[trussness]] peel on their induced net edges —
    * certification cost ∝ affected |E|, the
    * [[ConnectedComponents.decremental]] carve-out discipline. Same
    * REGIME caveat as corenessMaintain: a single-giant-component graph
    * degenerates to the full peel plus carve-out overhead.
    *
    * Delta precedence: tombstone-wins (net = (old ∪ inserts) ∖
    * deletes), the CDC model. Edge identity is direction-insensitive.
    * `labels`: the supergraph's stored CC decomposition when the
    * deployment keeps one; computed fresh when absent. `trace`
    * records the affected-edge count.
    */
  def trussnessMaintain(oldTruss: DataFrame, oldEdges: DataFrame,
                        inserts: DataFrame, deletes: DataFrame,
                        labels: Option[DataFrame] = None, kMax: Int = 6,
                        trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    def canon(df: DataFrame): DataFrame = df.select(
        least(col("src"), col("dst")).cast("long").as("src"),
        greatest(col("src"), col("dst")).cast("long").as("dst"))
      .where(col("src") < col("dst")).distinct()
    val oldE = canon(oldEdges)
    val insE = canon(inserts)
    val delE = canon(deletes)
    val superE = oldE.unionByName(insE).distinct().cutLineage()
    val netE = superE.join(delE, Seq("src", "dst"), "left_anti").cutLineage()
    val lbl = labels.getOrElse(ConnectedComponents.auto(superE))
      .select(col("id"), col("component"))
    val touched = insE.unionByName(delE)
      .select(col("src").as("id")).unionByName(
        insE.unionByName(delE).select(col("dst").as("id")))
      .distinct()
    val affComps = lbl.join(touched, Seq("id"), "left_semi")
      .select(col("component")).distinct()
    val affVerts = lbl.join(affComps, Seq("component"), "left_semi")
      .select(col("id")).cutLineage()
    // components are endpoint-closed: testing src suffices
    val affNet = netE.join(affVerts.toDF("src"), Seq("src"), "left_semi")
      .cutLineage()
    trace.foreach(_ += Lineage.rows(affNet))
    val passThrough = oldTruss.select(
        col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
        col("trussness").cast("long").as("trussness"))
      .join(affVerts.toDF("src"), Seq("src"), "left_anti")
    passThrough.unionByName(trussness(affNet, kMax))
  }

  /** DOULION-style sparsified triangle estimate: keep each edge iff
    * `xxhash64(src, dst, seed) mod 1e6 < p·1e6` — a deterministic,
    * order-independent, mergeable "coin flip" (the same edge always
    * gets the same verdict on any executor), then count triangles on
    * the sparsified graph and scale by 1/p³. Sparsification cuts the
    * adjacency build and wedge work by ~p² before any list exists —
    * the cheap first pass for 100 TB graphs where even degree-oriented
    * exact counting is too expensive.
    *
    * Output is a driver-checkable gate row (the q33/q36 recall-gate
    * pattern): `(n_exact, rel_err_ok)` where the estimate is computed
    * in-query and compared to the exact count at a fixed tolerance —
    * deterministic because the hash sampling is.
    */
  def sparsifiedEstimateGate(c: DataFrame, p: Double = 0.5, seed: Long = 42L,
                             tol: Double = 0.2): DataFrame = {
    val cc = c.cutLineage()
    // ONE adjacency build + ONE aggregation pass for BOTH counts
    // (r13, guide §2.4 — the previous shape built a second full
    // adjacency of the sparsified subgraph): a triangle of the kept
    // subgraph is exactly a triangle of the full graph whose three
    // edges all pass the hash test, and every triangle is enumerated
    // exactly once under EITHER graph's degree orientation — so
    // filtering the full orientation's edge rows and (sorted,
    // sortedness-preserving) adjacency lists by the same per-edge hash
    // yields the identical count, value-equal to globalCount(kept)
    // (spec-pinned A/B). The hash is evaluated on the canonical
    // (least, greatest) pair, which is the (src, dst) the old shape
    // hashed.
    sparsifiedCounts(cc, p, seed)
      .select(col("n_exact"),
        (col("kept_triangles") / lit(p * p * p)).as("est"))
      .select(col("n_exact"),
        // triangle-free graph: 0/0 would be NULL; an exact-zero estimate
        // is trivially within tolerance
        when(col("n_exact") === 0, col("est") === 0.0)
          .otherwise(abs(col("est") - col("n_exact")) / col("n_exact") <= tol)
          .as("rel_err_ok"))
  }

  /** The fused one-pass count pair behind [[sparsifiedEstimateGate]]:
    * one row (n_exact, kept_triangles). Exposed for the spec's
    * value-pin against the two-pass globalCount(kept) shape.
    */
  private[graft] def sparsifiedCounts(cc: DataFrame, p: Double,
                                      seed: Long): DataFrame = {
    def keptPair(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      pmod(xxhash64(least(a, b), greatest(a, b), lit(seed)), lit(1000000L)) <
        lit((p * 1e6).toLong)
    // one adjacency build carrying BOTH lists: the full sorted
    // out-neighbors and the hash-kept subset (collect_list skips the
    // when()'s nulls; a subset of a sorted distinct list is sorted
    // distinct). The kept flag is evaluated once per oriented edge —
    // never per list element.
    val deg = cc.select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy("v").agg(count("*").as("d"))
    val oriented = cc
      .join(deg.toDF("src", "sd"), Seq("src"))
      .join(deg.toDF("dst", "dd"), Seq("dst"))
      .select(
        when(col("sd") < col("dd") || (col("sd") === col("dd")),
          struct(col("src").as("lo"), col("dst").as("hi")))
          .otherwise(struct(col("dst").as("lo"), col("src").as("hi"))).as("e"))
      .select(col("e.lo").as("u"), col("e.hi").as("v"))
      .cutLineage()
    val adj = oriented.groupBy(col("u").as("w"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"),
        sort_array(collect_list(
          when(keptPair(col("u"), col("v")), col("v")))).as("knbrs"))
    val sic = graft.expressions.VectorExpressions.sortedIntersectCount _
    oriented
      .join(adj.toDF("u", "au", "kau"), Seq("u"))
      .join(adj.toDF("v", "av", "kav"), Seq("v"))
      .agg(
        coalesce(sum(sic(col("au"), col("av"))), lit(0L)).as("n_exact"),
        coalesce(sum(when(keptPair(col("u"), col("v")),
          sic(col("kau"), col("kav")))
          .otherwise(lit(0L))), lit(0L)).as("kept_triangles"))
  }

  /** Global transitivity (global clustering coefficient):
    * 3·triangles / wedges, wedges = Σ_v deg(v)·(deg(v)−1)/2. One row
    * `(n_triangles, n_wedges, transitivity)`. Both inputs are exact
    * integers aggregated distributed; the single final division happens
    * on the two scalars, so any engine computing the same formula
    * produces the identical double.
    */
  def transitivity(c: DataFrame): DataFrame = {
    val cc = c.cutLineage()
    // d*(d-1) is always even, so `div` keeps the whole sum in exact Long
    // arithmetic — `/` would promote to double and lose exactness (and
    // cross-engine determinism) past 2^53 wedges.
    val wedges = cc.select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy("v").agg(count("*").as("d"))
      .agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    globalCount(cc).withColumnRenamed("triangles", "n_triangles")
      .crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("transitivity"))
  }

  /** Local clustering coefficient per vertex with degree ≥ 2:
    * 2·tri(v) / (deg(v)·(deg(v)−1)). Composes the degree-oriented
    * triangle counts with the degree table — no plan shape beyond what
    * those two already do (the canonical edge set is distinct, so the
    * endpoint count IS the distinct-neighbor count).
    */
  /** Butterfly (2×2 biclique) counting over a BIPARTITE edge list
    * (src = left vertex, dst = right vertex) — the bipartite analogue
    * of triangle counting, the standard cohesion motif for
    * part–supplier / user–item graphs (triangles cannot exist across a
    * bipartition). A butterfly is two left vertices sharing two right
    * vertices; counting by wedges: for every left pair (a < b), w(a,b)
    * = |common right neighbors|, and butterflies = Σ C(w, 2) — each
    * butterfly counted exactly once by its left pair.
    *
    * `wedgeSide` names the PIVOT side — the side whose vertices the
    * wedges pass through; the counted pairs are the OTHER side's. Wedge
    * volume is Σ_pivot deg², so pivot on the side with the SMALLER
    * per-vertex degrees (for part–supplier, each part touches tens of
    * suppliers while each supplier fans out to hundreds of parts →
    * pivot on parts = "left"; measured at sf0.1: 113 s pivoting on
    * suppliers vs seconds pivoting on parts — the Σdeg² asymmetry is
    * 10×). Kept a parameter, not inferred — inference would need a
    * degree aggregation at compose time (the hidden-driver-action
    * rule). Output: one row
    * (n_butterflies, n_wedge_pairs) in exact integers — w·(w−1) is
    * always even, so the /2 is exact on any engine.
    *
    * Plan: one self-join on the pivot side + one pair aggregation +
    * one global sum. Shuffle ∝ wedge count; hub skew on the pivot side
    * rides AQE's skew split, and the q91 salting note applies past it.
    */
  def butterflies(edges: DataFrame, wedgeSide: String = "right"): DataFrame =
    wedgePairCounts(edges, wedgeSide, "butterflies").agg(
      // `div` keeps the arithmetic in exact integers (Column `/`
      // promotes to double — partition-order-dependent past 2^53, the
      // same trap transitivity()'s comment documents); w·(w−1) is even,
      // so the truncating division is the exact C(w, 2)
      coalesce(sum(expr("w * (w - 1) div 2")), lit(0L)).cast("long").as("n_butterflies"),
      count(lit(1)).as("n_wedge_pairs"))

  /** Shared wedge-pair prefix for [[butterflies]] / [[butterflyDegrees]]:
    * per pair (a < b) on the NON-pivot side, the count of shared pivot
    * vertices. Pivot column is the shared one; pair column forms the
    * wedge ends.
    */
  private def wedgePairCounts(edges: DataFrame, wedgeSide: String,
                              caller: String): DataFrame = {
    require(wedgeSide == "left" || wedgeSide == "right",
      s"$caller: wedgeSide must be left|right, got $wedgeSide")
    val e0 = edges.select(col("src").cast("long").as("l"), col("dst").cast("long").as("r"))
      .distinct()
    val (pivot, pair) = if (wedgeSide == "right") ("r", "l") else ("l", "r")
    val e = e0.select(col(pivot).as("pv"), col(pair).as("pr")).cutLineage()
    e.toDF("pv", "a").join(e.toDF("pv", "b"), Seq("pv"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
  }

  /** Per-vertex butterfly participation on the PAIR side of
    * [[butterflies]] (the side whose pairs are counted): vertex x's
    * butterfly degree = Σ_y C(w(x,y), 2) — the standard cohesion /
    * spam-detection signal for bipartite graphs (a burst account
    * sharing many items with many accounts lights up here first).
    * Same wedge plan as the global count plus one explode of the pair
    * table; emits (id, butterfly_degree) for vertices with ≥ 1.
    */
  def butterflyDegrees(edges: DataFrame, wedgeSide: String = "right"): DataFrame =
    wedgePairCounts(edges, wedgeSide, "butterflyDegrees")
      .where(col("w") >= 2)
      .withColumn("bf", expr("w * (w - 1) div 2")) // exact-integer C(w, 2)
      .select(explode(array(col("a"), col("b"))).as("id"), col("bf"))
      .groupBy("id").agg(sum("bf").cast("long").as("butterfly_degree"))

  /** Directed triad census over a directed edge set — the
    * motif-analysis counterpart of [[globalCount]] for graphs where
    * direction carries meaning (who-follows-whom, dependency edges):
    * one row `(n_edges, n_reciprocal, cycle_triangles, ffl_triangles)`.
    *
    *  - `n_reciprocal`: edges whose reverse also exists (reciprocity's
    *    numerator) — a self-semi-join on the flipped pair.
    *  - `cycle_triangles`: directed 3-cycles a→b→c→a over distinct
    *    vertices, counted once per cyclic orientation via the unique
    *    min-vertex rotation (a < b, a < c) — no orientation trick
    *    applies to directed cycles, but the two chained equi-joins
    *    shuffle on single vertex keys and AQE handles the skew.
    *  - `ffl_triangles`: feed-forward triples a→b, b→c, a→c with
    *    distinct vertices — roles (source/middle/sink) are fixed, so
    *    each triple counts exactly once without canonicalization.
    *
    * All three counts ride the SAME deduplicated edge checkpoint; the
    * joins are vertex-keyed shuffles (no cross product anywhere).
    */
  def directedTriadCensus(edges: DataFrame): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .cutLineage()
    val nEdges = e.select(count(lit(1)).as("n_edges"))
    val nRecip = e.join(e.toDF("v", "u"), Seq("u", "v"), "left_semi")
      .select(count(lit(1)).as("n_reciprocal"))
    val ab = e.toDF("a", "b")
    val bc = e.toDF("b", "c")
    val wedges = ab.join(bc, Seq("b")).where(col("a") =!= col("c"))
    val cycles = wedges
      .join(e.toDF("c", "a"), Seq("c", "a"), "left_semi")
      .where(col("a") < col("b") && col("a") < col("c"))
      .select(count(lit(1)).as("cycle_triangles"))
    val ffl = wedges
      .join(e.toDF("a", "c"), Seq("a", "c"), "left_semi")
      .select(count(lit(1)).as("ffl_triangles"))
    nEdges.crossJoin(nRecip).crossJoin(cycles).crossJoin(ffl)
  }

  /** CDC-MAINTAINED local clustering coefficients — the carve-out
    * discipline ([[Traversals.densestMaintain]]) applied to the q58
    * composition: degree and per-vertex triangle count are both pure
    * functions of a vertex's component's induced edges (triangles
    * never cross components, degrees are vertex-local), so an
    * unaffected supergraph component's (id, degree, triangles, coeff)
    * rows are identical on base and net and pass through VERBATIM;
    * affected components recount over their induced net edges only.
    * Bit-equal to a cold [[clusteringCoefficients]] over the net
    * graph; work ∝ affected |E|. `oldClust` must come from
    * [[clusteringCoefficients]] on `oldEdges` (canonical pairs).
    */
  def clusteringMaintain(oldClust: DataFrame, oldEdges: DataFrame,
                         inserts: DataFrame, deletes: DataFrame,
                         labels: Option[DataFrame] = None,
                         trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val (netC, affVerts) =
      Maintenance.carve(oldEdges, inserts, deletes, labels, trace)
    val passThrough = oldClust.join(
      affVerts.toDF("id"), Seq("id"), "left_anti")
    val sub = netC.join(affVerts.toDF("u"), Seq("u"), "left_semi")
    passThrough.unionByName(clusteringCoefficients(
      sub.select(col("u").as("src"), col("v").as("dst"))))
  }

  def clusteringCoefficients(c: DataFrame): DataFrame = {
    val cc = c.cutLineage()
    val deg = cc.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy("id").agg(count("*").as("degree"))
    val tri = perVertexCounts(cc)
    deg.where(col("degree") >= 2)
      .join(tri, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
          (col("degree") * (col("degree") - 1)), 6).as("coeff"))
  }
}
