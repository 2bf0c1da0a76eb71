package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning forest by Borůvka's algorithm (public: Borůvka
  * 1926; the standard distributed MSF — every parallel-graph text and
  * e.g. the GraphX/Pregel literature use the same component-hooking
  * shape).
  *
  * Round structure (O(log |V|) rounds — component count at least
  * halves every round because every component hooks to a neighbor).
  * The edge table itself CARRIES its endpoints' current component
  * labels (cu, cv) — there is no separate vertex→label table, because
  * the output is forest edges (original ids), never labels:
  *   1. per component, pick the minimum incident inter-component edge
  *      by the TOTAL lexicographic order (w, u, v) — a deterministic
  *      tie-break that makes the chosen forest unique even with
  *      duplicate weights (it is exactly the MSF of the perturbed
  *      distinct weights, so still minimum); `min(struct(...))` is a
  *      plain catalyst min — map-side partial aggregation, skew-safe
  *      by construction;
  *   2. contract: the selected edges connect components; the merged
  *      group's label comes from the pointer-jumping contraction over
  *      the ≤C-row component graph, and the RELABEL TABLE (old label →
  *      merged label, ≤C rows, shrinking geometrically) joins back
  *      against the edge table's (cu, cv) — edges whose endpoints land
  *      in the same merged component are dropped FOR GOOD, so the edge
  *      table shrinks monotonically.
  *
  * Under the total order, following selected min-edges strictly
  * decreases (w, u, v), so the component pointer graph has only
  * 2-cycles (mutual minima) — the contraction graph is a pseudoforest
  * and the inner CC converges in O(log chain) rounds on a table whose
  * size is the CURRENT component count, not |E|.
  *
  * Per-round selected edges accumulate lazily (each round's selection
  * is already materialized for the contraction join) and union into
  * the forest ONCE after convergence — one final dedup instead of a
  * per-round re-materialization of the growing forest.
  *
  * 100 TB shape: per round two relabel joins of the shrinking edge set
  * against the ≤C-row relabel table (AQE broadcasts it as soon as it
  * fits — after the first contraction C has at least halved), one
  * component-keyed min aggregation (partial-agg, no skew
  * concentration), and an inner CC over ≤C rows. Nothing ever
  * concentrates on the driver except the per-round loop-control
  * `count()` (the audited class).
  *
  * Output: the MSF edge set `(u, v, w)` with u < v.
  *
  * Correctness contract (spec-pinned + oracle-checked downstream):
  *  - q188 hash-checks spanning-forest structure per component
  *    (n_edges = n_vertices − 1, every vertex touched);
  *  - q189 hash-checks the defining MSF property — connectivity at a
  *    weight threshold equals the original graph's (single-linkage
  *    clustering identity: CC(MSF ∩ w≤τ) ≡ CC(E ∩ w≤τ));
  *  - the spec pins edge-set equality with an in-JVM Kruskal under the
  *    same (w, u, v) order, i.e. minimality itself.
  */
object SpanningForest {

  /** Mergeable partial-MSF aggregation (local Kruskal then merge —
    * MSF(A ∪ B) = MSF(MSF(A) ∪ MSF(B)), the red rule): the exact,
    * deterministic collapse of [[boruvka]]'s remaining rounds once the
    * inter-component edge set fits a task's memory. Input rows carry
    * the CONTRACTED component keys (ca, cb) the union-find runs on and
    * the original (u, v, w) the forest reports; both sides use the SAME
    * (w, u, v) total order, so the result is the unique MSF of the
    * contracted multigraph — bit-equal to what the remaining rounds
    * would pick (MsfSpec pins boruvka ≡ in-JVM Kruskal).
    */
  private class KruskalAgg extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Long, Long, Long, Long), graft.summaries.KruskalForest, Seq[(Long, Long, Long)]] {
    def zero = new graft.summaries.KruskalForest
    def reduce(f: graft.summaries.KruskalForest,
               e: (Long, Long, Long, Long, Long)): graft.summaries.KruskalForest = {
      f.add(e._1, e._2, e._3, e._4, e._5); f
    }
    def merge(x: graft.summaries.KruskalForest,
              y: graft.summaries.KruskalForest): graft.summaries.KruskalForest =
      if (x.held >= y.held) x.mergeFrom(y) else y.mergeFrom(x)
    def finish(f: graft.summaries.KruskalForest): Seq[(Long, Long, Long)] = f.forest
    def bufferEncoder = graft.summaries.SummaryCodecs.kruskalForestEncoder
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long, Long)]]()
  }

  /** The unique MSF of a contracted multigraph via [[KruskalAgg]]:
    * rows (cu, cv, u, v, w) → forest edges (u, v, w). One partial-agg
    * pass, no rounds.
    */
  private def kruskalForest(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("cu").cast("long"), col("cv").cast("long"),
        col("u").cast("long"), col("v").cast("long"), col("w").cast("long"))
      .as[(Long, Long, Long, Long, Long)]
      .select(new KruskalAgg().toColumn.name("value"))
      .select(explode(col("value")).as("e"))
      .select(col("e._1").as("u"), col("e._2").as("v"), col("e._3").as("w"))
  }

  /** Borůvka MSF. `edges`: (src, dst, weight) — direction ignored,
    * self-loops dropped, parallel edges collapsed to their min weight
    * (none of them can be in the MSF).
    *
    * `tailEdgeBar`: once the remaining inter-component edge set is at
    * most this many rows, the remaining rounds collapse into ONE
    * [[kruskalForest]] aggregation (MSF(G) = picked ∪ MSF(G/picked),
    * and the contracted MSF is unique under the shared (w, u, v)
    * order — bit-equal output, spec-pinned vs the round-only path).
    * The distributed rounds remain the >bar path: a Kruskal buffer is
    * per-task memory ∝ edges, the same 100 TB bound that gates the
    * CC singlePass/iterative choice. The bar turns Borůvka's long
    * latency-bound tail (rounds shrink geometrically, per-round job
    * cost does not) into one partial-agg pass.
    */
  def boruvka(edges: DataFrame, maxRounds: Int = 40,
              tailEdgeBar: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    // canonical dedup'd edges, each row carrying its endpoints' CURRENT
    // component labels (cu, cv) — initially the vertices themselves.
    // ANY consistent labeling works (labels only key the min-edge
    // groups; forest rows carry vertex ids, never labels) — after a
    // contraction the label is the merged group's terminal-2-cycle
    // root, canonical but not necessarily the group's min member
    var e = edges
      .select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"),
        col("weight").cast("long").as("w"))
      .where(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min("w").as("w"))
      .select(col("u"), col("v"), col("w"),
        col("u").as("cu"), col("v").as("cv"))
      .cutLineage()

    // each round's selection is already checkpointed for the
    // contraction join — accumulate the frames and union once at the
    // end (a selected edge becomes intra-component the same round, so
    // cross-round duplicates are impossible; within-round mutual-minima
    // duplicates fall to the single final distinct)
    val picked = scala.collection.mutable.ListBuffer.empty[DataFrame]

    var round = 0
    var remaining = Lineage.rows(e)
    while (remaining > tailEdgeBar && round < maxRounds) {
      // 1. min incident edge per component under total order (w,u,v)
      val out = e.select(col("cu").as("c"),
          struct(col("w"), col("u"), col("v"), col("cv").as("o")).as("cand"))
        .union(e.select(col("cv"),
          struct(col("w"), col("u"), col("v"), col("cu").as("o"))))
      val sel = out.groupBy("c").agg(min("cand").as("m")).cutLineage()
      picked += sel.select(col("m.u").as("u"), col("m.v").as("v"),
        col("m.w").as("w"))

      // 2. contract: the selected-edge pointer graph is a pseudoforest
      // with only 2-cycles (header proof) — root election + pointer
      // jumping replaces the general CC's hook/neighbor-min machinery.
      // The ≤C-row relabel table joins the edge table's component keys
      // directly (no vertex→label table exists to maintain); AQE
      // broadcasts it once it fits under the threshold
      val relabel = contractPseudoforest(
        sel.select(col("c"), col("m.o").as("p")))
      e = e.join(relabel.toDF("cu", "ncu"), Seq("cu"), "left")
        .join(relabel.toDF("cv", "ncv"), Seq("cv"), "left")
        .select(col("u"), col("v"), col("w"),
          coalesce(col("ncu"), col("cu")).as("cu"),
          coalesce(col("ncv"), col("cv")).as("cv"))
        .where(col("cu") =!= col("cv"))
        .cutLineage()
      remaining = Lineage.rows(e)
      round += 1
    }
    require(remaining <= tailEdgeBar,
      s"boruvka did not converge in $maxRounds rounds ($remaining inter-component edges left)")
    // lazy: the tail aggregation executes once, when the caller consumes
    // the forest (every call site checkpoints or sinks the result)
    if (remaining > 0) picked += kruskalForest(e)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType))))
    picked.foldLeft(empty)(_ union _).distinct()
  }

  /** INCREMENTAL minimum spanning forest — the daily-update path:
    * given the PREVIOUS forest `(u, v, w)` and a DELTA of new weighted
    * edges `(src, dst, weight)`, produce the forest of the grown graph
    * WITHOUT re-reading the old edge set.
    *
    * Correctness: the classic MSF composition identity
    * MSF(G ∪ Δ) = MSF(MSF(G) ∪ Δ) — any old edge outside MSF(G) is the
    * maximum of some cycle in G (the red rule), remains the maximum of
    * that same cycle in G ∪ Δ, and so is outside MSF(G ∪ Δ) too. Under
    * the deterministic total order (w, u, v) the "weights" are
    * effectively distinct and IDENTICAL across both runs, so the
    * composed forest is bit-equal to the full-graph forest — which is
    * exactly what the q190 oracle hash-checks (q186's equivalence
    * pattern). Cost: one [[boruvka]] over ≤|V|−1+|Δ| edges instead of
    * |E|+|Δ| — on a graph where edges outnumber vertices 100:1, the
    * daily recompute drops by that factor.
    */
  def boruvkaDelta(forest: DataFrame, delta: DataFrame,
                   maxRounds: Int = 40): DataFrame =
    boruvka(
      forest.select(col("u").as("src"), col("v").as("dst"),
          col("w").as("weight"))
        .unionByName(delta.select(col("src").cast("long"),
          col("dst").cast("long"), col("weight").cast("long"))),
      maxRounds)

  /** DECREMENTAL minimum spanning forest — the retraction half of the
    * daily-update path ([[boruvkaDelta]] handles inserts; takedowns
    * DELETE): given the previous forest, the previous edge set and a
    * set of deleted edges, produce the forest of the shrunk graph by
    * re-running Borůvka ONLY over the components a forest-edge deletion
    * touches.
    *
    * Correctness, under the deterministic total order (w, u, v) that
    * makes the MSF unique:
    *  - deleting a NON-forest edge never changes the forest (the red
    *    rule: MSF(G) is still a spanning forest of G∖{e} — removing a
    *    non-tree edge can't disconnect — and any forest of G∖{e} is a
    *    forest of G, so the minimum is unchanged and, being unique,
    *    bit-equal);
    *  - deleting a FOREST edge can only change the forest INSIDE its
    *    own component (MSF decomposes per connected component), so
    *    affected components re-run [[boruvka]] over their induced
    *    surviving edges — finding the replacement edge across the cut
    *    if one exists, or the split forests if not — while unaffected
    *    components' forest edges pass through verbatim.
    * The union is therefore bit-equal to the full Borůvka over E∖D,
    * which is exactly what the q209 oracle hash-checks (q190/q191's
    * equivalence pattern). Deleting an absent edge is a no-op; edge
    * identity is direction-insensitive ((a,b) deletes (b,a)).
    *
    * Cost: one CC over the ≤|V|−1 forest edges for component labels
    * (the ∝V class, never ∝E — or FREE when the nightly run's stored
    * decomposition is passed via `labels`), one relabel pass over the
    * old edges to carve out the affected induced subgraphs — at 100 TB
    * the old edge set is stored partitioned by component label (the
    * layout [[graft.operators.ConnectedComponents
    * .decrementalPartitioned]] reads), so this is a partition-pruned
    * read, not a full scan — then Borůvka work ∝ affected |V|+|E| only.
    *
    * REGIME (tier2msfdec, SCALE.md): the win is proportional to the
    * UNAFFECTED fraction. On a single-giant-component graph any forest
    * deletion marks the whole graph affected and the "maintenance"
    * degenerates to the full recompute plus carve-out overhead —
    * measured SLOWER than plain [[boruvka]] over E∖D there. The
    * deployment shape this operator exists for is the many-small-
    * components regime (dedup/cluster forests: millions of components,
    * daily deltas touching few), where the recompute slice is the
    * affected components only.
    *
    * `labels`: the forest's component decomposition, if the deployment
    * already stores one (id, component; any CONSISTENT per-component
    * labeling works — the values are grouping keys only and never reach
    * the output). Omitted, it is derived from the forest.
    */
  def boruvkaDecremental(forest: DataFrame, oldEdges: DataFrame,
                         deleted: DataFrame, maxRounds: Int = 40,
                         labels: Option[DataFrame] = None): DataFrame = {
    val f = forest.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"), col("w").cast("long").as("w"))
      .cutLineage()
    val d = deleted.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct().cutLineage()
    // affected = components whose FOREST lost an edge (forest rows are
    // already canonical u < v, so endpoint-normalized deletion keys
    // match directly; non-forest deletions never change the MSF)
    val delF = f.join(d, f("u") === d("a") && f("v") === d("b"), "left_semi")
    // component labels: the caller's stored decomposition, or derived
    // from the forest itself (≤|V|−1 edges — the forest is
    // connectivity-equivalent to the old graph by definition)
    val lab = labels
      .map(_.select(col("id").cast("long").as("id"),
        col("component").cast("long").as("component")))
      .getOrElse(ConnectedComponents.auto(
          f.select(col("u").as("src"), col("v").as("dst")))
        .toDF("id", "component"))
      .cutLineage()
    val affected = delF.join(lab, delF("u") === lab("id"))
      .select("component").distinct().cutLineage()
    // induced surviving edges of the affected components (old edges
    // never cross old components, so keying one endpoint suffices)
    val e = oldEdges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"),
        col("weight").cast("long").as("w"))
      .where(col("a") =!= col("b"))
    val subE = e.join(d, Seq("a", "b"), "left_anti")
      .join(lab.toDF("a", "ca"), Seq("a"))
      .join(affected.toDF("ca"), Seq("ca"), "left_semi")
      .select(col("a").as("src"), col("b").as("dst"), col("w").as("weight"))
    val recomputed = boruvka(subE, maxRounds)
    val passThrough = f.join(lab.toDF("u", "cu"), Seq("u"))
      .join(affected.toDF("cu"), Seq("cu"), "left_anti")
      .select("u", "v", "w")
    passThrough.unionByName(recomputed)
  }

  /** [[boruvkaDecremental]] over a component-PARTITIONED edge layout —
    * the deployment shape its scaladoc promises, mirroring
    * [[ConnectedComponents.decrementalPartitioned]]: after the nightly
    * MSF + CC run, the edge set is laid out by component
    * (`Sources.writePartitioned(edgesWithComponent, path, "component")`
    * with columns (src, dst, weight, component)), and the daily
    * deletion pass READS only the affected components' directories —
    * a static `isin` filter the parquet source turns into
    * PartitionFilters (spec-asserted), with the same
    * `maxIsinLiterals` fence + broadcast left-semi fallback for mass
    * retractions. `labels` is the stored decomposition (id,
    * component) matching the layout's partition values. Returns
    * labels identical to the plain operator (spec-pinned).
    */
  def boruvkaDecrementalPartitioned(forest: DataFrame, labels: DataFrame,
                                    edgesByComponent: DataFrame,
                                    deleted: DataFrame, maxRounds: Int = 40,
                                    maxIsinLiterals: Int = 10000): DataFrame = {
    val f = forest.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"), col("w").cast("long").as("w"))
      .cutLineage()
    val d = deleted.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct().cutLineage()
    val delF = f.join(d, f("u") === d("a") && f("v") === d("b"), "left_semi")
    val lab = labels.select(col("id").cast("long").as("id"),
      col("component").cast("long").as("component")).cutLineage()
    val affected = delF.join(lab, delF("u") === lab("id"))
      .select("component").distinct().cutLineage()
    // ONE driver job decides the fence AND supplies the isin literals
    // (the ConnectedComponents.decrementalPartitioned discipline)
    val ids = affected.limit(maxIsinLiterals + 1).collect().map(_.getLong(0))
    val pruned =
      if (ids.length <= maxIsinLiterals)
        edgesByComponent.where(col("component").isin(ids.map(Long.box): _*))
      else
        edgesByComponent.join(broadcast(affected), Seq("component"), "left_semi")
    val subE = pruned.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"),
        col("weight").cast("long").as("w"))
      .where(col("a") =!= col("b"))
      .join(d, Seq("a", "b"), "left_anti")
      .select(col("a").as("src"), col("b").as("dst"), col("w").as("weight"))
    val recomputed = boruvka(subE, maxRounds)
    val passThrough = f.join(lab.toDF("u", "cu"), Seq("u"))
      .join(affected.toDF("cu"), Seq("cu"), "left_anti")
      .select("u", "v", "w")
    passThrough.unionByName(recomputed)
  }

  /** Contraction labels for Borůvka's selected-edge pointer graph.
    * Input `(c, p)`: one row per component, p = the other endpoint
    * component of c's selected minimum edge. Following p strictly
    * decreases the total edge order (w, u, v) except at mutual minima,
    * so the graph is a functional pseudoforest whose only cycles are
    * 2-cycles — which makes the general CC machinery (neighbor-min
    * join + hook step, ~4 shuffles + 1 action per round) overkill:
    *
    *  1. root election: ONE self-join finds p(p(c)); a 2-cycle member
    *     (p(p(c)) == c) takes min(c, p) — the merged group's root —
    *     as its label, every other node takes p(p(c)) (TWO hops
    *     rootward, falling back to p when p has no pointer row) —
    *     halving chain depth before the jumping even starts;
    *  2. pointer jumping: l ← l(l) until fixpoint — one self-join and
    *     one changed-count action per round, O(log chain) rounds.
    *
    * The root's label is itself (min of its own 2-cycle), so it is a
    * fixpoint and every chain collapses onto it. Output `(c, l)` = the
    * (old label → merged label) relabel table, ≤|components| rows. The
    * merged label is the terminal 2-cycle's min — a CANONICAL id for
    * the group, not necessarily its global min member (an interior
    * chain component may carry a smaller id); Borůvka only needs the
    * labeling to be consistent, never minimal, so this is free.
    */
  private[operators] def contractPseudoforest(ptr: DataFrame,
                                              maxRounds: Int = 40): DataFrame = {
    val p2 = ptr.toDF("c2", "p2")
    var lab = ptr.join(p2, ptr("p") === col("c2"), "left")
      .select(ptr("c"),
        when(col("p2") === ptr("c"), least(ptr("c"), ptr("p")))
          .otherwise(coalesce(col("p2"), ptr("p"))).as("l"))
      .cutLineage()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val rhs = lab.toDF("c2", "l2")
      val jumped = lab.join(rhs, lab("l") === col("c2"), "left")
        .select(lab("c"), lab("l").as("lo"),
          coalesce(col("l2"), lab("l")).as("l"))
        .cutLineage()
      converged = jumped.where(col("lo") =!= col("l")).limit(1).isEmpty
      lab = jumped.select("c", "l")
      round += 1
    }
    require(converged,
      s"pseudoforest contraction did not converge in $maxRounds rounds — " +
        "the pointer graph was not the 2-cycle pseudoforest Borůvka produces")
    lab
  }

  /** Single-linkage clustering at threshold τ through the MSF: the
    * clusters of "join everything at distance ≤ τ" are exactly the
    * connected components of the MSF edges with w ≤ τ (an MSF
    * preserves connectivity at EVERY threshold — the classic
    * single-linkage/MSF identity, e.g. Gower & Ross 1969). Computing
    * the forest once then cutting it answers all thresholds with a
    * CC over ≤|V|−1 edges instead of |E|.
    *
    * Output: (id, cluster) for every vertex of `edges`, cluster = min
    * member id; vertices isolated at τ keep themselves as cluster.
    */
  def singleLinkage(edges: DataFrame, msf: DataFrame, tau: Long): DataFrame = {
    val verts = edges
      .select(col("src").cast("long").as("id"))
      .union(edges.select(col("dst").cast("long")))
      .distinct()
    val cut = msf.where(col("w") <= tau)
      .select(col("u").as("src"), col("v").as("dst"))
    val cc = ConnectedComponents.auto(cut)
    verts.join(cc.toDF("id", "cluster"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }
}
