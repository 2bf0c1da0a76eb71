package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic maximal matching via local-min handshaking — the
  * parallel greedy matching used as the coarsening primitive in
  * multilevel graph partitioners (and a classic ½-approximation to
  * maximum matching).
  *
  * Per round, every live vertex points at its minimum incident edge
  * under the engine-portable priority order ([[graft.Portable.prio31]]
  * of the packed canonical edge key, ties broken by the key itself —
  * the same hash the MIS rounds use, so decreasing-priority chains are
  * O(log n) expected instead of the O(n) a lexicographic order can
  * produce); an edge joins the matching iff BOTH endpoints point at it
  * (the handshake). Matched vertices leave the graph; repeat until no
  * edges remain. The rule is a pure function of the edge set, so the
  * result is bit-identical under any partitioning — and replayable
  * round-by-round in SQL (the q79 MIS / k-core unroll pattern).
  *
  * Distributed shape: each round is one explode + keyed min (the
  * per-vertex candidate), one self-join to detect handshakes, and one
  * anti-join to retire matched vertices — work ∝ live edges, shuffles
  * keyed on vertex id throughout; lineage cut per round. The round cap
  * fails loud rather than returning a non-maximal matching.
  *
  * Reference scope: gelly-streaming has no matching operator; this
  * extends the iterative family with the standard coarsening primitive
  * its Louvain sibling ([[Communities]]) benefits from.
  */
object Matching {

  /** Canonical (u < v) lexicographic edge key; requires ids < 10⁹ so
    * the packed key stays exact in a Long.
    */
  private val KeyBase = 1000000000L

  /** Maximal matching over the undirected simple graph spanned by
    * `edges` (src, dst, …). Returns the matched pairs (u BIGINT,
    * v BIGINT) with u < v.
    */
  private def canonical(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src").cast("long"), col("dst").cast("long")).as("u"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  def maximalMatching(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    var e = canonical(edges).cutLineage()
    val maxId = e.agg(max(col("v"))).head()
    require(maxId.isNullAt(0) || maxId.getLong(0) < KeyBase,
      s"maximalMatching: vertex ids must be < $KeyBase for the exact packed edge key")

    var matched = List.empty[DataFrame]
    var live = Lineage.rows(e)
    var r = 0
    while (live > 0 && r < maxRounds) {
      val keyed = e.withColumn("k", col("u") * KeyBase + col("v"))
        .withColumn("p", graft.Portable.prio31(col("k")))
      // two-stage per-vertex min (min priority, then min key among the
      // tied) — exactly replayable without struct comparisons
      val inc = keyed.select(explode(array(col("u"), col("v"))).as("x"),
        col("p"), col("k"))
      val mp = inc.groupBy("x").agg(min("p").as("mp"))
      val mins = inc.join(mp, "x").where(col("p") === col("mp"))
        .groupBy("x").agg(min("k").as("mk"))
        .cutLineage()
      val m = keyed
        .join(mins.toDF("u", "mku"), "u")
        .join(mins.toDF("v", "mkv"), "v")
        .where(col("k") === col("mku") && col("k") === col("mkv"))
        .select("u", "v")
        .cutLineage()
      matched ::= m
      val mv = m.select(col("u").as("x")).union(m.select(col("v")))
      e = e.join(mv.toDF("u"), Seq("u"), "left_anti")
        .join(mv.toDF("v"), Seq("v"), "left_anti")
        .select("u", "v")
        .cutLineage()
      live = Lineage.rows(e)
      r += 1
    }
    require(live == 0,
      s"maximalMatching: $live edges still live after $maxRounds rounds " +
        "(pathological decreasing chain) — raise maxRounds; a truncated " +
        "matching would not be maximal")
    matched.reduceOption(_ unionByName _)
      .getOrElse(e.select(col("u"), col("v")).limit(0))
  }

  /** Contract a matching into supervertices — one multilevel-coarsening
    * step: each matched pair collapses onto its smaller endpoint,
    * unmatched vertices keep their id; parallel edges aggregate into
    * integer weights and self-loops (the matched edges themselves)
    * drop. Output: (cu BIGINT, cv BIGINT, weight BIGINT) with cu < cv —
    * feed it back to [[maximalMatching]] for the next level. If `edges`
    * already carries a `weight` column (e.g. the output of a previous
    * coarsening level), those weights are SUMMED into the coarse edge
    * rather than recounted, so multiplicities survive repeated
    * coarsening; weightless inputs count parallel edges as weight 1
    * each. Every weighted input row contributes its weight — duplicate
    * rows are parallel edges and sum like any others.
    *
    * Plan shape: two broadcast-sized left joins against the matching
    * (|matching| ≤ |V|/2 and dimension-like) + one keyed agg.
    */
  def coarsen(edges: DataFrame, matching: DataFrame): DataFrame = {
    // accept either the raw (src,dst,…) naming or this method's own
    // (cu,cv,weight) output so levels chain without a rename
    val (sc, dc) =
      if (edges.columns.contains("src")) ("src", "dst") else ("cu", "cv")
    val hasWeight = edges.columns.contains("weight")
    val e =
      if (hasWeight)
        // no distinct here: duplicate weighted rows are parallel edges
        // and must SUM through the final aggregation (a distinct would
        // collapse equal-weight duplicates but keep unequal ones —
        // multiplicity preserved or dropped by accident of the values)
        edges.select(
            least(col(sc).cast("long"), col(dc).cast("long")).as("u"),
            greatest(col(sc).cast("long"), col(dc).cast("long")).as("v"),
            col("weight").cast("long").as("w"))
          .where(col("u") =!= col("v"))
      else
        edges.select(
            least(col(sc).cast("long"), col(dc).cast("long")).as("u"),
            greatest(col(sc).cast("long"), col(dc).cast("long")).as("v"))
          .where(col("u") =!= col("v"))
          .distinct()
          .withColumn("w", lit(1L))
    val lbl = matching.select(col("v").as("x"), col("u").as("l"))
    e.join(lbl.toDF("u", "lu"), Seq("u"), "left")
      .join(lbl.toDF("v", "lv"), Seq("v"), "left")
      .select(coalesce(col("lu"), col("u")).as("a"),
        coalesce(col("lv"), col("v")).as("b"), col("w"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("cu"),
        greatest(col("a"), col("b")).as("cv"), col("w"))
      .groupBy("cu", "cv").agg(sum(col("w")).as("weight"))
  }
}
