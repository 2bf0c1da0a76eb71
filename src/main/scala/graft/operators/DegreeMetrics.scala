package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degree-structure metrics over the undirected view of `(src, dst)`
  * edges. Beyond-reference analytics (the reference's degree surface
  * stops at the running degree streams, GS/SimpleEdgeStream.java:~170).
  *
  * Determinism discipline: every aggregate is an exact integer sum
  * (degrees are integers), so the distributed aggregation order cannot
  * perturb the result; the one floating-point division happens once on
  * the final scalars — any engine computing the same formula from the
  * same integer sums produces the identical double.
  */
object DegreeMetrics {

  /** Newman degree assortativity of the undirected graph — the Pearson
    * correlation of endpoint degrees over directed edge occurrences:
    * `r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²)` with j = deg(u),
    * k = deg(v) over the M = 2|E| symmetrized edges (Σj = Σk by
    * symmetry). One row `(m, s_jk, s_j, s_j2, assortativity)` — the
    * integer moments ride along so a verifier can re-derive r.
    *
    * Plan: degree agg (one shuffle) + two joins of the edge list
    * against the degree table (broadcast when it fits) + one global
    * integer agg. Nothing driver-side.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val sym = Traversals.symmetrize(edges).cutLineage()
    val deg = sym.groupBy(col("u").as("id")).agg(count("*").as("d"))
    val moments = sym
      .join(deg.toDF("u", "j"), Seq("u"))
      .join(deg.toDF("v", "k"), Seq("v"))
      .agg(count("*").as("m"),
        sum(col("j") * col("k")).as("s_jk"),
        sum(col("j")).as("s_j"),
        sum(col("j") * col("j")).as("s_j2"))
    finish(moments)
  }

  /** The one-row readout shared by [[assortativity]] and
    * [[assortativityMaintain]]: identical integer moments in ⇒
    * identical double out.
    */
  private def finish(moments: DataFrame): DataFrame =
    moments.select(col("m"), col("s_jk"), col("s_j"), col("s_j2"),
      round((col("m") * col("s_jk") - col("s_j") * col("s_j")).cast("double") /
        (col("m") * col("s_j2") - col("s_j") * col("s_j")).cast("double"), 6)
        .as("assortativity"))

  /** The undirected degree table `(id, d)` of [[assortativity]]'s sym
    * view — exposed as the stored state the algebraic maintenance
    * consumes. */
  def undirectedDegrees(edges: DataFrame): DataFrame =
    Traversals.symmetrize(edges).groupBy(col("u").as("id"))
      .agg(count("*").as("d"))

  /** ALGEBRAICALLY MAINTAINED assortativity — a third maintenance
    * pattern next to the carve-out (q232-family) and the systolic
    * growth (q263): the statistic is a closed-form function of four
    * exact-integer SUMS over symmetrized edge occurrences, and a
    * delta perturbs only the terms whose endpoint degrees changed. So
    * with the stored degree table and moments row:
    *
    *   touched  = endpoints of edges actually added or removed
    *              (tombstone-wins net resolution; re-inserting a
    *              present edge or deleting an absent one is a no-op)
    *   deg_net  = deg_old patched on touched only
    *   s_net    = s_old − Σ terms(old occurrences incident to touched,
    *                              deg_old)
    *                    + Σ terms(net occurrences incident to touched,
    *                              deg_net)
    *
    * Every occurrence not incident to a touched vertex keeps both its
    * degrees, so its term cancels exactly; the sums are integers, so
    * the subtraction is exact and the final double division of
    * identical moments is bit-equal to a cold [[assortativity]] over
    * the net graph. Work ∝ Σ degree over the delta endpoints — no
    * carve-out, no component discipline, no full edge scan.
    *
    * `oldDegrees` = [[undirectedDegrees]] of `oldEdges`; `oldMoments`
    * = the stored [[assortativity]] row (its integer columns are
    * read; the double rides along). An edgeless net graph reproduces
    * the cold aggregate's null-sum row shape. `trace` records the
    * touched-vertex count.
    */
  def assortativityMaintain(oldDegrees: DataFrame, oldMoments: DataFrame,
                            oldEdges: DataFrame, inserts: DataFrame,
                            deletes: DataFrame,
                            trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val oldP = Maintenance.canonPairs(oldEdges).cutLineage()
    val netP = oldP.unionByName(Maintenance.canonPairs(inserts)).distinct()
      .join(Maintenance.canonPairs(deletes), Seq("u", "v"), "left_anti")
      .cutLineage()
    val added = netP.join(oldP, Seq("u", "v"), "left_anti").cutLineage()
    val removed = oldP.join(netP, Seq("u", "v"), "left_anti").cutLineage()
    def ends(p: DataFrame) =
      p.select(col("u").as("id")).unionByName(p.select(col("v").as("id")))
    val touched = ends(added).unionByName(ends(removed)).distinct()
      .cutLineage()
    trace.foreach(_ += Lineage.rows(touched))
    // net degrees on the touched set only; everyone else passes through
    val dAdj = ends(added).groupBy("id").agg(count(lit(1)).as("plus"))
      .join(ends(removed).groupBy("id").agg(count(lit(1)).as("minus")),
        Seq("id"), "full")
    val degPatch = touched
      .join(oldDegrees.toDF("id", "d0"), Seq("id"), "left")
      .join(dAdj, Seq("id"), "left")
      .select(col("id"), (coalesce(col("d0"), lit(0L))
        + coalesce(col("plus"), lit(0L))
        - coalesce(col("minus"), lit(0L))).as("d"))
    val degNet = oldDegrees.join(touched, Seq("id"), "left_anti")
      .unionByName(degPatch).cutLineage()
    def symm(p: DataFrame) =
      p.unionByName(p.select(col("v").as("u"), col("u").as("v")))
    def incident(symE: DataFrame) =
      symE.join(touched.toDF("u"), Seq("u"), "left_semi")
        .unionByName(symE.join(touched.toDF("v"), Seq("v"), "left_semi"))
        .distinct()
    def momentsOf(symE: DataFrame, deg: DataFrame) = symE
      .join(deg.toDF("u", "j"), Seq("u"))
      .join(deg.toDF("v", "k"), Seq("v"))
      .agg(count(lit(1)).as("m"),
        coalesce(sum(col("j") * col("k")), lit(0L)).as("s_jk"),
        coalesce(sum(col("j")), lit(0L)).as("s_j"),
        coalesce(sum(col("j") * col("j")), lit(0L)).as("s_j2"))
    val sub = momentsOf(incident(symm(oldP)), oldDegrees)
      .toDF("m_s", "jk_s", "j_s", "j2_s")
    val add = momentsOf(incident(symm(netP)), degNet)
      .toDF("m_a", "jk_a", "j_a", "j2_a")
    val mo = oldMoments
      .select(col("m").as("m_0"), coalesce(col("s_jk"), lit(0L)).as("jk_0"),
        coalesce(col("s_j"), lit(0L)).as("j_0"),
        coalesce(col("s_j2"), lit(0L)).as("j2_0"))
      .crossJoin(sub).crossJoin(add)
      .select((col("m_0") - col("m_s") + col("m_a")).as("m"),
        (col("jk_0") - col("jk_s") + col("jk_a")).as("s_jk"),
        (col("j_0") - col("j_s") + col("j_a")).as("s_j"),
        (col("j2_0") - col("j2_s") + col("j2_a")).as("s_j2"))
    // null-shape parity with the cold aggregate on an edgeless net
    val shaped = mo.select(col("m"),
      when(col("m") === 0, lit(null).cast("long")).otherwise(col("s_jk")).as("s_jk"),
      when(col("m") === 0, lit(null).cast("long")).otherwise(col("s_j")).as("s_j"),
      when(col("m") === 0, lit(null).cast("long")).otherwise(col("s_j2")).as("s_j2"))
    finish(shaped)
  }

  /** DIRECTED reciprocity — the fraction of arcs whose reverse arc also
    * exists (Garlaschelli & Loffredo 2004's raw r), the first-order
    * "is this network conversational or broadcast" statistic of
    * directed analytics. One row `(n_edges, n_reciprocal,
    * reciprocity_micro)`; exact integers, truncating micro-unit
    * division. Plan: one self-join of the arc table on the reversed
    * key (a single shuffle keyed on (src, dst)) + one global count —
    * each reciprocal arc counts itself once via its own reverse probe.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst")).distinct().cutLineage()
    val rec = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
    // arc-less input (e.g. loops only): reciprocity is undefined — a
    // NULL ratio row, not an ANSI divide-by-zero
    e.agg(count(lit(1)).as("n_edges")).crossJoin(rec)
      .select(col("n_edges"), col("n_reciprocal"),
        expr("CASE WHEN n_edges = 0 THEN NULL " +
          "ELSE n_reciprocal * 1000000 div n_edges END").as("reciprocity_micro"))
  }
}
