package graft.operators

import graft.Lineage
import graft.Lineage.CutOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** HyperBall — per-vertex ball-cardinality estimates |B(v, t)| for
  * t = 1..k via mergeable HyperLogLog registers (public: Boldi & Vigna
  * 2013, "In-Core Computation of Geometric Centralities with
  * HyperBall"; Palmer et al. 2002's ANF is the flowering ancestor).
  * THE standard way to get distance distributions / effective diameter
  * / closeness on graphs far too large for all-pairs BFS: state is
  * O(|V| · m) register bytes, and one round is one edge join + an
  * element-wise register max — never a frontier explosion.
  *
  * Register discipline (exact-integer, engine-portable — the q191
  * multiplicative-hash family, so DuckDB replays it bit-for-bit):
  *   h(v)   = ((v mod 2³¹) · 2654435761) mod 2³¹      (31 usable bits)
  *   bucket = h mod 16                                 (m = 16)
  *   y      = h div 16                                 (27-bit field)
  *   ρ(y)   = 28 − bitlen(y), with ρ(0) = 28           (leading-zero rank)
  * Round t: R_t(v)[j] = max(R_{t−1}(v)[j], max over neighbors u of
  * R_{t−1}(u)[j]) — register max is associative/commutative/idempotent,
  * so the union of two balls is the element-wise max of their sketches
  * (the property the whole algorithm rests on).
  *
  * The emitted estimate is the RAW HLL estimator in exact integer
  * arithmetic: est = round(α₁₆·m²·2²⁸) div Σ_j 2^(28−R[j]) — floor
  * division of two exact integers, so both engines produce the SAME
  * number (this is a deterministic statistic of the register state; no
  * small-range/bias correction is applied, and none is needed for the
  * parity check). Registers live as 16 separate INT columns r0..r15 —
  * 16 plain `max` aggregates per round, whole-stage codegen, no
  * explode/collect of arrays.
  *
  * 100 TB shape: per round ONE join of the (static, pre-checkpointed)
  * symmetric edge list against the |V|-row register table keyed on
  * vertex id, then ONE vertex-keyed aggregation with map-side partial
  * max — the same shuffle profile as one degree computation, k times.
  * Nothing iterates per-distance-pair; nothing concentrates on the
  * driver.
  *
  * Output: (id, t, est) for every vertex and t = 1..k, est ≈ |B(v,t)|
  * including v itself.
  *
  * Variants: [[ballSizes]] emits `(id, t, est)` and [[registerRounds]]
  * the register tables R_0..R_k themselves. Both run over the same
  * undirected view ([[Traversals.symmetrize]]) and the same rounds:
  * one distributed round definition, and one one-task register kernel
  * with an emitter per output.
  */
object HyperBall {

  private val M = 16
  // the alpha_16 HLL constant pre-scaled onto the 2^28 register-term
  // grid, PINNED AS-IS: the oracle SQL and every spec carry this exact
  // literal, which is what the parity rests on. It is NOT re-derivable
  // as round(0.673 * 16^2 * 2^28) — that gives 46248207843, ~0.003%
  // off; do not "fix" one side without changing oracle + specs in the
  // same commit (ADVICE r10)
  private val AlphaScaled = 46246722929L

  private def regCols: Seq[String] = (0 until M).map(i => s"r$i")

  /** The 16 register columns contributed by ONE vertex id `v` — the
    * single-element sketch (bucket gets rho, the rest 0). Shared with
    * the streaming register-maintenance parity harness, which must be
    * bit-compatible with the batch rounds.
    */
  private[graft] def regColsOf(v: Column): Seq[Column] = {
    val h = pmod(pmod(v.cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(2147483648L))
    val b = (h % M).cast("int")
    val y = shiftright(h, 4) // = h div 16 for the nonnegative 31-bit h
    val rho = when(y === 0, lit(28))
      .otherwise(lit(28) - length(bin(y))).cast("int")
    (0 until M).map(j => when(b === j, rho).otherwise(lit(0)).cast("int").as(s"r$j"))
  }

  /** The exact-integer raw HLL estimator over register columns r0..r15
    * (floor division — both engines agree). */
  private[graft] def estimator: Column = {
    val denom = regCols.map(c => s"shiftleft(CAST(1 AS BIGINT), 28 - $c)")
      .mkString(" + ")
    expr(s"CAST($AlphaScaled AS BIGINT) div ($denom)")
  }

  /** Per-vertex ball-size estimates for radii 1..k over the undirected
    * graph of `edges` (src, dst). `includeZero` additionally emits the
    * t = 0 row (the estimator over the single-element initial sketch) —
    * the base the centrality differences ([[harmonicCentrality]]) sit
    * on. Estimates are monotone nondecreasing in t: registers only
    * grow, so the denominator Σ2^(28−R) only shrinks, and the floor
    * quotient only rises.
    */
  def ballSizes(edges: DataFrame, k: Int = 3,
                includeZero: Boolean = false): DataFrame = {
    require(k >= 1 && k <= 16, s"hyperball k=$k out of the sane 1..16 range")
    val sym = Traversals.symmetrize(edges).cutLineage()
    // also puts [[ballSizesMaintain]]'s affected-slice recomputes on
    // the one-task leg
    if (LocalGraph.oneTask("ballSizes", sym))
      return ballEstimatesLocal(sym, k, includeZero)
    // ONE definition of the rounds ([[registerRounds]] — the shared
    // register contract with the q227 streaming parity, the q228
    // overlap sketch, and the insert-delta growth), estimates read off
    // each round's table
    val rounds = registerRoundsFromSym(sym, k)
    val estCol: Column = estimator
    val zero =
      if (includeZero)
        Seq(rounds.head.select(col("id"), lit(0L).as("t"), estCol.as("est")))
      else Seq.empty
    val perRadius = (1 to k).map(t =>
      rounds(t).select(col("id"), lit(t.toLong).as("t"), estCol.as("est")))
    (zero ++ perRadius).reduce(_ unionByName _)
  }

  /** The one one-task register kernel behind [[ballSizes]],
    * [[registerRounds]] and [[ballSizesGrowFrom]]: registers as 16
    * bytes per vertex (ρ ≤ 28), initialised as the JVM twin of
    * [[regColsOf]], and each round an element-wise max fold over the
    * arc list against the frozen previous state — the exact synchronous
    * round map of [[registerRounds]]. `emit(id, t, state, i)` turns
    * vertex slot `i` of the registers after round t into a row, for
    * t = 0..k (1..k unless `withZero`), round-major.
    */
  private def registersLocal[T: Encoder](sym: DataFrame, k: Int, withZero: Boolean)(
      emit: (Long, Int, Array[Byte], Int) => T): Dataset[T] = {
    val spark = sym.sparkSession
    import spark.implicits._
    sym.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val arcs = it.toArray
        val idx = new scala.collection.mutable.LongMap[Int]()
        arcs.foreach { case (u, v) =>
          if (!idx.contains(u)) idx(u) = idx.size
          if (!idx.contains(v)) idx(v) = idx.size
        }
        val n = idx.size
        val ids = new Array[Long](n)
        idx.foreach { case (id, i) => ids(i) = id }
        val arcIdx = arcs.map { case (u, v) => (idx(u), idx(v)) }
        var cur = new Array[Byte](n * M)
        var i = 0
        while (i < n) {
          val v = ids(i)
          val h = Math.floorMod(Math.floorMod(v, 2147483648L) * 2654435761L,
            2147483648L)
          val b = (h % M).toInt
          val y = h >> 4
          val rho =
            if (y == 0L) 28
            else 28 - (64 - java.lang.Long.numberOfLeadingZeros(y))
          cur(i * M + b) = rho.toByte
          i += 1
        }
        val out = new scala.collection.mutable.ArrayBuffer[T](n * (k + 1))
        def emitRound(t: Int): Unit = {
          var vi = 0
          while (vi < n) { out += emit(ids(vi), t, cur, vi); vi += 1 }
        }
        if (withZero) emitRound(0)
        for (t <- 1 to k) {
          val next = cur.clone()
          arcIdx.foreach { case (ui, vi) =>
            var j = 0
            while (j < M) {
              val c = cur(vi * M + j)
              if (c > next(ui * M + j)) next(ui * M + j) = c
              j += 1
            }
          }
          cur = next
          emitRound(t)
        }
        out.iterator
      }
  }

  /** [[registersLocal]] emitting `(id, t, est)`: the one-task leg of
    * [[ballSizes]], t = 0 only with `includeZero`. */
  private def ballEstimatesLocal(sym: DataFrame, k: Int, includeZero: Boolean): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    registersLocal(sym, k, includeZero) { (id, t, state, vi) =>
      var denom = 0L
      var j = 0
      while (j < M) {
        denom += 1L << (28 - state(vi * M + j))
        j += 1
      }
      (id, t.toLong, AlphaScaled / denom)
    }.toDF("id", "t", "est")
  }

  /** The per-round register tables R_0..R_k of [[ballSizes]] —
    * `(id, r0..r15)` each — exposed as the STORED STATE of the
    * insert-delta growth ([[ballSizesGrowFrom]]): a deployment that
    * persists these k+1 tables nightly (the q234 streaming legs
    * already persist R_1 this way) can absorb an insert batch with
    * work ∝ changed registers instead of re-running k full-|E| joins.
    */
  def registerRounds(edges: DataFrame, k: Int): Seq[DataFrame] = {
    require(k >= 1 && k <= 16, s"hyperball k=$k out of the sane 1..16 range")
    val sym = Traversals.symmetrize(edges).cutLineage()
    // one-task leg: all k+1 round tables from ONE task + ONE checkpoint
    // (each returned table is a filter on the round column)
    if (LocalGraph.oneTask("registerRounds", sym)) return registerRoundsLocal(sym, k)
    registerRoundsFromSym(sym, k)
  }

  private def registerRoundsLocal(sym: DataFrame, k: Int): Seq[DataFrame] = {
    val spark = sym.sparkSession
    import spark.implicits._
    val all = registersLocal(sym, k, withZero = true) { (id, t, state, vi) =>
      (id, t, (0 until M).map(j => state(vi * M + j).toInt))
    }.toDF("id", "t", "regs").cutLineage()
    (0 to k).map(t =>
      all.where(col("t") === t)
        .select(col("id") +:
          (0 until M).map(j => col("regs")(j).cast("int").as(s"r$j")): _*))
  }

  private def registerRoundsFromSym(sym: DataFrame, k: Int): Seq[DataFrame] = {
    val r0 = sym.select(col("u").as("id")).distinct()
      .select(col("id") +: regColsOf(col("id")): _*)
      .cutLineage()
    (1 to k).scanLeft(r0) { (state, _) =>
      val pulled = sym.join(state, sym("v") === state("id"))
        .select(col("u").as("id") +: regCols.map(col): _*)
      state.unionByName(pulled)
        .groupBy("id")
        .agg(max(col("r0")).as("r0"),
          regCols.tail.map(c => max(col(c)).as(c)): _*)
        .cutLineage()
    }
  }

  /** INSERT-DELTA REGISTER GROWTH — the systolic refinement of Boldi &
    * Vigna 2013 §4 ("systolic computation": propagate only registers
    * that CHANGED) applied to edge inserts, for the regime where the
    * component carve-out ([[ballSizesMaintain]]) degenerates: one
    * giant component, small insert batch. Registers are MONOTONE under
    * inserts (balls only grow), so the grown fixpoint is reachable by
    * delta propagation from the stored per-round state:
    *
    *   R'_0 = R_0 ∪ {singleton sketches of genuinely new vertices}
    *   R'_t(v) = max( R_t(v),                    — stored, pass-through
    *                  R'_{t-1}(v)   if v changed at t−1,
    *                  R'_{t-1}(u)   over net edges (v,u) with u changed
    *                                at t−1,
    *                  R'_{t-1}(u)   over NEW edges (v,u) )
    *
    * Every other term of the cold round is ≤ R_t(v) (an unchanged
    * old neighbor's state is its old state, already folded into
    * R_t(v)), so the recursion reproduces the cold net-graph rounds
    * BIT-FOR-BIT, and a register can only differ from the stored
    * table where a contribution reached it — changed sets are exact,
    * never conservative. Per round the joins touch only edges
    * incident to the changed set plus the inserts; the changed
    * wavefront damps fast in practice (a single new hash rarely
    * raises any of 16 max-registers already fed by a whole
    * neighborhood) — tier2hbgrow measures it.
    *
    * `oldRounds` = [[registerRounds]] of `oldEdges` with the same k
    * (R_0..R_k — the stored nightly state; certification computes it
    * in-query). Inserts already present in the old edge set are
    * dropped (net no-ops). Output: the same (id, t, est) rows as a
    * cold `ballSizes(old ∪ inserts, k)`. `trace` records the changed
    * count after each round (adds one driver action per round).
    */
  def ballSizesGrowFrom(oldRounds: Seq[DataFrame], oldEdges: DataFrame,
                        inserts: DataFrame, k: Int = 3,
                        includeZero: Boolean = false,
                        trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    require(oldRounds.length == k + 1,
      s"expected ${k + 1} stored register rounds (R_0..R_$k), got ${oldRounds.length}")
    val symOld = Traversals.symmetrize(oldEdges).cutLineage()
    val symIns = Traversals.symmetrize(inserts).cutLineage()
      .join(symOld, Seq("u", "v"), "left_anti").cutLineage()
    val symNet = symOld.unionByName(symIns)
    // the growth recursion is bit-equal to the cold rounds over the
    // grown graph (maintained ≡ fresh), so the one-task leg replays the
    // cold rounds; `trace` callers (wavefront probes) take the rounds
    if (LocalGraph.oneTask("ballSizesGrowFrom", symNet,
        cap = if (trace.isEmpty) Long.MaxValue else 0L))
      return ballEstimatesLocal(symNet, k, includeZero)
    val estCol: Column = estimator
    val newVerts = symIns.select(col("u").as("id")).distinct()
      .join(oldRounds.head, Seq("id"), "left_anti").cutLineage()
    var cur = oldRounds.head
      .unionByName(newVerts.select(col("id") +: regColsOf(col("id")): _*))
      .cutLineage()
    var changed = newVerts.select("id")
    val zero =
      if (includeZero) Seq(cur.select(col("id"), lit(0L).as("t"), estCol.as("est")))
      else Seq.empty
    val perRadius = (1 to k).map { t =>
      val oldT = oldRounds(t)
      // contributions: changed states over any net edge + any state
      // over a new edge — everything else is already inside R_t
      val contribEdges = symNet
        .join(changed.toDF("v"), Seq("v"), "left_semi")
        .unionByName(symIns).distinct()
      val pulled = contribEdges.join(cur, contribEdges("v") === cur("id"))
        .select(col("u").as("id") +: regCols.map(col): _*)
      val cand = pulled
        .unionByName(cur.join(changed, Seq("id"), "left_semi"))
        .groupBy("id")
        .agg(max(col("r0")).as("r0"),
          regCols.tail.map(c => max(col(c)).as(c)): _*)
      // fold the stored round in, then keep only rows that actually
      // moved past it (or are new to it)
      val merged = cand.unionByName(
          oldT.join(cand.select("id"), Seq("id"), "left_semi"))
        .groupBy("id")
        .agg(max(col("r0")).as("r0"),
          regCols.tail.map(c => max(col(c)).as(c)): _*)
      val o = oldT.select(col("id") +:
        regCols.map(c => col(c).as(s"o_$c")): _*)
      val moved = regCols.map(c =>
        col(c) =!= coalesce(col(s"o_$c"), lit(-1))).reduce(_ || _)
      val changedRows = merged.join(o, Seq("id"), "left")
        .where(moved)
        .select(col("id") +: regCols.map(col): _*)
        .cutLineage()
      changed = changedRows.select("id")
      trace.foreach(_ += Lineage.rows(changedRows))
      cur = oldT.join(changed, Seq("id"), "left_anti")
        .unionByName(changedRows)
        .cutLineage()
      cur.select(col("id"), lit(t.toLong).as("t"), estCol.as("est"))
    }
    (zero ++ perRadius).reduce(_ unionByName _)
  }

  /** CDC-MAINTAINED ball sizes — the maintenance-matrix leg for the
    * neighborhood-function family (the q232/q237/q242 carve-out
    * discipline applied to HyperBall): `oldBalls` is a stored
    * [[ballSizes]] output computed on `oldEdges` with the SAME `k` and
    * `includeZero`, and the result is BIT-EQUAL to a cold
    * `ballSizes(net, k)` over net = (old ∪ inserts) ∖ deletes under
    * tombstone-wins precedence.
    *
    * Soundness: B(v, t) never crosses a connected component, and the
    * register state is a deterministic pure function of the ball's
    * member ids (hash → bucket/rank → element-wise max — no
    * randomness, no tie-breaks). A supergraph (old ∪ inserts)
    * component containing no delta endpoint has an identical induced
    * net edge set, hence identical balls, hence identical registers
    * and identical (id, t, est) rows — they pass through VERBATIM.
    * Affected components re-run the k register rounds over their
    * induced net edges only (component-closed in the net graph: net
    * components refine supergraph components, so one endpoint
    * membership test classifies an edge). A vertex stripped of all
    * its edges by the deletes drops out exactly as a cold run drops
    * it; a vertex introduced by the inserts is in an affected
    * component by definition.
    *
    * 100 TB shape: maintenance work is the carve joins plus k rounds
    * over the AFFECTED slice's edges — ∝ affected |E|, not |E|. The
    * all-affected regime (one giant component touched by every delta)
    * degenerates to the recompute and is the honest certification
    * case; the win lives where components are many and deltas sparse
    * (the tier2coremaint block-graph regime).
    *
    * `labels`: the stored supergraph `(id, component)` decomposition
    * when the deployment keeps one (production path); computed fresh
    * when absent. `trace` records the affected-vertex count.
    */
  def ballSizesMaintain(oldBalls: DataFrame, oldEdges: DataFrame,
                        inserts: DataFrame, deletes: DataFrame,
                        k: Int = 3, includeZero: Boolean = false,
                        labels: Option[DataFrame] = None,
                        trace: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val (netC, affVerts) =
      Maintenance.carve(oldEdges, inserts, deletes, labels, trace)
    // unaffected components: identical induced edges ⇒ identical
    // registers ⇒ identical rows — one anti-join on the vertex id
    val passThrough = oldBalls.join(
      affVerts.toDF("id"), Seq("id"), "left_anti")
    // affected induced net subgraph is component-closed: one endpoint
    // test suffices
    val sub = netC.join(affVerts.toDF("u"), Seq("u"), "left_semi")
    val recomputed = ballSizes(
      sub.select(col("u").as("src"), col("v").as("dst")), k, includeZero)
    passThrough.unionByName(recomputed)
  }

  /** Approximate harmonic centrality — the application HyperBall exists
    * for (Boldi & Vigna 2013 compute exactly this on billion-edge
    * graphs): HC(v) ≈ Σ_{t=1..k} (|B(v,t)| − |B(v,t−1)|) / t, i.e. the
    * vertices first reached at distance t contribute 1/t each,
    * estimated from the ball-size differences (truncated at radius k —
    * a documented lower bound; q128's exact harmonic closeness is the
    * small-graph reference). Differences are nonnegative by the
    * monotonicity argument on [[ballSizes]]. Emitted in exact integer
    * micro-units — ((estₜ − estₜ₋₁)·10⁶) div t summed — so the DuckDB
    * oracle reproduces every row bit-for-bit.
    *
    * Output: (id, hc_micro).
    */
  def harmonicCentrality(edges: DataFrame, k: Int = 3): DataFrame =
    harmonicCentralityFrom(ballSizes(edges, k, includeZero = true))

  /** The harmonic-centrality difference/sum factored over an ALREADY
    * COMPUTED [[ballSizes]] output (includeZero = true) — the
    * [[distanceDistributionFrom]] discipline: a MAINTAINED register
    * state feeds the centrality without re-running any round, and
    * since maintained balls are bit-equal to a cold net-graph run, so
    * is every hc_micro row.
    */
  def harmonicCentralityFrom(balls: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("t")
    balls.withColumn("prev", lag(col("est"), 1).over(w))
      .where(col("t") >= 1)
      .select(col("id"),
        expr("(est - prev) * 1000000 div t").as("term"))
      .groupBy("id").agg(sum(col("term")).as("hc_micro"))
  }

  /** Distance distribution + effective diameter — the ONE-ROW corpus
    * deliverables Boldi & Vigna run HyperBall for (median distance,
    * effective diameter at 0.9, mean distance), computed from the
    * ball-size sums in exact integer arithmetic both engines replay.
    * S_t = Σ_v |B(v,t)| estimates the number of ordered pairs within
    * distance t (self-pairs included, so S_0 ≈ |V|); then over the
    * radius-k horizon:
    *   - reach_est       = S_k − S_0 (pairs at distance 1..k)
    *   - avg_dist_micro  = 10⁶ · Σ t·(S_t − S_{t−1}) / reach, via the
    *                       Abel form k·S_k − Σ_{t<k} S_t
    *   - median_dist     = min t with 2·(S_t − S_0) ≥ reach
    *   - eff_diam90_micro = Boldi–Vigna linear interpolation at α=0.9:
    *     for the smallest t with 10·(S_t − S_0) ≥ 9·reach,
    *     (t−1)·10⁶ + 10⁶·(9·reach − 10·(S_{t−1}−S_0)) / (10·(S_t−S_{t−1}))
    * all divisions floor over nonnegative integers (Spark `div` ≡
    * DuckDB `//`), products in DECIMAL(38,0) — S_t reaches ~10¹⁸ on a
    * 10⁹-vertex graph, where the ·10⁶ micro products overflow BIGINT.
    * Truncation at radius k is the documented horizon: distances
    * beyond k are invisible (reach and every statistic are "within
    * k"), the standard HyperBall stopping trade-off.
    *
    * Output: one row (k, s0, sk, reach_est, avg_dist_micro,
    * median_dist, eff_diam90_micro); all-zero metrics on an edgeless
    * input.
    */
  def distanceDistribution(edges: DataFrame, k: Int = 3): DataFrame =
    distanceDistributionFrom(ballSizes(edges, k, includeZero = true), k)

  /** The distance-distribution aggregation factored over an ALREADY
    * COMPUTED [[ballSizes]] output (same `k`, includeZero = true) — so
    * a MAINTAINED register state ([[ballSizesMaintain]]) feeds the
    * one-row corpus deliverable without re-running any round: the
    * statistics are a pure aggregation of the per-vertex ball rows,
    * and pass-through + recomputed rows sum exactly as a cold run's
    * rows do.
    */
  def distanceDistributionFrom(balls: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 16, s"hyperball k=$k out of the sane 1..16 range")
    val sums = balls
      .groupBy("t").agg(sum(col("est")).as("s"))
    val row = sums.agg(
      coalesce(max(when(col("t") === 0, col("s"))), lit(0L)).as("s0"),
      (1 to k).map(t =>
        coalesce(max(when(col("t") === t, col("s"))), lit(0L)).as(s"s$t")): _*)
    // every product and comparison in DECIMAL(38,0) (the d$t copies)
    // with floor via the `div` operator — the Bm25 discipline: Spark
    // `div` ≡ DuckDB `//` on nonnegative operands, while a decimal
    // cast would ROUND and silently break parity
    val staged = row.select(
      (0 to k).map(t => col(s"s$t")) ++
        (0 to k).map(t => col(s"s$t").cast("decimal(38,0)").as(s"d$t")): _*)
    val rch = s"(d$k - d0)"
    val avgNum = s"(($k * d$k ${(0 until k).map(t => s"- d$t").mkString(" ")}) * 1000000)"
    val avgSql =
      s"CASE WHEN $rch = 0 THEN CAST(0 AS BIGINT) " +
        s"ELSE CAST($avgNum div $rch AS BIGINT) END"
    val medSql = s"CASE WHEN $rch = 0 THEN CAST(0 AS BIGINT) " +
      (1 until k).map(t =>
        s"WHEN (d$t - d0) * 2 >= $rch THEN CAST($t AS BIGINT) ").mkString +
      s"ELSE CAST($k AS BIGINT) END"
    def effBranch(t: Int): String =
      s"CAST(${(t - 1).toLong * 1000000L} + " +
        s"(($rch * 9 - (d${t - 1} - d0) * 10) * 1000000) div " +
        s"((d$t - d${t - 1}) * 10) AS BIGINT)"
    val effSql = s"CASE WHEN $rch = 0 THEN CAST(0 AS BIGINT) " +
      (1 until k).map(t =>
        s"WHEN (d$t - d0) * 10 >= $rch * 9 THEN ${effBranch(t)} ").mkString +
      s"ELSE ${effBranch(k)} END"
    staged.select(lit(k.toLong).as("k"), col("s0"), col(s"s$k").as("sk"),
      (col(s"s$k") - col("s0")).as("reach_est"),
      expr(avgSql).as("avg_dist_micro"),
      expr(medSql).as("median_dist"),
      expr(effSql).as("eff_diam90_micro"))
  }
}
