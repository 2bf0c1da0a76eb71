package graft

import graft.operators._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** r13 scale-adaptive A/B pins: every operator that gained a one-task
  * replay twin this round is run BOTH ways — the default bar (one-task
  * leg) against session bar 0 (`spark.graft.oneTaskBar`, the distributed
  * round path) — and the outputs must be bit-equal. The fixtures mix the
  * sf0.001 C10 co-purchase graph (multi-component, triangles, odd
  * cycles) with synthetic shapes that exercise the edge semantics
  * (multi-arcs, weights, self-gated passes). Also covers the r12 twins
  * the advice flagged as untested on the round path (SCC, BFS, SSSP,
  * landmarks). Each pair also reads the twin gate's decision log, so the
  * pins fail if the gate never picks the one-task leg; the last tests
  * pin the gate's probe, its read of a cut input's measured count and
  * its read of the session bar. Each operator also runs on the empty
  * edge frame (`pinEmpty`, or `sameNone` where it returns before the
  * gate).
  */
class LocalTwinsSpec extends SparkTestBase {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toVector.sortBy(_.mkString("|"))

  /** Collects the twin gate's decision lines (one per gate call). */
  private class GateLog extends AbstractAppender("twin-gate-spec", null, null, true,
      Property.EMPTY_ARRAY) {
    private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    def during[A](f: => A): (A, Seq[Decision]) = {
      lines.clear()
      val a = f
      (a, lines.asScala.toVector.collect {
        case GateLine(op, leg, bar) => Decision(op, leg, bar.toLong)
      })
    }
  }

  private val GateLine = """twin gate: (\S+) -> (\S+) \(rows [^,]+, bar (-?\d+)\)""".r
  private case class Decision(op: String, leg: String, bar: Long)

  // installed after the session exists: Spark's first log use may
  // reload the log4j configuration
  private lazy val gateLog = {
    spark
    val log = new GateLog
    log.start()
    Configurator.setLevel("graft.operators.LocalGraph", Level.INFO)
    LogManager.getLogger("graft.operators.LocalGraph").asInstanceOf[CoreLogger].addAppender(log)
    log
  }

  /** Runs `op` at the default bar and at bar 0 and reads the gate log:
    * every gate of the bar-0 call took its rounds at bar 0, and each
    * operator gated there took its one-task leg in the default call.
    * The exceptions are the `roundOnly` operators, which only a round
    * path calls (nested gates): the default call must not gate them.
    */
  private def legs[A](op: => A, what: String, roundOnly: Set[String] = Set.empty): (A, A) = {
    val (l, atDefault) = gateLog.during(op)
    val (r, atZero) = gateLog.during(atBarZero(op))
    assert(atZero.nonEmpty, s"$what: the bar-0 call logged no gate decision")
    assert(atZero.forall(_.bar == 0L), s"$what: a bar-0 gate read another bar: $atZero")
    assert(atZero.forall(_.leg == "rounds"), s"$what: bar 0 did not force the rounds")
    val gated = atZero.map(_.op).distinct
    assert(roundOnly.subsetOf(gated.toSet), s"$what: $roundOnly not all gated at bar 0: $gated")
    for (g <- gated) {
      val seen = atDefault.filter(_.op == g)
      if (roundOnly(g)) assert(seen.isEmpty, s"$what: round-only $g gated at the default bar")
      else assert(seen.nonEmpty && seen.forall(_.leg == "one-task"),
        s"$what: $g did not take its one-task leg at the default bar: $seen")
    }
    (l, r)
  }

  private def pinEqual(op: => DataFrame, what: String,
                       roundOnly: Set[String] = Set.empty): Unit = {
    val (l, r) = legs(op, what, roundOnly)
    sameRows(l, r, what)
  }

  private def sameRows(local: DataFrame, round: DataFrame, what: String): Unit = {
    def cols(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(cols(local) == cols(round), s"$what: schema")
    assert(rows(local) == rows(round), s"$what: one-task leg != round path")
  }

  /** [[pinEqual]] on the empty edge frame: both legs also give exactly
    * `want`, no rows unless the operator emits its sources.
    */
  private def pinEmpty(op: => DataFrame, what: String,
                       want: Seq[Seq[Any]] = Nil,
                       roundOnly: Set[String] = Set.empty): Unit = {
    val (l, r) = legs(op, s"$what on no edges", roundOnly)
    noRows(l, r, what, want)
  }

  /** The row check of [[pinEmpty]], for operators that return before the
    * gate on no edges (so neither call logs a decision).
    */
  private def sameNone(op: => DataFrame, what: String): Unit =
    noRows(op, atBarZero(op), what, Nil)

  private def noRows(local: DataFrame, round: DataFrame, what: String,
                     want: Seq[Seq[Any]]): Unit = {
    sameRows(local, round, s"$what on no edges")
    assert(rows(local) == want, s"$what on no edges")
  }

  /** The nested CC gate ([[ConnectedComponents.auto]]) of round paths
    * whose one-task leg labels components itself. */
  private val ccGate = Set("connectedComponents")

  private lazy val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
  /** The empty edge frame: c10's schema, no rows. */
  private lazy val none = c10.limit(0)

  test("labelPropagation: one-task replay == round path") {
    pinEqual(Communities.labelPropagation(c10, 3), "labelPropagation")
    pinEmpty(Communities.labelPropagation(none, 3), "labelPropagation")
  }

  test("modularityRefine: one-task replay == round path") {
    val lpa = Communities.labelPropagation(c10, 3)
    pinEqual(Communities.modularityRefine(c10, lpa), "modularityRefine")
    val noLabels = Communities.labelPropagation(none, 3)
    pinEmpty(Communities.modularityRefine(none, noLabels), "modularityRefine")
  }

  test("louvain / louvainLeiden: one-task replay == round path") {
    pinEqual(Communities.louvain(c10, 2, 2), "louvain")
    // the round path's connectivity refinement labels components with
    // ConnectedComponents.auto, which the one-task leg never calls
    pinEqual(Communities.louvainLeiden(c10, 2, 2), "louvainLeiden", roundOnly = ccGate)
    pinEmpty(Communities.louvain(none, 2, 2), "louvain")
    pinEmpty(Communities.louvainLeiden(none, 2, 2), "louvainLeiden", roundOnly = ccGate)
  }

  test("louvainWeighted: one-task replay == round path (incl. parallel-edge weights)") {
    import spark.implicits._
    val weighted = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 4L, 7L),
      (4L, 5L, 7L), (5L, 3L, 7L), (6L, 7L, 1L), (1L, 2L, 3L))
      .toDF("src", "dst", "weight")
    pinEqual(Communities.louvainWeighted(weighted, 2, 2), "louvainWeighted")
    pinEmpty(Communities.louvainWeighted(weighted.limit(0), 2, 2), "louvainWeighted")
  }

  test("louvainByComponent + louvainMaintain: one-task replay == round path") {
    // as in louvainLeiden, only the round path labels components
    pinEqual(Communities.louvainByComponent(c10, 2, 2), "louvainByComponent",
      roundOnly = ccGate)
    pinEmpty(Communities.louvainByComponent(none, 2, 2), "louvainByComponent",
      roundOnly = ccGate)
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 21L)).toDF("src", "dst")
    val inserts = Seq((3L, 4L), (4L, 1L)).toDF("src", "dst")
    val deletes = Seq((20L, 21L)).toDF("src", "dst")
    val oldLabels = Communities.louvainByComponent(base, 2, 2)
      .toDF("id", "community")
    pinEqual(Communities.louvainMaintain(oldLabels, base, inserts, deletes), "louvainMaintain")
    val noLabels = Communities.louvainByComponent(none, 2, 2).toDF("id", "community")
    pinEmpty(Communities.louvainMaintain(noLabels, none, none, none), "louvainMaintain")
  }

  test("pagerank family: one-task replay == round path") {
    val sym = c10.unionByName(c10.select(col("dst").as("src"), col("src").as("dst")))
    pinEqual(PageRank.fixedPoint(sym, 10), "pagerank.fixedPoint")
    pinEmpty(PageRank.fixedPoint(none, 10), "pagerank.fixedPoint")
    val prev = PageRank.fixedPoint(sym, 3)
    pinEqual(PageRank.fixedPointFrom(c10, prev, 4), "pagerank.fixedPointFrom")
    val noRanks = PageRank.fixedPoint(none, 3)
    pinEmpty(PageRank.fixedPointFrom(none, noRanks, 4), "pagerank.fixedPointFrom")
    val src = c10.agg(min(col("src"))).head().getLong(0)
    pinEqual(PageRank.personalized(sym, Seq(src), 10), "pagerank.personalized")
    pinEmpty(PageRank.personalized(none, Seq(src), 10), "pagerank.personalized")
    import spark.implicits._
    // multi-arc + zero-weight group: totw=0 vertices drop from the
    // propagation but stay in the vertex table
    val weighted = Seq((1L, 2L, 3L), (1L, 2L, 2L), (2L, 3L, 1L),
      (3L, 1L, 4L), (4L, 5L, 0L)).map { case (s, d, w) => (s, d, w.toDouble) }
      .toDF("src", "dst", "value")
    pinEqual(PageRank.weightedFixedPoint(weighted, 10), "pagerank.weighted")
    pinEmpty(PageRank.weightedFixedPoint(weighted.limit(0), 10), "pagerank.weighted")
  }

  test("hits family: one-task replay == round path") {
    pinEqual(Hits.fixedPoint(c10, 5), "hits.fixedPoint")
    val prev = Hits.fixedPoint(c10, 2)
    pinEqual(Hits.fixedPointFrom(c10, prev, 3), "hits.fixedPointFrom")
    pinEmpty(Hits.fixedPoint(none, 5), "hits.fixedPoint")
    val noScores = Hits.fixedPoint(none, 2)
    pinEmpty(Hits.fixedPointFrom(none, noScores, 3), "hits.fixedPointFrom")
  }

  test("centrality family: one-task replay == round path") {
    val srcs = c10.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct().orderBy("id").limit(3).collect().map(_.getLong(0)).toSeq
    pinEqual(Centrality.stressCentrality(c10, srcs, 10), "stressCentrality")
    pinEqual(Centrality.betweennessCentrality(c10, srcs, 10), "betweennessCentrality")
    pinEqual(Centrality.harmonicCloseness(c10, srcs, 10), "harmonicCloseness")
    pinEmpty(Centrality.stressCentrality(none, srcs, 10), "stressCentrality")
    pinEmpty(Centrality.betweennessCentrality(none, srcs, 10), "betweennessCentrality")
    // no edges leave every source isolated: both legs fail loud, at the
    // call
    for (bar <- Seq(LocalGraph.SymRowBar, 0L)) {
      val ex = intercept[Exception](withConf(LocalGraph.BarConf -> bar.toString)(
        Centrality.harmonicCloseness(none, srcs, 10)))
      assert(ex.getMessage.contains(
        "harmonicCloseness: no vertex reachable from any source (isolated sources)"),
        s"bar $bar: $ex")
    }
  }

  test("centrality: one-task leg mirrors the maxDepth fail-loud budget") {
    import spark.implicits._
    // path 1-2-3-4-5 from source 1: the deepest vertex (5) sits at
    // depth 4. The round path errors when the layer AT depth ==
    // maxDepth is non-empty, so budget 4 fails (layer 4 = {5}) and
    // budget 5 passes — both legs must agree on both.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    // both legs fail at the call, with the same budget message
    for (bar <- Seq(LocalGraph.SymRowBar, 0L)) {
      val ex = intercept[Exception](withConf(LocalGraph.BarConf -> bar.toString)(
        Centrality.stressCentrality(path, Seq(1L), 4)))
      assert(ex.getMessage.contains("stressCentrality: BFS frontier still non-empty at " +
        "maxDepth=4 (1 (source, vertex) pairs unreached) — raise maxDepth"), s"bar $bar: $ex")
    }
    // both legs succeed and agree once the budget clears
    pinEqual(Centrality.stressCentrality(path, Seq(1L), 5), "stress path budget-clear")
  }

  test("densest peels: one-task replay == round path") {
    pinEqual(Traversals.densestSubgraph(c10), "densestSubgraph")
    // the round path labels components with ConnectedComponents.auto,
    // which the one-task leg never calls
    pinEqual(Traversals.densestByComponent(c10), "densestByComponent",
      roundOnly = ccGate)
    pinEmpty(Traversals.densestSubgraph(none), "densestSubgraph")
    sameNone(Traversals.densestByComponent(none), "densestByComponent")
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (12L, 10L), (10L, 12L), (20L, 21L)).toDF("src", "dst")
    val inserts = Seq((3L, 4L), (4L, 1L)).toDF("src", "dst")
    val deletes = Seq((20L, 21L)).toDF("src", "dst")
    val oldStats = Traversals.densestByComponent(base)
    pinEqual(Traversals.densestMaintain(oldStats, base, inserts, deletes), "densestMaintain")
    val noStats = Traversals.densestByComponent(none)
    sameNone(Traversals.densestMaintain(noStats, none, none, none), "densestMaintain")
  }

  test("bipartiteness: one-task replay == round path (odd cycles, per component, groups)") {
    import spark.implicits._
    // mixed shapes: odd cycle (non-bipartite), even cycle, isolated
    // edge, self-loop (odd by definition)
    val mixed = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (12L, 13L), (13L, 10L), (20L, 21L), (30L, 30L)).toDF("src", "dst")
    pinEqual(Bipartiteness.bipartitenessByComponent(mixed), "bipartitenessByComponent")
    sameNone(Bipartiteness.bipartitenessByComponent(none), "bipartitenessByComponent")
    val inserts = Seq((21L, 22L), (22L, 20L)).toDF("src", "dst")
    val deletes = Seq((3L, 1L)).toDF("src", "dst")
    val oldV = Bipartiteness.bipartitenessByComponent(mixed)
    pinEqual(
      Bipartiteness.bipartitenessMaintain(oldV, mixed, inserts, deletes),
      "bipartitenessMaintain")
    val noVerdicts = Bipartiteness.bipartitenessByComponent(none)
    sameNone(
      Bipartiteness.bipartitenessMaintain(noVerdicts, none, none, none),
      "bipartitenessMaintain")
    val tagged = mixed.where(col("src") < 20)
      .select(lit("A").as("g"), col("src"), col("dst"))
      .unionByName(mixed.where(col("src") >= 20)
        .select(lit("B").as("g"), col("src"), col("dst")))
    pinEqual(Bipartiteness.iterativeByGroup(tagged), "iterativeByGroup")
    pinEmpty(Bipartiteness.iterativeByGroup(tagged.limit(0)), "iterativeByGroup")
  }

  test("kcore: one-task replay == round path (incl. maxIter truncation)") {
    for (k <- Seq(2, 4, 6)) {
      pinEqual(Traversals.kcore(c10, k), s"kcore k=$k")
    }
    pinEmpty(Traversals.kcore(none, 4), "kcore")
    // truncation semantics: a 1-round budget leaves the partial peel —
    // both legs must leave the SAME partial state
    pinEqual(Traversals.kcore(c10, 4, maxIter = 1), "kcore truncated")
  }

  test("hyperball ballSizes: one-task replay == round path") {
    pinEqual(HyperBall.ballSizes(c10, 3), "hyperball.ballSizes")
    pinEqual(HyperBall.ballSizes(c10, 2, includeZero = true), "hyperball.ballSizes includeZero")
    pinEmpty(HyperBall.ballSizes(none, 3), "hyperball.ballSizes")
    pinEmpty(HyperBall.ballSizes(none, 2, includeZero = true), "hyperball.ballSizes includeZero")
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (20L, 21L)).toDF("src", "dst")
    val inserts = Seq((3L, 4L), (12L, 10L)).toDF("src", "dst")
    val deletes = Seq((20L, 21L)).toDF("src", "dst")
    val oldBalls = HyperBall.ballSizes(base, 3)
    pinEqual(
      HyperBall.ballSizesMaintain(oldBalls, base, inserts, deletes, 3),
      "hyperball.ballSizesMaintain")
    val noBalls = HyperBall.ballSizes(none, 3)
    pinEmpty(
      HyperBall.ballSizesMaintain(noBalls, none, none, none, 3),
      "hyperball.ballSizesMaintain")
  }

  test("hyperball registerRounds + growFrom: one-task legs == round paths") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (7L, 8L), (8L, 9L))
      .toDF("src", "dst")
    val (localRounds, roundRounds) = legs(
      HyperBall.registerRounds(base, 3),
      "registerRounds")
    localRounds.zip(roundRounds).zipWithIndex.foreach { case ((l, r), t) =>
      sameRows(l, r, s"registerRounds t=$t")
    }
    // growFrom: the one-task leg rides the operator's own
    // maintained ≡ cold contract; both legs must produce identical rows
    val ins = Seq((3L, 4L), (9L, 1L)).toDF("src", "dst")
    pinEqual(
      HyperBall.ballSizesGrowFrom(HyperBall.registerRounds(base, 3), base, ins, 3),
      "ballSizesGrowFrom")
    // and c10-scale: grow the base by a deterministic insert slice
    val srcs = c10.where(col("src") % 97 === 0)
    pinEqual(
      HyperBall.ballSizesGrowFrom(HyperBall.registerRounds(c10, 2), c10,
        srcs, 2),
      "ballSizesGrowFrom c10")
    val (localNone, roundNone) = legs(
      HyperBall.registerRounds(none, 2),
      "registerRounds on no edges")
    localNone.zip(roundNone).zipWithIndex.foreach { case ((l, r), t) =>
      sameRows(l, r, s"registerRounds on no edges t=$t")
      assert(l.isEmpty, s"registerRounds on no edges t=$t: rows")
    }
    pinEmpty(
      HyperBall.ballSizesGrowFrom(HyperBall.registerRounds(none, 2), none, none, 2),
      "ballSizesGrowFrom")
  }

  test("walks: one-task replay == round path (uniform and node2vec-biased)") {
    pinEqual(Walks.deterministicWalks(c10, 5), "deterministicWalks")
    pinEqual(Walks.biasedWalks(c10, 6), "biasedWalks")
    pinEmpty(Walks.deterministicWalks(none, 5), "deterministicWalks")
    pinEmpty(Walks.biasedWalks(none, 6), "biasedWalks")
  }

  test("sparsifiedEstimateGate: fused one-pass counts == two-pass kept-subgraph shape") {
    import spark.implicits._
    // a kept triangle is a full-graph triangle with three hash-kept
    // edges, counted once under either orientation — value-pin the
    // fused counts against the old shape's explicit kept subgraph
    for ((g, name) <- Seq(
        (c10, "c10"),
        (Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
          (1L, 4L), (2L, 4L)).toDF("src", "dst"), "synthetic"))) {
      val counts = Triangles.sparsifiedCounts(g, 0.5, 42L).head()
      val exact = Triangles.globalCount(g).head().getLong(0)
      val kept = g.where(
        pmod(xxhash64(col("src"), col("dst"), lit(42L)), lit(1000000L)) <
          lit(500000L))
      val keptCount = Triangles.globalCount(kept).head().getLong(0)
      assert(counts.getLong(0) == exact, s"$name n_exact")
      assert(counts.getLong(1) == keptCount, s"$name kept_triangles")
    }
  }

  test("r12 twins gain round-path A/Bs: scc, bfs, sssp, landmarks (advice)") {
    pinEqual(Scc.stronglyConnectedComponents(c10), "scc")
    val src = c10.agg(min(col("src"))).head().getLong(0)
    pinEqual(Traversals.bfsDepths(c10, src), "bfsDepths")
    pinEqual(Traversals.doubleSweepDiameter(c10, src), "doubleSweepDiameter")
    // sssp weights ride the `value` column — use the weighted edge
    // fixture (c10 carries no value)
    val weighted = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L),
      (4L, 5L), (2L, 5L), (6L, 7L)))
    pinEqual(Traversals.sssp(weighted, 1L), "sssp")
    pinEqual(Traversals.landmarkDistances(c10, 4), "landmarkDistances")
    pinEmpty(Scc.stronglyConnectedComponents(none), "scc")
    pinEmpty(Traversals.bfsDepths(none, src), "bfsDepths", want = Seq(Seq(src, 0L)))
    pinEmpty(
      Traversals.doubleSweepDiameter(none, src),
      "doubleSweepDiameter", want = Seq(Seq(src, 0L, src, 0L)))
    pinEmpty(Traversals.sssp(weighted.limit(0), 1L), "sssp", want = Seq(Seq(1L, 0L)))
    pinEmpty(Traversals.landmarkDistances(none, 4), "landmarkDistances")
  }

  /** The gate on `in` at session bar `bar`. */
  private def probe(in: DataFrame, bar: Long): Boolean =
    withConf(LocalGraph.BarConf -> bar.toString)(LocalGraph.oneTask("probeSpec", in))

  test("twin gate: the bounded probe decides exactly as bar > 0 && count() <= bar") {
    val n = 10L
    for ((name, in) <- Seq(
        "range over 4 partitions" -> spark.range(0, n, 1, 4).toDF(),
        "empty frame" -> spark.emptyDataFrame,
        "one partition" -> spark.range(0, n, 1, 1).toDF());
        bar <- Seq(0L, 1L, n - 1, n, n + 1)) {
      val want = bar > 0 && in.count() <= bar
      val (got, logged) = gateLog.during(probe(in, bar))
      assert(got == want, s"$name, bar $bar")
      assert(logged == Seq(Decision("probeSpec", if (want) "one-task" else "rounds", bar)),
        s"$name, bar $bar: $logged")
    }
  }

  test("twin gate: the probe is one job with one stage (no exchange); bar 0 runs none") {
    val in = spark.range(0, 1000, 1, 4).toDF()
    val (_, stagesPerJob) = jobsDuring {
      assert(!probe(in, 10L))
      assert(!probe(in, 0L))
    }
    assert(stagesPerJob == Seq(1))
  }

  test("twin gate: a cut input is decided from its measured count, with no job") {
    val n = 10L
    for ((name, frame) <- Seq(
        "range over 4 partitions" -> spark.range(0, n, 1, 4).toDF(),
        "empty frame" -> spark.range(0, 0, 1, 2).toDF(),
        "one partition" -> spark.range(0, n, 1, 1).toDF())) {
      val in = Lineage.cut(frame)
      for (bar <- Seq(1L, n - 1, n, n + 1)) {
        val want = in.count() <= bar
        val ((got, logged), jobs) = jobsDuring(
          gateLog.during(probe(in, bar)))
        assert(jobs.isEmpty, s"$name, bar $bar: the gate ran $jobs")
        assert(got == want, s"$name, bar $bar")
        assert(logged == Seq(Decision("probeSpec", if (want) "one-task" else "rounds", bar)),
          s"$name, bar $bar: $logged")
      }
    }
  }

  test("twin gate: the bar is the session's spark.graft.oneTaskBar, default SymRowBar") {
    def gates(f: => DataFrame): Seq[Decision] = gateLog.during(f)._2
    val src = c10.agg(min(col("src"))).head().getLong(0)
    val atDefault = Seq(Decision("pagerank", "one-task", LocalGraph.SymRowBar))
    assert(spark.conf.getOption(LocalGraph.BarConf).isEmpty)
    assert(gates(PageRank.fixedPoint(c10, 10)) == atDefault)
    assert(gates(atBarZero(PageRank.personalized(c10, Seq(src), 10))) ==
      Seq(Decision("personalizedPagerank", "rounds", 0L)))
    // withConf restores the unset key, and the default bar with it
    assert(spark.conf.getOption(LocalGraph.BarConf).isEmpty)
    assert(gates(PageRank.fixedPoint(c10, 10)) == atDefault)
    // the perfbench-held parameter caps the session bar for one call
    assert(gates(PageRank.fixedPoint(c10, 10, oneTaskBar = 0L)) ==
      Seq(Decision("pagerank", "rounds", 0L)))
  }

  test("twin gate: a malformed spark.graft.oneTaskBar fails naming the key and the value") {
    val ex = intercept[IllegalArgumentException](
      withConf(LocalGraph.BarConf -> "4M")(PageRank.fixedPoint(c10, 10)))
    assert(ex.getMessage.contains("spark.graft.oneTaskBar") && ex.getMessage.contains("'4M'"),
      ex.getMessage)
  }
}
