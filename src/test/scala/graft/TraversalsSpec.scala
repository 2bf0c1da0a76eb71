package graft

import graft.operators.{DegreeMetrics, LinkPrediction, Traversals, Triangles}

/** Known-graph checks for the traversal / graph-metric operators
  * (BFS distances, k-core, Adamic–Adar, transitivity, assortativity).
  */
class TraversalsSpec extends SparkTestBase {

  // a path 1-2-3-4, a triangle 4-5-6(-4), and a pendant 7 off 1
  private val g = edgeDf(Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L), (1L, 7L)))

  test("bfsDepths: hop distances from the source, reachable set only") {
    val out = Traversals.bfsDepths(g, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 7L -> 1L, 3L -> 2L,
      4L -> 3L, 5L -> 4L, 6L -> 4L))
    // disconnected vertex is not reported
    val g2 = edgeDf(Seq((1L, 2L), (10L, 11L)))
    val out2 = Traversals.bfsDepths(g2, 1L).collect().map(_.getLong(0)).toSet
    assert(out2 == Set(1L, 2L))
  }

  test("kcore: peeling reaches the maximal subgraph with min degree k") {
    // 2-core of g is exactly the triangle 4-5-6
    val core = Traversals.kcore(g, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(4L -> 2L, 5L -> 2L, 6L -> 2L))
    // 3-core is empty; k=1 keeps every non-isolated vertex
    assert(Traversals.kcore(g, 3).isEmpty)
    assert(Traversals.kcore(g, 1).count() == 7)
    // K4 with a tail 4-8-9-10: for k=2 the tail unravels one vertex per
    // round (10, then 9, then 8) — exercises the cascading fixpoint
    val k4tail = edgeDf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 8L), (8L, 9L), (9L, 10L)))
    val c2 = Traversals.kcore(k4tail, 2).collect().map(_.getLong(0)).toSet
    assert(c2 == Set(1L, 2L, 3L, 4L))
    val c3 = Traversals.kcore(k4tail, 3).collect().map(_.getLong(0)).toSet
    assert(c3 == Set(1L, 2L, 3L, 4L))
  }

  test("adamicAdar: distance-2 pairs with fixed-point scores") {
    // square 1-2-3-4-1: the two diagonals each have cn=2 common
    // neighbors of degree 2 => aa_micro = 2 * round(1e6/ln 2)
    val sq = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    val rows = LinkPrediction.adamicAdar(sq, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val w2 = math.round(1000000.0 / math.log(2.0))
    assert(rows == Map((1L, 3L) -> (2L, 2 * w2), (2L, 4L) -> (2L, 2 * w2)))
    // existing edges are excluded: in the triangle there is no candidate
    val tri = edgeDf(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(LinkPrediction.adamicAdar(tri, 1).isEmpty)
  }

  test("transitivity: 3·triangles/wedges on known graphs") {
    val r = Triangles.transitivity(g).head()
    // triangles: 1 (4-5-6). degrees: 2,2,2,3,2,2,1; per-vertex d(d-1)/2:
    // five deg-2 vertices contribute 1 each, deg-3 vertex 4 contributes 3,
    // the pendant 0 => 8 wedges
    assert(r.getAs[Long]("n_triangles") == 1L)
    assert(r.getAs[Long]("n_wedges") == 8L)
    assert(math.abs(r.getAs[Double]("transitivity") - 0.375) < 1e-9)
    // complete graph K4: transitivity = 1
    val k4 = edgeDf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(Triangles.transitivity(k4).head().getAs[Double]("transitivity") == 1.0)
  }

  test("assortativity: ±1 on perfectly assortative/disassortative graphs") {
    // two disjoint cliques of different sizes: every edge joins equal
    // degrees => r undefined only if all degrees equal globally; use a
    // K3 + K2: degrees {2,2,2,1,1} — edges join only equal degrees => r=1
    val asso = edgeDf(Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)))
    val r1 = DegreeMetrics.assortativity(asso).head().getAs[Double]("assortativity")
    assert(math.abs(r1 - 1.0) < 1e-9)
    // star K1,4: every edge joins degree 4 to degree 1 => r = -1
    val star = edgeDf(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    val r2 = DegreeMetrics.assortativity(star).head().getAs[Double]("assortativity")
    assert(math.abs(r2 + 1.0) < 1e-9)
  }

  test("assortativityMaintain: algebraic delta equals the cold net statistic") {
    def row(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    }
    // a seeded random graph, then a mixed delta: genuine inserts, a
    // duplicate insert (no-op), genuine deletes, an absent delete
    // (no-op), and a tombstone-wins pair (same edge inserted+deleted)
    val rnd = new scala.util.Random(7)
    val base = (1 to 40).map { _ =>
      val a = rnd.nextInt(15).toLong; var b = rnd.nextInt(15).toLong
      if (a == b) b = (a + 1) % 15
      (math.min(a, b), math.max(a, b))
    }.distinct
    val ins = Seq((20L, 21L), (1L, 20L), base.head, (30L, 31L))
    val del = Seq(base(1), base(2), (40L, 41L), (30L, 31L))
    val net = (base ++ ins).distinct.filterNot(del.contains)
    val trace = scala.collection.mutable.Buffer.empty[Long]
    val got = row(DegreeMetrics.assortativityMaintain(
      DegreeMetrics.undirectedDegrees(edgeDf(base)),
      DegreeMetrics.assortativity(edgeDf(base)),
      edgeDf(base), edgeDf(ins), edgeDf(del), trace = Some(trace)))
    val want = row(DegreeMetrics.assortativity(edgeDf(net)))
    assert(got == want, s"got $got want $want")
    // work confinement: only delta endpoints are touched, never the
    // whole vertex set (no-op delta legs must not inflate it)
    assert(trace.head <= 8, s"touched ${trace.head}")
    // empty delta: zero touched, bit-equal pass-through of the moments
    val e = edgeDf(Seq.empty[(Long, Long)])
    val t2 = scala.collection.mutable.Buffer.empty[Long]
    assert(row(DegreeMetrics.assortativityMaintain(
      DegreeMetrics.undirectedDegrees(edgeDf(base)),
      DegreeMetrics.assortativity(edgeDf(base)),
      edgeDf(base), e, e, trace = Some(t2))) ==
      row(DegreeMetrics.assortativity(edgeDf(base))))
    assert(t2 == Seq(0L))
  }

  test("maximalIndependentSet: independent, maximal, deterministic") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 20 + rnd.nextInt(20)
      val pairs = (1 to 60).map { _ =>
        val a = rnd.nextInt(n).toLong; var b = rnd.nextInt(n).toLong
        if (a == b) b = (a + 1) % n
        (math.min(a, b), math.max(a, b))
      }.distinct
      val g2 = edgeDf(pairs)
      val mis = Traversals.maximalIndependentSet(g2).collect().map(_.getLong(0)).toSet
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      // independence: no edge inside the MIS
      assert(mis.forall(v => adj(v).intersect(mis).isEmpty), s"trial $trial not independent")
      // maximality: every excluded vertex has a MIS neighbor
      assert((verts -- mis).forall(v => adj(v).exists(mis.contains)), s"trial $trial not maximal")
      // determinism under repartitioning
      val again = Traversals.maximalIndependentSet(g2.repartition(7))
        .collect().map(_.getLong(0)).toSet
      assert(again == mis)
    }
  }

  test("doubleSweepDiameter: exact on trees, deterministic far vertex") {
    // path 1-2-3-4-5 starting mid-path: ecc(3)=2, far vertex = 1 (tie
    // with 5 broken by min id), second sweep finds the true diameter 4
    val path = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val r = Traversals.doubleSweepDiameter(path, 3L).head()
    assert(r.getAs[Long]("source") == 3L)
    assert(r.getAs[Long]("ecc_source") == 2L)
    assert(r.getAs[Long]("far_vertex") == 1L)
    assert(r.getAs[Long]("diameter_lb") == 4L)
  }

  test("sssp: weighted distances relax past greedy hop counts") {
    import org.apache.spark.sql.functions._
    // 1→2 costs 10 direct, but 1→3→4→2 costs 3; parallel edge keeps min
    val weighted = edgeDf(Seq((1L, 2L), (1L, 2L), (1L, 3L), (3L, 4L), (4L, 2L), (5L, 6L)))
      .withColumn("value",
        when(col("src") === 1 && col("dst") === 2, 10.0).otherwise(1.0))
    val out = Traversals.sssp(weighted, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 3L -> 1L, 4L -> 2L, 2L -> 3L))
    // undirected: distances from the "far" end agree by symmetry
    val back = Traversals.sssp(weighted, 2L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(back(1L) == 3L && back(4L) == 1L)
  }

  test("snapshot: one window of the stream as a batch GraphStream, range-pruned") {
    // edgeDf assigns ts = minute * index; a 120s window pins 2 edges
    val gs = GraphStream(edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))))
    val snap = gs.snapshot("2 minutes", atEpochSec = 0L)
    assert(collectPairs(snap.edges.select("src", "dst")) == Set((1L, 2L), (2L, 3L)))
    val snap2 = gs.snapshot("2 minutes", atEpochSec = 130L)
    assert(collectPairs(snap2.edges.select("src", "dst")) == Set((3L, 4L), (4L, 5L)))
    // the batch operator surface composes on the snapshot
    assert(snap.getDegrees.count() == 3)
  }

  test("bfs/kcore on sf0.001 C10 match independently computed answers") {
    val c = graft.model.GraphFixtures.coPurchase10(spark, sf)
    // measured via DuckDB + python BFS/peel (see oracle design notes):
    // src=0, ecc=4, reachable=193; k=6 core has 157 vertices
    val bfs = Traversals.bfsDepths(c, 0L)
    assert(bfs.count() == 193)
    assert(bfs.agg(org.apache.spark.sql.functions.max("dist")).head().getLong(0) == 4L)
    assert(Traversals.kcore(c, 6).count() == 157)
  }

  test("hash walks: deterministic, stay in the graph, dead ends hold position") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // path 1-2-3-4 plus isolated start 9 (no edges touch it)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val starts = Seq(1L, 3L, 9L).toDF("id")
    def run() = Traversals.hashWalks(edges, starts, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = run()
    assert(w1 == run()) // deterministic
    assert(w1(9L) == 9L) // no neighbors: the walk holds position
    assert(Set(1L, 2L, 3L, 4L).contains(w1(1L)) && Set(1L, 2L, 3L, 4L).contains(w1(3L)))
    // replay the sequential definition for start 1
    def pri(v: Long, step: Int) =
      (((((v % 2147483648L) * 31 + step) % 2147483648L) * 2654435761L) % 2147483648L, v)
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L, 4L), 4L -> Seq(3L))
    var cur = 1L
    for (s <- 1 to 3) cur = adj(cur).minBy(v => pri(v, s))
    assert(w1(1L) == cur)
  }

  test("ego sizes count the closed r-hop neighborhood exactly") {
    import spark.implicits._
    // star center 1 with leaves 2..5, plus chain 5-6-7
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (5L, 6L), (6L, 7L))
      .toDF("src", "dst")
    val starts = Seq(1L, 7L, 9L).toDF("id")
    val sizes = Traversals.egoSizes(edges, starts, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ego(1, 2) = {1,2,3,4,5,6}; ego(7, 2) = {7,6,5}; isolated 9 = {9}
    assert(sizes == Map(1L -> 6L, 7L -> 3L, 9L -> 1L))
  }

  test("stress centrality: exact integer path counts on hand-computed graphs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Centrality
    def run(edges: Seq[(Long, Long)], srcs: Seq[Long]) =
      Centrality.stressCentrality(edges.toDF("src", "dst"), srcs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 1-2-3-4 from 1: through-2 paths {1→3,1→4}, through-3 {1→4}
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 4L)), Seq(1L)) == Map(2L -> 2L, 3L -> 1L))
    // diamond 1-2-4, 1-3-4: one through-path each for 2 and 3; vertex 4
    // is an endpoint (σ=2) but never a through-vertex
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    assert(run(diamond, Seq(1L)) == Map(2L -> 1L, 3L -> 1L))
    // both endpoints as sources: contributions sum
    assert(run(diamond, Seq(1L, 4L)) == Map(2L -> 2L, 3L -> 2L))
    // isolated source: no rows, no crash
    assert(run(Seq((1L, 2L)), Seq(9L)).isEmpty)
    // fail-loud: a frontier still live at maxDepth throws (mirrors the
    // SQL unroll's (-1,-1) sentinel) instead of silently undercounting.
    // Round path (bar 0): driver-side IllegalArgumentException;
    // one-task leg: the same require fires inside the task, so the
    // action surfaces it wrapped in a SparkException (documented
    // divergence — the failure is equally loud, the type differs).
    intercept[IllegalArgumentException](atBarZero(
      Centrality.stressCentrality(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst"),
        Seq(1L), maxDepth = 2).collect()))
    val exL = intercept[Exception] {
      Centrality.stressCentrality(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst"),
        Seq(1L), maxDepth = 2).collect()
    }
    assert(exL.getMessage.contains("raise maxDepth"))
    // fixture graph: deterministic, and the integer products stay far
    // from Long overflow (the documented caveat probed in anger)
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val srcs = c10.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(col("src"), col("dst"))).as("id"))
      .distinct().orderBy("id").limit(3).collect().map(_.getLong(0)).toSeq
    val a = Centrality.stressCentrality(c10, srcs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.nonEmpty && a.values.forall(v => v > 0 && v < (1L << 50)))
    val b = Centrality.stressCentrality(c10, srcs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("Brandes betweenness in micro-units matches hand-computed dependencies") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Centrality
    def run(pairs: Seq[(Long, Long)], srcs: Seq[Long]) =
      Centrality.betweennessCentrality(pairs.toDF("src", "dst"), srcs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 1-2-3 from source 1: δ(2) = (σ2·(1e6+0)) div σ3 = 1e6
    assert(run(Seq((1L, 2L), (2L, 3L)), Seq(1L)) == Map(2L -> 1000000L))
    // diamond 1-2-4, 1-3-4: δ(2) = δ(3) = (1·1e6) div 2 = 500000 — the
    // fractional split stress centrality cannot express
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    assert(run(diamond, Seq(1L)) == Map(2L -> 500000L, 3L -> 500000L))
    // both endpoints as sources: dependencies sum
    assert(run(diamond, Seq(1L, 4L)) == Map(2L -> 1000000L, 3L -> 1000000L))
    // path 1-2-3-4: δ(3|s=1) = 1e6; δ(2|s=1) = (1·(1e6+1e6)) div 1 = 2e6
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 4L)), Seq(1L)) ==
      Map(2L -> 2000000L, 3L -> 1000000L))
    // fail-loud at maxDepth, like stress (round path driver-side IAE;
    // one-task leg wraps the same require in the task failure)
    intercept[IllegalArgumentException](atBarZero(
      Centrality.betweennessCentrality(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst"),
        Seq(1L), maxDepth = 2).collect()))
    val exL = intercept[Exception] {
      Centrality.betweennessCentrality(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst"),
        Seq(1L), maxDepth = 2).collect()
    }
    assert(exL.getMessage.contains("raise maxDepth"))
    // fixture graph: deterministic, products far from Long overflow
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val srcs = c10.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(col("src"), col("dst"))).as("id"))
      .distinct().orderBy("id").limit(3).collect().map(_.getLong(0)).toSeq
    val a = Centrality.betweennessCentrality(c10, srcs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.nonEmpty && a.values.forall(v => v > 0 && v < (1L << 50)))
    val b = Centrality.betweennessCentrality(c10, srcs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("ego frontier anti-join: radius 4 stays exact and the frontier shrinks to empty on saturation") {
    import spark.implicits._
    // 6-cycle: from one start the ego saturates at hop 3 — the fresh
    // frontier must DROP TO ZERO at hop 4 (the old form bounced settled
    // vertices forever), and per-hop sizes trace the BFS rings exactly
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L))
      .toDF("src", "dst")
    val trace = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sizes = Traversals.egoSizes(cycle, Seq(1L).toDF("id"), 4, Some(trace))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 6L))
    // rings from 1 on a 6-cycle: {2,6}, {3,5}, {4}, then nothing new
    assert(trace.toSeq == Seq(2L, 2L, 1L, 0L), s"frontier trace: $trace")
    // radius-4 parity against per-source BFS distances on the star+chain
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (5L, 6L), (6L, 7L))
      .toDF("src", "dst")
    val sizes4 = Traversals.egoSizes(edges, Seq(1L, 7L).toDF("id"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Seq(1L, 7L).map { s =>
      val d = Traversals.bfsDepths(edges, s).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      s -> d.values.count(_ <= 4).toLong
    }.toMap
    assert(sizes4 == expected)
  }

  test("maximal matching: handshake rounds, vertex-disjoint, maximal, deterministic") {
    import spark.implicits._
    import graft.operators.Matching
    def run(pairs: Seq[(Long, Long)]) =
      Matching.maximalMatching(pairs.toDF("src", "dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def checkMatching(pairs: Seq[(Long, Long)], m: Set[(Long, Long)]): Unit = {
      val canon = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        .filter(p => p._1 != p._2).toSet
      assert(m.subsetOf(canon), "matched edges must come from the graph")
      val touched = m.flatMap(p => Seq(p._1, p._2))
      assert(touched.size == 2 * m.size, "matched vertices must be disjoint")
      assert(canon.forall(e => touched(e._1) || touched(e._2)),
        "maximality: every edge must touch a matched vertex")
    }
    // path: exactly 1 or 2 edges depending on which priorities win,
    // always a maximal matching
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    checkMatching(path, run(path))
    // triangle: any single edge is maximal (two matched is impossible)
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    assert(run(tri).size == 1); checkMatching(tri, run(tri))
    // star: center matches exactly once
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    assert(run(star).size == 1); checkMatching(star, run(star))
    // direction/duplication insensitivity (canonicalized + distinct)
    assert(run(Seq((2L, 1L), (1L, 2L), (3L, 2L))) ==
      run(Seq((1L, 2L), (2L, 3L))))
    // fixture graph: a matching (vertex-disjoint), maximal (no live
    // edge between two unmatched vertices), identical across partitions
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val m = Matching.maximalMatching(c10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val touched = m.flatMap(p => Seq(p._1, p._2))
    assert(touched.size == 2 * m.size, "matched vertices must be disjoint")
    val edges = c10.collect().map(r => (r.getLong(0), r.getLong(1)))
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(edges.forall(e => touched(e._1) || touched(e._2)),
      "maximality: every edge must touch a matched vertex")
    val m2 = Matching.maximalMatching(c10.repartition(13)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m == m2)
    // fail-loud when the round budget is exhausted with live edges
    intercept[IllegalArgumentException] {
      Matching.maximalMatching(Seq((1L, 2L)).toDF("src", "dst"), maxRounds = 0)
    }
  }

  test("edge embeddedness: common neighbors, union size, micro-unit Jaccard") {
    import spark.implicits._
    import graft.operators.LinkPrediction
    // kite: 1-2-3-1 triangle with tail 3-4
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = LinkPrediction.edgeEmbeddedness(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // (1,2): cn=1 (vertex 3), un = 2+2-2-1 = 1 → jaccard 1e6
    assert(out((1L, 2L)) == (1L, 1L, 1000000L))
    // (2,3): cn=1 (vertex 1), un = 2+3-2-1 = 2 → 500000
    assert(out((2L, 3L)) == (1L, 2L, 500000L))
    // (3,4): cn=0 local bridge, un = 3+1-2-0 = 2 → 0
    assert(out((3L, 4L)) == (0L, 2L, 0L))
    // isolated edge: un = 0, jaccard defined as 0
    val iso = LinkPrediction.edgeEmbeddedness(Seq((8L, 9L)).toDF("src", "dst"))
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(iso.toSeq == Seq((0L, 0L, 0L)))
  }

  test("matching coarsen: matched pairs contract, weights aggregate, self-loops drop") {
    import spark.implicits._
    import graft.operators.Matching
    // explicit matching {(1,2),(3,4)} over a path 1-2-3-4 plus a
    // parallel-forming edge 1-3: contraction gives supervertices 1,3
    // with edges 2-3 → (1,3) and 1-3 → (1,3) merged to weight 2
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("src", "dst")
    val m = Seq((1L, 2L), (3L, 4L)).toDF("u", "v")
    val out = Matching.coarsen(g, m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 3L) -> 2L))
    // end-to-end on the fixture: the coarse graph is strictly smaller
    // (vertices AND edges) and deterministic
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val matching = Matching.maximalMatching(c10)
    val coarse = Matching.coarsen(c10, matching)
    val nV = c10.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.col("src"),
        org.apache.spark.sql.functions.col("dst"))).as("id")).distinct().count()
    val nCV = coarse.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.col("cu"),
        org.apache.spark.sql.functions.col("cv"))).as("id")).distinct().count()
    assert(nCV < nV && coarse.count() < c10.count())
    // coarsen again through a second matching level — the multilevel loop
    val m2 = Matching.maximalMatching(
      coarse.select(org.apache.spark.sql.functions.col("cu").as("src"),
        org.apache.spark.sql.functions.col("cv").as("dst")))
    assert(m2.count() > 0)
    // weighted multigraph input: DUPLICATE weighted rows are parallel
    // edges and must SUM — (2,3,w=5) twice plus (1,3,w=1) contracts to
    // (1,3) with weight 11, not 6
    val gw = Seq((2L, 3L, 5L), (2L, 3L, 5L), (1L, 3L, 1L))
      .toDF("src", "dst", "weight")
    val outW = Matching.coarsen(gw, Seq((1L, 2L)).toDF("u", "v")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(outW == Map((1L, 3L) -> 11L), s"got $outW")
  }

  test("harmonic closeness: micro-unit sums of reciprocal distances") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Centrality
    def run(pairs: Seq[(Long, Long)], srcs: Seq[Long]) =
      Centrality.harmonicCloseness(pairs.toDF("src", "dst"), srcs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 1-2-3-4 from source 1: d=1,2,3 → 1e6, 500000, 333333
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 4L)), Seq(1L)) ==
      Map(2L -> 1000000L, 3L -> 500000L, 4L -> 333333L))
    // both ends as sources: contributions sum; each source also scores
    // the other source's distance (1 is at d=3 from 4)
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 4L)), Seq(1L, 4L)) ==
      Map(1L -> 333333L, 2L -> 1500000L, 3L -> 1500000L, 4L -> 333333L))
    // disconnected component contributes nothing (harmonic, not classic)
    assert(run(Seq((1L, 2L), (8L, 9L)), Seq(1L)) == Map(2L -> 1000000L))
    // fail-loud at maxDepth, like the other sampled-centrality ops
    // (round path driver-side IAE; one-task leg wraps it in the task)
    intercept[IllegalArgumentException](atBarZero(
      Centrality.harmonicCloseness(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst"),
        Seq(1L), maxDepth = 2).collect()))
    val exL = intercept[Exception] {
      Centrality.harmonicCloseness(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst"),
        Seq(1L), maxDepth = 2).collect()
    }
    assert(exL.getMessage.contains("raise maxDepth"))
    // fixture determinism
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val srcs = c10.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(col("src"), col("dst"))).as("id"))
      .distinct().orderBy("id").limit(3).collect().map(_.getLong(0)).toSeq
    val a = Centrality.harmonicCloseness(c10, srcs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Centrality.harmonicCloseness(c10, srcs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b && a.nonEmpty)
  }

  test("coreness: h-index fixed point equals known values and the k-core cross-check") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    // a 5-clique (coreness 4 each) with a pendant path 5-10-11
    // (10 has coreness 1, 11 has coreness 1; 5 stays 4)
    val g = (clique(Seq(1L, 2L, 3L, 4L, 5L)) ++ Seq((5L, 10L), (10L, 11L)))
      .toDF("src", "dst")
    val c = Traversals.coreness(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L,
      10L -> 1L, 11L -> 1L), s"got $c")
    // cross-check on the fixture at EVERY level 3..6: {v : coreness(v)
    // >= k} must be exactly the k-core's vertex set (coreness = max k
    // the vertex survives) — level-by-level, this pins the frontier
    // variant's full fixpoint against the independent peel
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val cAll = Traversals.coreness(c10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (3 to 6).foreach { k =>
      val byCoreness = cAll.filter(_._2 >= k).keySet
      val byPeel = Traversals.kcore(c10, k)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(byCoreness == byPeel, s"coreness>=$k vs $k-core mismatch")
    }
    // r12 scale-adaptive A/B: bar 0 forces the distributed h-index
    // rounds; the default takes the one-task Matula–Beck peel — the
    // core decomposition is unique, so both must be bit-equal
    val cRounds = atBarZero(Traversals.coreness(c10).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cRounds == cAll)
  }

  test("corenessMaintain: delta-confined maintenance equals the full recompute") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    // three components: A = triangle 1-2-3 with tail 3-4, B = 4-clique
    // 10..13 (untouched — the pass-through probe), C = path 20-21-22
    val compA = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val compB = clique(Seq(10L, 11L, 12L, 13L))
    val compC = Seq((20L, 21L), (21L, 22L))
    val base = (compA ++ compB ++ compC).toDF("src", "dst")
    val oldCore = Traversals.coreness(base)
    // delta: close A's tail into a 4-cycle (1,4) — coreness rises —
    // attach a brand-new vertex (4,5), and delete C's edge (20,21)
    val inserts = Seq((1L, 4L), (4L, 5L)).toDF("src", "dst")
    val deletes = Seq((20L, 21L)).toDF("src", "dst")
    val net = (compA ++ compB ++ Seq((21L, 22L), (1L, 4L), (4L, 5L)))
      .toDF("src", "dst")
    val trace = scala.collection.mutable.Buffer.empty[Long]
    val got = Traversals.corenessMaintain(oldCore, base, inserts, deletes,
        trace = Some(trace))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Traversals.coreness(net).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full, s"got $got, want $full")
    // vertex 20 lost its only edge and leaves the decomposition; the
    // new vertex 5 enters at coreness 1; A rose to 2 everywhere
    assert(!got.contains(20L) && got(5L) == 1L && got(4L) == 2L)
    // DELTA CONFINEMENT: the recompute touched supergraph components
    // A∪{5} (5 verts) and C (3 verts) — never B's 4
    assert(trace.head == 8L, s"affected count ${trace.head} — B leaked in")
    // empty delta: pure pass-through, zero affected vertices
    val t2 = scala.collection.mutable.Buffer.empty[Long]
    val noop = Traversals.corenessMaintain(oldCore, base,
        Seq.empty[(Long, Long)].toDF("src", "dst"),
        Seq.empty[(Long, Long)].toDF("src", "dst"), trace = Some(t2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == Traversals.coreness(base).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(t2.head == 0L)
    // pure-decremental: dismantle the 4-clique edge by edge — values
    // only fall, seeds start at min(deg, old) with bIns = 0
    val del2 = Seq((10L, 11L), (12L, 13L)).toDF("src", "dst")
    val net2 = (compA ++ clique(Seq(10L, 11L, 12L, 13L))
      .filterNot(e => e == (10L, 11L) || e == (12L, 13L)) ++ compC)
      .toDF("src", "dst")
    val got2 = Traversals.corenessMaintain(oldCore, base,
        Seq.empty[(Long, Long)].toDF("src", "dst"), del2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Traversals.coreness(net2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // tombstone-wins precedence: an edge in BOTH deltas is dead
    // (net = (old ∪ inserts) ∖ deletes)
    val both = Seq((1L, 4L)).toDF("src", "dst")
    val got3 = Traversals.corenessMaintain(oldCore, base, both, both)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Traversals.coreness(base).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // r12 scale-adaptive A/B: forcing the distributed rounds
    // (bar 0) must reproduce the one-task peel bit-for-bit
    val gotRounds = atBarZero(Traversals.corenessMaintain(oldCore, base, inserts, deletes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotRounds == got)
    // fail-loud on an exhausted round budget (a round-path contract —
    // the one-task peel has no rounds to exhaust)
    intercept[IllegalArgumentException](atBarZero(
      Traversals.corenessMaintain(oldCore, base, inserts, deletes, maxRounds = 0)))
  }

  test("densestSubgraph peels to the clique and flags the best round") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    // K5 + pendant path 5-10-11: round 0 = whole graph (n=7, m=12,
    // avg=24/7, (11/10)avg≈3.77 → 10 and 11 peel, clique survives);
    // round 1 = K5 (n=5, m=10, all deg 4 ≤ 4.4 → empty). Density
    // 10/5 = 2 > 12/7 → round 1 is best
    val g = (clique(Seq(1L, 2L, 3L, 4L, 5L)) ++ Seq((5L, 10L), (10L, 11L)))
      .toDF("src", "dst")
    val rows = graft.operators.Traversals.densestSubgraph(g)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (0L, 7L, 12L, 12000000L / 7L, 0L),
      (1L, 5L, 10L, 2000000L, 1L)), s"got ${rows.toSeq}")
    // fail-loud contract: a round budget too small to finish throws —
    // round path eagerly at call time (its loop runs driver-side);
    // one-task leg at action time inside the task (documented
    // divergence: equally loud at the sink, later and wrapped)
    intercept[IllegalArgumentException](atBarZero(
      graft.operators.Traversals.densestSubgraph(g, maxRounds = 1)))
    val exL = intercept[Exception] {
      graft.operators.Traversals.densestSubgraph(g, maxRounds = 1).collect()
    }
    assert(exL.getMessage.contains("raise maxRounds"))
  }

  test("temporalBfs respects time order and propagates improvements") {
    import spark.implicits._
    // 2-3 fires (t=3) BEFORE information reaches 2 (t=5) → 3 is NOT
    // temporally reachable even though it is statically connected.
    // 5 is first settled at t=7 via the short path 1-2-4-5 (round 3),
    // then IMPROVED to t=2 by the longer early path 1-8-9-10-5
    // (round 4) — which must REOPEN 5-6 (t=6 ≥ 2), an edge the first
    // relaxation correctly rejected (6 < 7)
    val te = Seq(
      (1L, 2L, 5L), (2L, 3L, 3L), (2L, 4L, 7L),
      (4L, 5L, 7L), (5L, 6L, 6L),
      (1L, 8L, 1L), (8L, 9L, 1L), (9L, 10L, 2L), (10L, 5L, 2L))
      .toDF("src", "dst", "t")
    val got = graft.operators.Traversals.temporalBfs(te, 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> -1L, 2L -> 5L, 4L -> 7L, 5L -> 2L, 6L -> 6L,
      8L -> 1L, 9L -> 1L, 10L -> 2L), s"got $got")
    intercept[IllegalArgumentException](atBarZero(
      graft.operators.Traversals.temporalBfs(te, 1L, maxRounds = 1)))
  }

  test("temporalDeparture: max-relax dual, increases reopen edges") {
    import spark.implicits._
    // target 1, deadline 100. 5 first settles LOW (lt=1 via the early
    // chain 5-6-1, round 2), then INCREASES to 7 via the long late
    // chain 5-4-3-2-1 (round 4) — which must reopen (7,5,4), an edge
    // round 3 correctly rejected (4 > 1)
    val te = Seq(
      (2L, 1L, 10L), (3L, 2L, 9L), (4L, 3L, 8L), (5L, 4L, 7L),
      (6L, 1L, 2L), (5L, 6L, 1L), (7L, 5L, 4L))
      .toDF("src", "dst", "t")
    val got = graft.operators.Traversals.temporalDeparture(te, 1L, 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 100L, 2L -> 10L, 3L -> 9L, 4L -> 8L,
      5L -> 7L, 6L -> 2L, 7L -> 4L), s"got $got")
    intercept[IllegalArgumentException](atBarZero(
      graft.operators.Traversals.temporalDeparture(te, 1L, 100L, maxRounds = 1)))
  }

  test("landmarkDistances: multi-source BFS equals per-landmark BFS") {
    import spark.implicits._
    // two components: a 6-cycle with a chord (hub 2) and a path 10-11-12
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (2L, 5L), (10L, 11L), (11L, 12L))
    val edges = es.toDF("src", "dst")
    val idx = graft.operators.Traversals.landmarkDistances(edges, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // landmarks = top-3 by symmetric degree, ties by min id
    val sym = (es ++ es.map(e => (e._2, e._1))).distinct
    val deg = sym.groupBy(_._1).map { case (u, vs) => u -> vs.size }
    val lms = deg.toSeq.sortBy { case (id, d) => (-d, id) }.take(3).map(_._1)
    val adj = sym.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
    val expected = lms.flatMap { lm =>
      var dist = Map(lm -> 0L)
      var frontier = Set(lm)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj(_)).diff(dist.keySet)
        val d = dist(frontier.head) + 1
        dist ++= next.map(_ -> d)
        frontier = next
      }
      dist.map { case (v, d) => (lm, v, d) }
    }.toSet
    assert(idx == expected)
    // served estimates: upper bound, exact when a landmark is on a
    // shortest path; pairs outside landmark components drop
    val est = graft.operators.Traversals.landmarkEstimates(
        graft.operators.Traversals.landmarkDistances(edges, 3),
        Seq((1L, 4L), (3L, 6L), (1L, 10L)).toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // all 3 landmarks land in the 6-cycle component (degrees 2-4 vs the
    // path's 1-2), so (1,10) has no shared landmark and drops
    assert(est.map(t => (t._1, t._2)) == Set((1L, 4L), (3L, 6L)))
    est.foreach { case (a, b, d) =>
      // true distances: d(1,4)=2 via hub 2->5? 1-2-5-4 is 3; 1-2-3-4 is 3;
      // cycle 1-6-5-4 is 3 — shortest is 3. d(3,6): 3-2-1-6 =3, 3-4-5-6=3,
      // 3-2-5-6=3 — shortest 3. Estimates must be >= the true distance.
      assert(d >= 3 && d <= 6, s"estimate out of band: ($a,$b,$d)")
    }
  }

  /** In-JVM multi-source BFS over a symmetric adjacency — the expected
    * value for the landmark persist/maintain specs.
    */
  private def bfsIndex(es: Seq[(Long, Long)], lms: Seq[Long]): Set[(Long, Long, Long)] = {
    val sym = (es ++ es.map(e => (e._2, e._1))).filter(e => e._1 != e._2).distinct
    val adj = sym.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
      .withDefaultValue(Set.empty[Long])
    lms.flatMap { lm =>
      var dist = Map(lm -> 0L)
      var frontier = Set(lm)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj(_)).diff(dist.keySet)
        val d = dist(frontier.head) + 1
        dist ++= next.map(_ -> d)
        frontier = next
      }
      dist.map { case (v, d) => (lm, v, d) }
    }.toSet
  }

  test("landmark index persist/load: fresh-session serving from the table, no BFS") {
    import spark.implicits._
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (2L, 5L), (10L, 11L), (11L, 12L))
    val idx = graft.operators.Traversals.landmarkDistances(es.toDF("src", "dst"), 3)
    graft.operators.Traversals.saveLandmarkIndex(idx, "graft_lm_spec_idx", nBuckets = 4)
    val fresh = spark.newSession()
    val loaded = graft.operators.Traversals.loadLandmarkIndex(fresh, "graft_lm_spec_idx")
    // round-trips exactly
    val got = loaded.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = idx.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == direct)
    // serving reads the catalog table — no frontier iteration anywhere
    // in the plan (a table scan + two joins + one aggregate). Pairs are
    // built IN the fresh session (cross-session plans cannot join)
    val served = graft.operators.Traversals.landmarkEstimates(
      loaded, fresh.sql(
        "SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b " +
          "FROM VALUES (1, 4), (3, 6) AS t(a, b)"))
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("graft_lm_spec_idx"), plan.take(800))
    val inMem = graft.operators.Traversals.landmarkEstimates(
        idx, Seq((1L, 4L), (3L, 6L)).toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == inMem)
  }

  test("landmarkMaintainInserts: relaxation equals a fresh BFS over the grown graph") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (2L, 5L), (10L, 11L), (11L, 12L))
    val edges = base.toDF("src", "dst")
    val idx = graft.operators.Traversals.landmarkDistances(edges, 3)
    // landmarks of the BASE graph (fixed under maintenance)
    val lms = idx.where($"dist" === 0).select("lm").collect().map(_.getLong(0)).toSeq
    // the delta exercises every maintenance mode: a shortcut inside the
    // indexed component (1,4), a bridge that makes the 10-11-12 path
    // REACHABLE from the cycle landmarks (6,10), a new leaf hanging off
    // the newly-reached path (12,13), and a disconnected island (20,21)
    // that must stay absent
    val delta = Seq((1L, 4L), (6L, 10L), (12L, 13L), (20L, 21L))
    val grown = base ++ delta
    val maintained = graft.operators.Traversals.landmarkMaintainInserts(
        idx, grown.toDF("src", "dst"), delta.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(maintained == bfsIndex(grown, lms))
    // r12 scale-adaptive A/B: forcing the distributed relaxation
    // (bar 0) must reproduce the one-task BFS twin bit-for-bit
    val maintainedRounds = atBarZero(graft.operators.Traversals.landmarkMaintainInserts(
        idx, grown.toDF("src", "dst"), delta.toDF("src", "dst")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(maintainedRounds == maintained)
    // a no-op delta (re-inserting existing edges) changes nothing
    val noop = graft.operators.Traversals.landmarkMaintainInserts(
        idx, edges, Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(noop == bfsIndex(base, lms))
    // fail-loud when the relaxation budget is outlived mid-propagation
    intercept[IllegalArgumentException](atBarZero(
      graft.operators.Traversals.landmarkMaintainInserts(
        idx, grown.toDF("src", "dst"), delta.toDF("src", "dst"), maxIter = 1)))
  }

  test("landmarkMaintainDeletes: cascade + repair equals a fresh BFS over the shrunk graph") {
    import spark.implicits._
    // a long path 1-..-6 hanging off a 3-cycle 1-2-7, plus a square
    // 10-11-12-13 with a diagonal, plus a pendant pair 20-21 attached
    // to the path at 3 — built so deletions exercise every mode below
    val base = Seq((1L, 2L), (2L, 7L), (7L, 1L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (3L, 20L), (20L, 21L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), (10L, 12L))
    val edges = base.toDF("src", "dst")
    val idx = graft.operators.Traversals.landmarkDistances(edges, 3)
    val lms = idx.where($"dist" === 0).select("lm").collect().map(_.getLong(0)).toSeq
    def maintained(dels: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
      graft.operators.Traversals.landmarkMaintainDeletes(
          idx, edges, dels.toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def fresh(dels: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
      bfsIndex(base.filterNot(e =>
        dels.contains(e) || dels.contains((e._2, e._1))), lms)
    // deep cascade: cutting (2,3) re-routes the whole tail 4-5-6 AND
    // the pendant pair — distances grow by the detour or vanish
    assert(maintained(Seq((2L, 3L))) == fresh(Seq((2L, 3L))))
    // disconnection: cutting both (3,20) and... cutting (3,20) strands
    // 20-21 entirely — their rows must DROP
    val m2 = maintained(Seq((3L, 20L)))
    assert(m2 == fresh(Seq((3L, 20L))))
    assert(!m2.exists(t => t._2 == 20L || t._2 == 21L))
    // alternate equal-length path: the square's diagonal (10,12) is
    // redundant for unit distances — nothing changes
    assert(maintained(Seq((10L, 12L))) == fresh(Seq((10L, 12L))))
    // absent-edge delete: pure no-op
    assert(maintained(Seq((1L, 99L))) ==
      idx.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // multi-delete touching several landmarks' trees at once
    val multi = Seq((2L, 3L), (13L, 10L))
    assert(maintained(multi) == fresh(multi))
    // r12 scale-adaptive A/B: the distributed cascade+repair path must
    // reproduce the one-task BFS twin bit-for-bit
    assert(atBarZero(graft.operators.Traversals.landmarkMaintainDeletes(
        idx, edges, multi.toDF("src", "dst")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == maintained(multi))
    // fail-loud on an exhausted cascade/relaxation budget
    intercept[IllegalArgumentException](atBarZero(
      graft.operators.Traversals.landmarkMaintainDeletes(
        idx, edges, Seq((2L, 3L)).toDF("src", "dst"), maxIter = 1)))
  }

  test("CDC composition (q239): insert relaxation then delete cascade equals a fresh BFS over the net graph") {
    import spark.implicits._
    // cycle + tail + island, landmarks picked on the BASE graph
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (2L, 5L), (10L, 11L), (11L, 12L))
    val idx = graft.operators.Traversals.landmarkDistances(base.toDF("src", "dst"), 3)
    val lms = idx.where($"dist" === 0).select("lm").collect().map(_.getLong(0)).toSeq
    // resolved changelog: alive keys include a RESURRECTION (1,2) that
    // is already in the base (must be a no-op), a bridge (6,10) and a
    // leaf (12,13); tombstoned keys cut the shortcut (2,5) and strand
    // nothing. alive ∩ tombstoned = ∅ (latest-wins resolution)
    val ins = Seq((1L, 2L), (6L, 10L), (12L, 13L))
    val dels = Seq((2L, 5L), (3L, 4L))
    val grown = (base ++ ins).distinct
    val net = grown.filterNot(e => dels.contains(e) || dels.contains(e.swap))
    val afterIns = graft.operators.Traversals.landmarkMaintainInserts(
      idx, grown.toDF("src", "dst"), ins.toDF("src", "dst"))
    val fin = graft.operators.Traversals.landmarkMaintainDeletes(
        afterIns, grown.toDF("src", "dst"), dels.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fin == bfsIndex(net, lms))
    // empty delta: both legs compose to the identity
    val same = graft.operators.Traversals.landmarkMaintainDeletes(
        graft.operators.Traversals.landmarkMaintainInserts(
          idx, base.toDF("src", "dst"),
          spark.emptyDataset[(Long, Long)].toDF("src", "dst")),
        base.toDF("src", "dst"),
        spark.emptyDataset[(Long, Long)].toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(same == bfsIndex(base, lms))
  }

  private def densestRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  test("densestByComponent: per-component thresholds, connected ≡ global") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    // connected graph: component-local rows must be exactly the global
    // peel's rows keyed by the single min-label component
    val g1 = (clique(Seq(1L, 2L, 3L, 4L, 5L)) ++ Seq((5L, 10L), (10L, 11L)))
      .toDF("src", "dst")
    val global = graft.operators.Traversals.densestSubgraph(g1).collect()
      .map(r => (1L, r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(densestRows(graft.operators.Traversals.densestByComponent(g1)) == global)
    // two components: K4 on {1..4} + a 4-path on {20..23}, each judged
    // against ITS OWN average degree. K4: deg 3, 10·3·4=120 ≤ 11·12=132
    // → peels in one round, best = round 0 (density 6/4). Path: round 0
    // keeps the interior {21,22} (10·2·4=80 > 11·6=66), round 1 drops
    // them (10·1·2=20 ≤ 11·2=22); round 0's 3/4 beats round 1's 1/2.
    val g2 = (clique(Seq(1L, 2L, 3L, 4L)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 23L))).toDF("src", "dst")
    val got = densestRows(graft.operators.Traversals.densestByComponent(g2))
    assert(got == Set(
      (1L, 0L, 4L, 6L, 1500000L, 1L),
      (20L, 0L, 4L, 3L, 750000L, 1L),
      (20L, 1L, 2L, 1L, 500000L, 0L)), s"got $got")
    // edgeless input: empty result, not a crash
    assert(graft.operators.Traversals.densestByComponent(
      Seq.empty[(Long, Long)].toDF("src", "dst")).isEmpty)
    // fail-loud on an exhausted round budget (round path eagerly at
    // call; one-task leg at action, wrapped in the task failure)
    intercept[IllegalArgumentException](atBarZero(
      graft.operators.Traversals.densestByComponent(g1, maxRounds = 1)))
    val exL = intercept[Exception] {
      graft.operators.Traversals.densestByComponent(g1, maxRounds = 1).collect()
    }
    assert(exL.getMessage.contains("raise maxRounds"))
  }

  test("densestMaintain: pass-through + recompute ≡ fresh peel of the net graph") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    def df(p: Seq[(Long, Long)]) = p.toDF("src", "dst")
    def fresh(net: Seq[(Long, Long)]) =
      densestRows(graft.operators.Traversals.densestByComponent(df(net)))
    // three components: K5 {1..5}+pendant, K4 {20..23}, path {40..43}
    val cA = clique(Seq(1L, 2L, 3L, 4L, 5L)) ++ Seq((5L, 10L), (10L, 11L))
    val cB = clique(Seq(20L, 21L, 22L, 23L))
    val cC = Seq((40L, 41L), (41L, 42L), (42L, 43L))
    val base = cA ++ cB ++ cC
    val old = graft.operators.Traversals.densestByComponent(df(base))
    // RISE: densify the path component; only it should recompute
    val ins = Seq((40L, 42L), (40L, 43L), (41L, 43L))
    val trace = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rise = graft.operators.Traversals.densestMaintain(
      old, df(base), df(ins), df(Seq.empty), trace = Some(trace))
    assert(densestRows(rise) == fresh(base ++ ins))
    assert(trace.head == 4L, s"affected=${trace.head}") // only {40..43}
    // FALL: delete inside the K4; K5 and path pass through
    val fall = graft.operators.Traversals.densestMaintain(
      old, df(base), df(Seq.empty), df(Seq((20L, 21L))))
    assert(densestRows(fall) == fresh(base.filterNot(_ == (20L, 21L))))
    // MERGE: an insert bridging K4 and the path affects BOTH
    val merge = graft.operators.Traversals.densestMaintain(
      old, df(base), df(Seq((23L, 40L))), df(Seq.empty))
    assert(densestRows(merge) == fresh(base :+ (23L, 40L)))
    // EMPTY delta: identity
    val idem = graft.operators.Traversals.densestMaintain(
      old, df(base), df(Seq.empty), df(Seq.empty))
    assert(densestRows(idem) == densestRows(old))
    // tombstone wins: the same key inserted AND deleted is dead
    val both = graft.operators.Traversals.densestMaintain(
      old, df(base), df(Seq((40L, 42L))), df(Seq((40L, 42L))))
    assert(densestRows(both) == fresh(base))
  }
}
