package graft

import graft.operators.{ConnectedComponents, SummaryAggregations}
import graft.summaries.{DisjointSet, ParityDisjointSet}

/** Merge-law property tests for the graph summaries (SURVEY §5.3) plus
  * end-to-end checks of the summary aggregations on known graphs.
  * Properties run over seeded random edge lists (deterministic).
  */
class SummarySpec extends SparkTestBase {

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val ds = new DisjointSet
    edges.foreach { case (a, b) => ds.union(a, b) }
    ds.components
  }

  private def randomEdges(rnd: scala.util.Random, n: Int): List[(Long, Long)] =
    List.fill(n) {
      val a = rnd.nextInt(30).toLong
      var b = rnd.nextInt(30).toLong
      if (a == b) b = (a + 1) % 30
      (a, b)
    }

  test("CC.auto: both sides of the size switch equal iterative and singlePass") {
    // the r12 scale-adaptive subroutine entry point must be invisible:
    // force each branch on the same multi-component graph and pin all
    // four outputs equal
    import spark.implicits._
    val es = (for {
      i <- 0L until 200L
      b = i % 3
    } yield (b * 500L + (i * 37L) % 40L, b * 500L + (i * 61L + 7L) % 40L))
      .filter { case (a, b) => a != b }
    val df = es.toDF("src", "dst")
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val it = m(ConnectedComponents.iterative(df))
    assert(m(ConnectedComponents.singlePass(df)) == it)
    assert(m(ConnectedComponents.auto(df)) == it) // small side: singlePass
    assert(m(atBarZero(ConnectedComponents.auto(df))) == it) // forced iterative
  }

  test("union-find result is invariant under edge order (100 seeded trials)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 100) {
      val edges = randomEdges(rnd, rnd.nextInt(40))
      val shuffled = rnd.shuffle(edges)
      assert(ccOf(edges) == ccOf(shuffled))
    }
  }

  test("disjoint-set merge is commutative and matches sequential fold") {
    val rnd = new scala.util.Random(13)
    def build(es: Seq[(Long, Long)]) = {
      val d = new DisjointSet; es.foreach { case (a, b) => d.union(a, b) }; d
    }
    for (_ <- 1 to 100) {
      val e1 = randomEdges(rnd, rnd.nextInt(30))
      val e2 = randomEdges(rnd, rnd.nextInt(30))
      val seq = build(e1 ++ e2).components
      assert(build(e1).mergeFrom(build(e2)).components == seq)
      assert(build(e2).mergeFrom(build(e1)).components == seq)
    }
  }

  test("parity union-find: odd cycle detected regardless of merge split") {
    val odd = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val even = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    def biOf(edges: Seq[(Long, Long)]): Boolean = {
      val p = new ParityDisjointSet
      edges.foreach { case (a, b) => p.addEdge(a, b) }
      p.isBipartite
    }
    assert(!biOf(odd) && biOf(even))
    for (i <- odd.indices) {
      val (l, r) = odd.splitAt(i)
      val pl = new ParityDisjointSet; l.foreach { case (a, b) => pl.addEdge(a, b) }
      val pr = new ParityDisjointSet; r.foreach { case (a, b) => pr.addEdge(a, b) }
      assert(!pl.mergeFrom(pr).isBipartite, s"split at $i")
    }
  }

  test("bipartiteness merge matches sequential on random graphs") {
    val rnd = new scala.util.Random(29)
    def build(es: Seq[(Long, Long)]) = {
      val p = new ParityDisjointSet; es.foreach { case (a, b) => p.addEdge(a, b) }; p
    }
    for (_ <- 1 to 100) {
      val e1 = randomEdges(rnd, rnd.nextInt(25))
      val e2 = randomEdges(rnd, rnd.nextInt(25))
      val seq = build(e1 ++ e2).isBipartite
      assert(build(e1).mergeFrom(build(e2)).isBipartite == seq)
      assert(build(e2).mergeFrom(build(e1)).isBipartite == seq)
    }
  }

  test("connectedComponents aggregation on a two-component graph") {
    val edges = edgeDf(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    val cc = SummaryAggregations.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("bipartiteness aggregation over Spark partitions") {
    assert(SummaryAggregations.bipartiteness(
      edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))).head.getBoolean(0))
    assert(!SummaryAggregations.bipartiteness(
      edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L)))).head.getBoolean(0))
  }

  test("iterative bipartiteness equals single-pass on seeded graphs and fixtures") {
    val rnd = new scala.util.Random(101)
    for (trial <- 1 to 15) {
      val edges = randomEdges(rnd, 3 + rnd.nextInt(25))
      val df = edgeDf(edges)
      val sp = graft.operators.Bipartiteness.singlePass(df).head.getBoolean(0)
      val it = graft.operators.Bipartiteness.iterative(df).head.getBoolean(0)
      assert(sp == it, s"trial $trial edges=$edges")
    }
    // fixtures: E bipartite by construction, C has triangles
    val e = graft.model.GraphFixtures.edgeStream(spark, sf)
    assert(graft.operators.Bipartiteness.iterative(e).head.getBoolean(0))
    val c = graft.model.GraphFixtures.coPurchase(spark, sf)
    assert(!graft.operators.Bipartiteness.iterative(c).head.getBoolean(0))
  }

  private def bipRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("per-component bipartiteness: mixed verdicts, self-loops, global consistency") {
    import spark.implicits._
    // three components: a 4-cycle (bipartite), a triangle (odd cycle),
    // and a 2-path (bipartite)
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L)).toDF("src", "dst")
    val got = bipRows(graft.operators.Bipartiteness.bipartitenessByComponent(g))
    assert(got == Map(1L -> 1L, 10L -> 0L, 20L -> 1L), s"got $got")
    // a self-loop is an odd cycle (the `iterative` contract)
    val loop = Seq((30L, 30L), (40L, 41L)).toDF("src", "dst")
    assert(bipRows(graft.operators.Bipartiteness.bipartitenessByComponent(loop))
      == Map(30L -> 0L, 40L -> 1L))
    // edgeless input: empty, not a crash
    assert(graft.operators.Bipartiteness.bipartitenessByComponent(
      Seq.empty[(Long, Long)].toDF("src", "dst")).isEmpty)
    // global consistency on seeded graphs: AND of per-component
    // verdicts == the single-boolean operator
    val rnd = new scala.util.Random(202)
    for (trial <- 1 to 10) {
      val edges = randomEdges(rnd, 3 + rnd.nextInt(25))
      val df = edgeDf(edges)
      val perComp = bipRows(
        graft.operators.Bipartiteness.bipartitenessByComponent(df))
      val global = graft.operators.Bipartiteness.iterative(df).head.getBoolean(0)
      assert(perComp.values.forall(_ == 1L) == global, s"trial $trial edges=$edges")
    }
  }

  test("bipartiteness maintenance: deletions can flip a verdict back; equals fresh recompute") {
    import spark.implicits._
    def df(p: Seq[(Long, Long)]) = p.toDF("src", "dst")
    def fresh(net: Seq[(Long, Long)]) =
      bipRows(graft.operators.Bipartiteness.bipartitenessByComponent(df(net)))
    // base: triangle {1,2,3} (odd), 4-cycle {10..13} (even), path {20,21}
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), (20L, 21L))
    val old = graft.operators.Bipartiteness.bipartitenessByComponent(df(base))
    // DELETE an edge of the triangle: the component flips back to
    // bipartite — the direction incremental parity state cannot take
    val trace = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fall = graft.operators.Bipartiteness.bipartitenessMaintain(
      old, df(base), df(Seq.empty), df(Seq((3L, 1L))), trace = Some(trace))
    assert(bipRows(fall) == fresh(base.filterNot(_ == (3L, 1L))))
    assert(bipRows(fall)(1L) == 1L) // the flip actually happened
    assert(trace.head == 3L)        // only the triangle was touched
    // INSERT a chord making the 4-cycle odd; triangle + path untouched
    val rise = graft.operators.Bipartiteness.bipartitenessMaintain(
      old, df(base), df(Seq((10L, 12L))), df(Seq.empty))
    assert(bipRows(rise) == fresh(base :+ (10L, 12L)))
    assert(bipRows(rise)(10L) == 0L)
    // MERGE: bridge the triangle and the path — both recompute as one
    val merge = graft.operators.Bipartiteness.bipartitenessMaintain(
      old, df(base), df(Seq((3L, 20L))), df(Seq.empty))
    assert(bipRows(merge) == fresh(base :+ (3L, 20L)))
    // EMPTY delta: identity; tombstone wins on insert∧delete
    assert(bipRows(graft.operators.Bipartiteness.bipartitenessMaintain(
      old, df(base), df(Seq.empty), df(Seq.empty))) == bipRows(old))
    assert(bipRows(graft.operators.Bipartiteness.bipartitenessMaintain(
      old, df(base), df(Seq((10L, 12L))), df(Seq((10L, 12L))))) == fresh(base))
  }

  test("incremental CC equals full recompute when the delta merges components") {
    import spark.implicits._
    // old graph: two separate chains {1-2-3} and {10-11}; a singleton 20
    val old = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L)).toDF("src", "dst")
    // delta: a bridge 3-10 (merges the chains) and a brand-new pair 30-31
    val delta = Seq((3L, 10L), (30L, 31L)).toDF("src", "dst")
    val labels = ConnectedComponents.iterative(old)
    val inc = ConnectedComponents.incremental(labels, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = ConnectedComponents.iterative(old.unionByName(delta))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
    // the merge actually happened: both chains share one min label…
    assert(inc(11L) === 1L && inc(3L) === 1L)
    // …new-in-delta vertices appear, and untouched components persist
    assert(inc(30L) === 30L && inc(31L) === 30L && inc(20L) === 20L)
  }

  test("decremental CC: bridge deletion splits, cycle deletion is a no-op") {
    import spark.implicits._
    // component A: a 4-cycle 1-2-3-4 plus bridge 4-5 to a tail {5,6};
    // component B: pair {10,11}; deleting the bridge splits A, deleting
    // a cycle edge does not, and B must pass through untouched verbatim
    val old = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L), (5L, 6L),
      (10L, 11L)).toDF("src", "dst")
    val labels = ConnectedComponents.iterative(old)
    def full(deleted: Seq[(Long, Long)]): Map[Long, Long] = {
      val d = deleted.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val kept = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L), (5L, 6L), (10L, 11L))
        .filterNot(e => d.contains(e))
      val cc = ConnectedComponents.iterative(kept.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (1L to 6L).map(v => v -> cc.getOrElse(v, v)).toMap ++
        Seq(10L, 11L).map(v => v -> cc.getOrElse(v, v))
    }
    def dec(deleted: Seq[(Long, Long)]): Map[Long, Long] =
      ConnectedComponents.decremental(labels, old, deleted.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bridge split: {1..4} keep label 1, {5,6} re-root at 5 — direction
    // of the delete row is intentionally flipped vs the stored edge
    val split = dec(Seq((5L, 4L)))
    assert(split === full(Seq((4L, 5L))))
    assert(split(5L) === 5L && split(6L) === 5L && split(4L) === 1L)
    // cycle edge: connectivity unchanged, labels identical to before
    val noop = dec(Seq((2L, 3L)))
    assert(noop === full(Seq((2L, 3L))))
    assert(noop === labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // deleting an absent edge touches nothing
    assert(dec(Seq((1L, 99L))) === labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // isolating deletion: dropping BOTH tail edges leaves 5 and 6 as
    // their own singletons
    val iso = dec(Seq((4L, 5L), (5L, 6L)))
    assert(iso === full(Seq((4L, 5L), (5L, 6L))))
    assert(iso(5L) === 5L && iso(6L) === 6L)
  }

  test("decrementalPartitioned: identical labels via a partition-pruned carve-out") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two components: a 6-cycle-with-tail and a pair; delete the tail
    // bridge (splits) and a cycle edge (no-op)
    val old = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L), (5L, 6L),
      (10L, 11L)).toDF("src", "dst")
    val labels = ConnectedComponents.iterative(old)
    val deleted = Seq((5L, 4L), (2L, 3L)).toDF("src", "dst")
    // deployment layout: edges tagged with their component, one hive
    // directory per component (the natural post-CC layout)
    val tagged = old.join(labels.toDF("src", "component"), Seq("src"))
    val path = java.nio.file.Files.createTempDirectory("graft-cc-layout").toString
    graft.sources.Sources.writePartitioned(tagged, path, "component",
      orderCols = Seq("src", "dst"))
    val byComp = spark.read.parquet(path)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val part = toMap(ConnectedComponents.decrementalPartitioned(labels, byComp, deleted))
    val plain = toMap(ConnectedComponents.decremental(labels, old, deleted))
    assert(part === plain)
    // the carve-out read is DIRECTORY-pruned: the operator pushes the
    // affected ids as a static isin on the partition column — assert
    // the mechanism on the identical read pattern
    val affectedIds = deleted.join(labels.toDF("src", "c"), Seq("src"))
      .select("c").distinct().as[Long].collect()
    val pruned = byComp.where(col("component").isin(affectedIds.map(Long.box): _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    // only the affected component's directory is listed in the scan
    val leaves = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!leaves.contains("component=10"), leaves.take(300))
    // mass-retraction fence: past maxIsinLiterals the affected set stays
    // distributed (broadcast left-semi on the partition column — no
    // plan-size cliff) and the labels are identical to the isin path
    val fallback = toMap(ConnectedComponents.decrementalPartitioned(
      labels, byComp, deleted, maxIsinLiterals = 0))
    assert(fallback === plain)
  }

  test("decremental CC equals full recompute on random graphs and deltas") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 8) {
      val n = 4 + rnd.nextInt(20)
      val edges = (0 until (n * 2)).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        val deleted = edges.filter(_ => rnd.nextBoolean())
        val old = edgeDf(edges)
        val labels = ConnectedComponents.iterative(old)
        val dec = ConnectedComponents.decremental(labels, old, edgeDf(deleted))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val dset = deleted.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
        val kept = edges.filterNot { case (a, b) =>
          dset.contains((math.min(a, b), math.max(a, b))) }
        val cc =
          if (kept.isEmpty) Map.empty[Long, Long]
          else ConnectedComponents.iterative(edgeDf(kept))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val verts = edges.flatMap(e => Seq(e._1, e._2)).toSet
        val want = verts.map(v => v -> cc.getOrElse(v, v)).toMap
        assert(dec === want, s"trial $trial edges=$edges deleted=$deleted")
      }
    }
  }

  test("sync label propagation finds the two planted cliques") {
    import spark.implicits._
    // two 4-cliques bridged by one edge: LPA should settle on one label
    // per clique (the clique's min id) within 3 rounds
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 10L))).toDF("src", "dst")
    val out = graft.operators.Communities.labelPropagation(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = Seq(1L, 2L, 3L, 4L).map(out)
    val c2 = Seq(10L, 11L, 12L, 13L).map(out)
    assert(c1.toSet.size == 1 && c2.toSet.size == 1, s"labels: $out")
    assert(c1.head != c2.head)
    // deterministic across runs
    val again = graft.operators.Communities.labelPropagation(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
  }

  test("Louvain refine pass never decreases modularity and strictly improves a bad labeling") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Communities
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 10L))).toDF("src", "dst")
    // the monotonicity contract vs the LPA labeling (the q112 shape)
    val lpa = Communities.labelPropagation(edges, 3)
    val refined = Communities.modularityRefine(edges, lpa)
    assert(Communities.integerModularity(edges, refined) >=
      Communities.integerModularity(edges, lpa))
    // a singleton start is a BAD labeling (Q ingredients all zero
    // internal): one greedy pass must strictly improve it
    val singletons = edges.select(col("src").as("id"))
      .union(edges.select(col("dst"))).distinct()
      .withColumn("label", col("id"))
    val fromSingles = Communities.modularityRefine(edges, singletons)
    assert(Communities.integerModularity(edges, fromSingles) >
      Communities.integerModularity(edges, singletons))
    // deterministic across runs
    val again = Communities.modularityRefine(edges, Communities.labelPropagation(edges, 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // and on the sf fixture graph, refining the real q110 labeling
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val l = Communities.labelPropagation(c10, 3)
    assert(Communities.integerModularity(c10, Communities.modularityRefine(c10, l)) >=
      Communities.integerModularity(c10, l))
  }

  test("multi-level Louvain: per-pass modularity never decreases, merges the planted communities") {
    import spark.implicits._
    import graft.operators.Communities
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    // two triangles joined by a bridge: the parity-alternating passes
    // must merge each triangle (sync moves without the parity gate swap
    // labels here instead) and keep them apart across the bridge
    val tri = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(4L, 5L, 6L)) ++
      Seq((3L, 4L))).toDF("src", "dst")
    val (lab, hist) = Communities.louvainDetail(tri, 2, 2)
    assert(hist == hist.sorted, s"modularity history decreased: $hist")
    val m = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L) && m(2L) == m(3L), s"labels: $m")
    assert(m(4L) == m(5L) && m(5L) == m(6L), s"labels: $m")
    assert(m(1L) != m(4L), s"labels: $m")
    // two 4-cliques: coarsening must not merge across the bridge either
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 10L))).toDF("src", "dst")
    val (lab2, hist2) = Communities.louvainDetail(edges, 2, 2)
    assert(hist2 == hist2.sorted, s"modularity history decreased: $hist2")
    val m2 = lab2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(m2).toSet.size == 1, s"labels: $m2")
    assert(Seq(10L, 11L, 12L, 13L).map(m2).toSet.size == 1, s"labels: $m2")
    assert(m2(1L) != m2(10L), s"labels: $m2")
    // determinism across runs + history on the sf fixture graph
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val (labA, histA) = Communities.louvainDetail(c10, 2, 2)
    assert(histA == histA.sorted, s"modularity history decreased: $histA")
    val a = labA.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Communities.louvain(c10, 2, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("weighted Louvain: edge weights steer the community assignment") {
    import spark.implicits._
    import graft.operators.Communities
    // vertex 1 hangs off a triangle {2,3,4} by a bridge 1-2. With unit
    // weights the triangle absorbs 2 and the bridge vertex joins it (one
    // community maximizes Q on this tiny graph); with a HEAVY bridge
    // (w=20 vs 1) the assignment must still place 1 with 2 — and the
    // heavy-bridge labeling must differ from a heavy-triangle labeling
    // where the bridge is the light edge, proving the weight column
    // reaches the gain arithmetic
    val heavyBridge = Seq((1L, 2L, 20L), (2L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val hb = Communities.louvainWeighted(heavyBridge).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hb(1L) == hb(2L), s"heavy bridge must bind 1 to 2: $hb")
    val heavyTriangle = Seq((1L, 2L, 1L), (2L, 3L, 20L), (2L, 4L, 20L), (3L, 4L, 20L))
      .toDF("src", "dst", "weight")
    val ht = Communities.louvainWeighted(heavyTriangle).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ht(2L) == ht(3L) && ht(3L) == ht(4L), s"heavy triangle must merge: $ht")
    assert(ht(1L) != ht(2L), s"light bridge vertex must stay out: $ht")
    // parallel edges sum: duplicating a unit edge 20x equals weight 20
    val dup = (Seq.fill(20)((1L, 2L, 1L)) ++
      Seq((2L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 1L))).toDF("src", "dst", "weight")
    val d = Communities.louvainWeighted(dup).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == hb, s"summed parallel edges must equal the weighted form: $d vs $hb")
  }

  test("Leiden refinement: splits disconnected communities, final communities internally connected") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Communities, ConnectedComponents}
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)

    // a labeling that glues two components into one community: the
    // refinement must split it into min-member-named parts and must not
    // lower exact-integer modularity
    val twoParts = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(7L, 8L, 9L))).toDF("src", "dst")
    val g = twoParts.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"), lit(1L).as("w"))
    val glued = Seq(1L, 2L, 3L, 7L, 8L, 9L).toDF("id").withColumn("label", lit(1L))
    val m = 6L
    val refined = Communities.connectivityRefine(g, glued)
    val r = refined.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).map(r).toSet == Set(1L), s"labels: $r")
    assert(Seq(7L, 8L, 9L).map(r).toSet == Set(7L), s"labels: $r")
    assert(Communities.weightedModularity(g, refined, m) >=
      Communities.weightedModularity(g, glued, m))
    // a connected labeling is a fixed point
    val connected = Communities.connectivityRefine(g, refined)
    assert(connected.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap == r)

    // end-to-end: every final louvainLeiden community on the fixture
    // graph is internally connected (CC of each induced subgraph has
    // exactly one component), and the history stays monotone
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val (lab, hist) = Communities.louvainLeidenDetail(c10, 2, 2)
    assert(hist == hist.sorted, s"modularity history decreased: $hist")
    val labDf = lab.toDF("id", "label").cache()
    val intra = c10.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .join(labDf.toDF("u", "la"), Seq("u"))
      .join(labDf.toDF("v", "lb"), Seq("v"))
      .where(col("la") === col("lb") && col("u") =!= col("v"))
      .select(col("u").as("src"), col("v").as("dst"))
    val comps = ConnectedComponents.iterative(intra)
      .join(labDf, Seq("id"))
      .groupBy("label").agg(countDistinct("component").as("nc"))
      .where(col("nc") > 1)
    assert(comps.count() == 0, "louvainLeiden emitted an internally-disconnected community")
    // determinism: the public entry point matches the detail run
    val again = Communities.louvainLeiden(c10, 2, 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(again == lab.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap)
    labDf.unpersist()
  }

  test("component-local Louvain: equals classic Louvain on connected graphs, decomposes on disjoint ones") {
    import spark.implicits._
    import graft.operators.Communities
    def lm(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // connected graph: per-component m IS the global m — bit-equal
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    assert(lm(Communities.louvainByComponent(c10, 2, 2)) ==
      lm(Communities.louvain(c10, 2, 2)))
    // disjoint union: each component's result equals running it alone
    // (the decomposability classic global-m Louvain does NOT have)
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val partA = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 10L))
    val partB = clique(Seq(30L, 31L, 32L)) ++ Seq((32L, 33L), (33L, 34L))
    val both = lm(Communities.louvainByComponent((partA ++ partB).toDF("src", "dst"), 2, 2))
    val aloneA = lm(Communities.louvainByComponent(partA.toDF("src", "dst"), 2, 2))
    val aloneB = lm(Communities.louvainByComponent(partB.toDF("src", "dst"), 2, 2))
    assert(both == aloneA ++ aloneB)
  }

  test("louvainMaintain: rise/fall/merge/empty deltas equal the full per-component recompute") {
    import spark.implicits._
    import graft.operators.Communities
    def lm(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    // three components: two bridged 4-cliques, a triangle+tail, a path
    val compA = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 10L))
    val compB = clique(Seq(30L, 31L, 32L)) ++ Seq((32L, 33L), (33L, 34L))
    val compC = Seq((50L, 51L), (51L, 52L), (52L, 53L))
    val old = (compA ++ compB ++ compC).toDF("src", "dst")
    val oldLabels = Communities.louvainByComponent(old, 2, 2)
    def check(ins: Seq[(Long, Long)], dels: Seq[(Long, Long)],
              expectUntouched: Seq[Long]): Unit = {
      val net = ((compA ++ compB ++ compC ++ ins).distinct
        .filterNot(e => dels.contains(e) || dels.contains(e.swap))).toDF("src", "dst")
      val trace = scala.collection.mutable.Buffer.empty[Long]
      val maint = lm(Communities.louvainMaintain(oldLabels, old,
        ins.toDF("src", "dst"), dels.toDF("src", "dst"), trace = Some(trace)))
      val full = lm(Communities.louvainByComponent(net, 2, 2))
      assert(maint == full, s"ins=$ins dels=$dels\nmaint=$maint\nfull=$full")
      // untouched components pass through verbatim
      val oldM = lm(oldLabels)
      expectUntouched.foreach(id => assert(maint(id) == oldM(id)))
      ()
    }
    // RISE inside one component (densify the triangle's tail)
    check(Seq((30L, 33L), (30L, 34L)), Nil, Seq(1L, 13L, 50L, 53L))
    // FALL inside one component (cut the clique bridge → split)
    check(Nil, Seq((4L, 10L)), Seq(30L, 34L, 50L, 53L))
    // MERGE two components (bridge B to C) — both recompute, A verbatim
    check(Seq((34L, 50L)), Nil, Seq(1L, 4L, 10L, 13L))
    // insert + delete colliding on one key: tombstone wins
    check(Seq((30L, 33L)), Seq((30L, 33L), (52L, 53L)), Seq(1L, 13L))
    // EMPTY delta: identity, zero affected vertices
    val trace = scala.collection.mutable.Buffer.empty[Long]
    val same = lm(Communities.louvainMaintain(oldLabels, old,
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq.empty[(Long, Long)].toDF("src", "dst"), trace = Some(trace)))
    assert(same == lm(oldLabels))
    assert(trace.head == 0L)
    // a vertex fully isolated by deletes drops, exactly as in the full
    // recompute (the path end 53 loses its only edge)
    val m2 = lm(Communities.louvainMaintain(oldLabels, old,
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq((52L, 53L)).toDF("src", "dst")))
    assert(!m2.contains(53L))
    assert(m2 == lm(Communities.louvainByComponent(
      (compA ++ compB ++ compC.filterNot(_ == (52L, 53L))).toDF("src", "dst"), 2, 2)))
  }

  test("greedy coloring: proper, deterministic, equals the sequential greedy in priority order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Communities
    // triangle + pendant: proper coloring needs 3 colors on the clique
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val got = Communities.greedyColoring(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sequential greedy in (prio31, id) order replayed by hand
    def prio(id: Long) = (((id % 2147483648L) * 2654435761L) % 2147483648L, id)
    val adj = Map(1L -> Set(2L, 3L), 2L -> Set(1L, 3L), 3L -> Set(1L, 2L, 4L), 4L -> Set(3L))
    val exp = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sortBy(prio).foreach { v =>
      val used = adj(v).flatMap(exp.get)
      exp(v) = Iterator.from(0).map(_.toLong).find(c => !used.contains(c)).get
    }
    assert(got == exp.toMap, s"got $got expected $exp")
    // fixture graph: proper (no monochromatic edge), bounded by
    // maxDegree+1, and bit-identical across two independent runs
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val tr = scala.collection.mutable.Buffer.empty[Long]
    val colors = Communities.greedyColoring(c10, trace = Some(tr))
    println(s"[spec] greedyColoring rounds=${tr.length} per-round=${tr.mkString(",")}")
    val colMap = colors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = c10.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) =>
      assert(colMap(a) != colMap(b), s"edge ($a,$b) monochromatic") }
    val maxDeg = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map(_._2.size).max
    assert(colMap.values.max <= maxDeg, s"colors ${colMap.values.max} vs maxdeg $maxDeg")
    val again = Communities.greedyColoring(c10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == colMap)
  }

  test("summary codecs round-trip arbitrary summary states exactly") {
    import graft.summaries._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 20) {
      val ds = new DisjointSet
      (1 to 60).foreach(_ => ds.union(rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      val c1 = new SummaryCodecs.DisjointSetCodec
      val dsBack = c1.decode(c1.encode(ds))
      assert(dsBack.components == ds.components, s"trial $trial union-find")

      val p = new ParityDisjointSet
      (1 to 40).foreach(_ => p.addEdge(rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      val c2 = new SummaryCodecs.ParityDisjointSetCodec
      val pBack = c2.decode(c2.encode(p))
      assert(pBack.isBipartite == p.isBipartite, s"trial $trial parity verdict")
      // structural equality: same root and same relative parity per vertex
      p.parent.foreachKey { v => assert(pBack.find(v) == p.find(v), s"trial $trial v=$v") }

      val g = new AdjacencyGraph(3)
      (1 to 30).foreach(_ => g.addEdgeIfFar(rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      val c3 = new SummaryCodecs.AdjacencyGraphCodec
      val gBack = c3.decode(c3.encode(g))
      assert(gBack.edgeList == g.edgeList && gBack.k == g.k, s"trial $trial spanner")
    }
  }

  test("fused multi-graph iterative bipartiteness retires each graph on its own verdict") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // odd: 5-cycle (triangle-free but NOT bipartite); even: 6-path;
    // tri: immediate triangle conflict (settles rounds before the others)
    val odd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L)).map(x => ("odd", x._1, x._2))
    val even = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).map(x => ("even", x._1, x._2))
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).map(x => ("tri", x._1, x._2))
    val tagged = (odd ++ even ++ tri).toDF("g", "src", "dst")
    val out = graft.operators.Bipartiteness.iterativeByGroup(tagged)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out == Map("odd" -> false, "even" -> true, "tri" -> false))
  }

  test("iterative CC equals single-pass CC") {
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 4L),
      (7L, 8L), (8L, 9L), (9L, 10L), (10L, 7L), (3L, 1L))
    val df = edgeDf(edges)
    val a = SummaryAggregations.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = ConnectedComponents.iterative(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("spanner: subgraph with bounded stretch") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L), (2L, 4L), (1L, 5L))
    val k = 3
    val spanner = collectPairs(SummaryAggregations.spanner(edgeDf(edges), k))
    val orig = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(spanner.subsetOf(orig), "spanner must be a subgraph")
    def dist(adj: Map[Long, Set[Long]], s: Long, t: Long): Int = {
      var frontier = Set(s); var seen = Set(s); var d = 0
      while (!frontier.contains(t) && frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty[Long])) -- seen
        seen ++= frontier; d += 1
      }
      if (frontier.contains(t)) d else Int.MaxValue
    }
    val adj = spanner.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    for ((a, b) <- orig)
      assert(dist(adj, a, b) <= k, s"stretch violated for ($a,$b)")
  }
}
