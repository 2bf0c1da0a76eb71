package graft
// (4-clique spec appended at the bottom of this suite)

import org.apache.spark.sql.functions._

import graft.operators.Triangles

class TrianglesSpec extends SparkTestBase {

  private def canon(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("src", "dst")
  }

  /** Naive reference count for cross-checking. */
  private def naive(pairs: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val es = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val vs = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    (for {
      a <- vs; b <- vs if a < b && es((a, b))
      c <- vs if b < c && es((b, c)) && es((a, c))
    } yield (a, b, c)).toSet
  }

  test("K4 has 4 triangles; per-vertex counts are 3 each") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val c = canon(k4)
    assert(Triangles.globalCount(c).head.getLong(0) == 4L)
    val pv = Triangles.perVertexCounts(c)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pv == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("temporal triangles: strict δ-ordered triples, counted per center") {
    import spark.implicits._
    def run(evs: Seq[(Long, Long, Long)], delta: Long) =
      Triangles.temporalTriangles(evs.toDF("src", "dst", "t"), delta)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one triangle: e1={1,2}@0, e2={2,3}@10, e3={1,3}@20 → center 2
    assert(run(Seq((1L, 2L, 0L), (2L, 3L, 10L), (1L, 3L, 20L)), 100L) ==
      Map(2L -> 1L))
    // closure outside δ → nothing
    assert(run(Seq((1L, 2L, 0L), (2L, 3L, 10L), (1L, 3L, 200L)), 100L).isEmpty)
    // equal timestamps carry no order → excluded by the strict contract
    assert(run(Seq((1L, 2L, 0L), (2L, 3L, 0L), (1L, 3L, 20L)), 100L).isEmpty)
    // multi-edge events: two distinct closures → two triangles at center 2
    assert(run(Seq((1L, 2L, 0L), (2L, 3L, 10L), (1L, 3L, 20L), (1L, 3L, 30L)), 100L) ==
      Map(2L -> 2L))
    // δ-bucket boundary: t1=95, t2=100, t3=190 spans three buckets of
    // div 100 — the explode-into-next-bucket trick must still find it
    assert(run(Seq((1L, 2L, 95L), (2L, 3L, 100L), (1L, 3L, 190L)), 100L) ==
      Map(2L -> 1L))
    // all six time-orderings of a static triangle count once each: with
    // distinct times, exactly one (e1,e2,e3) ordering exists per triple
    val m = run(Seq((1L, 2L, 0L), (2L, 3L, 1L), (1L, 3L, 2L),
      (1L, 2L, 3L), (2L, 3L, 4L), (1L, 3L, 5L)), 100L)
    // 2×2×2 event combos, each a valid strict ordering exactly once
    assert(m.values.sum == 8L, s"got $m")
  }

  test("triangle-free graph counts zero") {
    val c = canon(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(Triangles.globalCount(c).head.getLong(0) == 0L)
    assert(Triangles.perVertexCounts(c).count() == 0L)
  }

  test("degree-oriented enumeration matches naive on seeded random graphs") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 5) {
      val pairs = List.fill(60) {
        val a = rnd.nextInt(15).toLong; var b = rnd.nextInt(15).toLong
        if (a == b) b = (a + 1) % 15
        (a, b)
      }.filter { case (a, b) => a != b }
      val c = canon(pairs)
      val expected = naive(pairs)
      val got = Triangles.enumerate(c).collect()
        .map { r =>
          val s = Seq(r.getLong(0), r.getLong(1), r.getLong(2)).sorted
          (s(0), s(1), s(2))
        }.toSet
      assert(got == expected)
      assert(Triangles.globalCount(c).head.getLong(0) == expected.size.toLong)
    }
  }

  test("windowed count: triangles only form within a window") {
    import spark.implicits._
    // window 0: full triangle; window 1: only a wedge
    val cw = Seq(
      (0L, 1L, 2L), (0L, 2L, 3L), (0L, 1L, 3L),
      (100L, 1L, 2L), (100L, 2L, 3L)).toDF("win", "src", "dst")
    val r = Triangles.countPerWindow(cw)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r == Map(0L -> 1L))
  }

  test("ktruss: peels to the maximal subgraph with per-edge support k-2") {
    import org.apache.spark.sql.functions._
    // K4 + pendant triangle 4-5-6 sharing vertex 4: in K4 every edge has
    // support 2 (4-truss); the 4-5/4-6/5-6 edges have support 1 and peel
    val g = canon(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)))
    val t4 = graft.operators.Triangles.ktruss(g, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t4 == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // k=3 keeps every triangle edge; k=5 kills everything (K4 maxes at 4)
    assert(graft.operators.Triangles.ktruss(g, 3).count() == 9)
    assert(graft.operators.Triangles.ktruss(g, 5).isEmpty)
    // cascading peel: removing the pendant triangle can orphan nothing
    // here, but a triangle chain does cascade — 3 triangles in a row,
    // k=4 peels them all (each edge has support <= 1 after neighbors go)
    val chain = canon(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L), (4L, 5L), (3L, 5L)))
    assert(graft.operators.Triangles.ktruss(chain, 4).isEmpty)
  }

  test("sparsified estimate: deterministic and within a tighter bound than the gate") {
    import org.apache.spark.sql.functions._
    val c = graft.model.GraphFixtures.coPurchase(spark, sf)
    // the gate the driver checks (tol 0.2) must hold with margin: assert
    // the same sampling at tol 0.15, so a borderline drift would surface
    // here before it ever reached the oracle
    val strict = Triangles.sparsifiedEstimateGate(c, tol = 0.15).head()
    assert(strict.getBoolean(1), s"rel err above 0.15 (exact=${strict.getLong(0)})")
    // determinism: same seed => identical verdict under repartitioning
    val again = Triangles.sparsifiedEstimateGate(c.repartition(7), tol = 0.15).head()
    assert(again.getBoolean(1) == strict.getBoolean(1) &&
      again.getLong(0) == strict.getLong(0))
  }

  test("trussness: per-edge classes match hand values and the k-truss cross-check") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    // a 5-clique (every edge in 3 triangles → trussness 5) plus a
    // pendant edge 5-10 (no triangle → trussness 2)
    val g = (clique(Seq(1L, 2L, 3L, 4L, 5L)) :+ (5L, 10L)).toDF("src", "dst")
    val t = Triangles.trussness(g).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(t((5L, 10L)) == 2L, s"got $t")
    assert(clique(Seq(1L, 2L, 3L, 4L, 5L)).forall(e => t(e) == 5L), s"got $t")
    // r12 scale-adaptive A/B: bar 0 forces the distributed level peel;
    // the default takes the one-task peel — the k-truss is the unique
    // maximal subgraph per level, so both must be bit-equal
    val tRounds = atBarZero(Triangles.trussness(g).collect())
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val tLocal = Triangles.trussness(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(tRounds == tLocal)
    // cross-check on the fixture: {e : trussness(e) >= 5} must equal the
    // 5-truss edge set from the hybrid peel
    val c10 = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val byClass = Triangles.trussness(c10).where(col("trussness") >= 5)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byPeel = Triangles.ktruss(c10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byClass == byPeel)
  }

  test("trussnessMaintain: component carve-out equals the full re-peel") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    def tmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // three components: A = 4-clique 1..4 with pendant 4-5, B = 5-clique
    // 10..14 (untouched — the pass-through probe), C = triangle 20-21-22
    val compA = clique(Seq(1L, 2L, 3L, 4L)) :+ (4L, 5L)
    val compB = clique(Seq(10L, 11L, 12L, 13L, 14L))
    val compC = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val base = (compA ++ compB ++ compC).toDF("src", "dst")
    val oldT = Triangles.trussness(base)
    // delta: close the pendant into triangles (1,5),(2,5) — A's truss
    // classes rise — and break C's triangle by deleting (21,22)
    val ins = Seq((1L, 5L), (2L, 5L)).toDF("src", "dst")
    val del = Seq((22L, 21L)).toDF("src", "dst") // reversed: identity is undirected
    val net = (compA ++ compB ++ Seq((20L, 21L), (20L, 22L), (1L, 5L), (2L, 5L)))
      .toDF("src", "dst")
    val trace = scala.collection.mutable.Buffer.empty[Long]
    val got = tmap(Triangles.trussnessMaintain(oldT, base, ins, del,
      trace = Some(trace)))
    assert(got == tmap(Triangles.trussness(net)), s"got $got")
    // confinement: affected components are A (9 net edges: the clique's
    // 6 + the pendant + 2 inserts) and C (2 survivors) — B's 10 edges
    // never re-peel
    assert(trace.head == 11L, s"affected edges ${trace.head} — B leaked in")
    // tombstone-wins: inserting and deleting the same edge nets to dead
    val both = Seq((1L, 5L)).toDF("src", "dst")
    assert(tmap(Triangles.trussnessMaintain(oldT, base, both, both)) ==
      tmap(Triangles.trussness(base)))
    // empty delta: pure pass-through, zero affected edges
    val t2 = scala.collection.mutable.Buffer.empty[Long]
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(tmap(Triangles.trussnessMaintain(oldT, base, e, e,
      trace = Some(t2))) == tmap(oldT))
    assert(t2.head == 0L)
  }

  test("clusteringMaintain: component carve-out equals the cold net-graph run") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    def cmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // A = 4-clique 1..4 with pendant 4-5, B = 5-clique 10..14
    // (untouched — the pass-through probe), C = triangle 20-21-22
    val compA = clique(Seq(1L, 2L, 3L, 4L)) :+ (4L, 5L)
    val compB = clique(Seq(10L, 11L, 12L, 13L, 14L))
    val compC = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val base = (compA ++ compB ++ compC).toDF("src", "dst")
    val oldC = Triangles.clusteringCoefficients(base)
    // close the pendant into triangles; break C's triangle — 22 falls
    // to degree 1 and must DROP from the output as a cold run drops it
    val ins = Seq((1L, 5L), (2L, 5L)).toDF("src", "dst")
    val del = Seq((22L, 21L)).toDF("src", "dst") // reversed: undirected identity
    val net = (compA ++ compB ++ Seq((20L, 21L), (20L, 22L), (1L, 5L), (2L, 5L)))
      .toDF("src", "dst")
    val trace = scala.collection.mutable.Buffer.empty[Long]
    val got = cmap(Triangles.clusteringMaintain(oldC, base, ins, del,
      trace = Some(trace)))
    assert(got == cmap(Triangles.clusteringCoefficients(net)), s"got $got")
    assert(!got.contains(22L))
    // confinement: affected verts = A's {1..5} ∪ C's {20,21,22} — B rode
    // through on the anti-join
    assert(trace == Seq(8L), s"affected verts $trace — B leaked in")
    // empty delta: verbatim pass-through
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(cmap(Triangles.clusteringMaintain(oldC, base, e, e)) == cmap(oldC))
  }

  test("transitivityMaintain: composed deltas equal the cold net statistic") {
    import spark.implicits._
    def row(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head()
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    def cold(es: Seq[(Long, Long)]) =
      row(Triangles.transitivity(es.toDF("src", "dst")))
    def maintained(base: Seq[(Long, Long)], ins: Seq[(Long, Long)],
                   del: Seq[(Long, Long)],
                   trace: Option[scala.collection.mutable.Buffer[Long]] = None) =
      row(Triangles.transitivityMaintain(
        Triangles.transitivity(base.toDF("src", "dst")),
        graft.operators.DegreeMetrics.undirectedDegrees(base.toDF("src", "dst")),
        base.toDF("src", "dst"), ins.toDF("src", "dst"),
        del.toDF("src", "dst"), trace))
    // base: K4 on 1..4 + a path 5-6-7; delta: close (5,7) into a
    // triangle, break the K4 by deleting (1,2) (destroys 2 triangles),
    // re-insert a present edge (no-op), delete an absent edge (no-op),
    // and insert+delete the same edge (tombstone-wins no-op)
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val base = k4 ++ Seq((5L, 6L), (6L, 7L))
    val ins = Seq((5L, 7L), (3L, 4L), (8L, 9L))
    val del = Seq((1L, 2L), (20L, 21L), (8L, 9L))
    val net = (base ++ Seq((5L, 7L))).filterNot(_ == (1L, 2L))
    val trace = scala.collection.mutable.Buffer.empty[Long]
    assert(maintained(base, ins, del, Some(trace)) == cold(net))
    // touched = {1,2} ∪ {5,7} — the no-op legs never touch a vertex
    assert(trace == Seq(4L), s"touched $trace")
    // a triangle both created and destroyed in the same delta cancels:
    // close (5,7) AND delete (6,7)
    assert(maintained(base, Seq((5L, 7L)), Seq((6L, 7L))) ==
      cold(base.filterNot(_ == (6L, 7L)) ++ Seq((5L, 7L))))
    // empty delta: pure pass-through
    assert(maintained(base, Seq.empty, Seq.empty) == cold(base))
  }

  test("butterflies: exact 2x2 biclique count, side-invariant, zero on a star") {
    import spark.implicits._
    // K(2,3): left {1,2} x right {10,20,30} — butterflies = C(3,2) = 3
    val k23 = (for (l <- Seq(1L, 2L); r <- Seq(10L, 20L, 30L)) yield (l, r))
      .toDF("src", "dst")
    def counts(df: org.apache.spark.sql.DataFrame, side: String) = {
      val r = Triangles.butterflies(df, side).collect().head
      (r.getLong(0), r.getLong(1))
    }
    assert(counts(k23, "right")._1 == 3L)
    assert(counts(k23, "left")._1 == 3L) // butterfly count is side-invariant
    // a star (one left, many rights) has no left pair → zero butterflies
    val star = Seq(1L -> 10L, 1L -> 20L, 1L -> 30L).toDF("src", "dst")
    assert(counts(star, "right") == ((0L, 0L)))
    // adding one extra edge (2,10) to the star: left pair (1,2) shares
    // only vertex 10 → w=1 → still zero butterflies, one wedge pair
    val plus = (Seq(1L -> 10L, 1L -> 20L, 1L -> 30L) :+ (2L -> 10L)).toDF("src", "dst")
    assert(counts(plus, "right") == ((0L, 1L)))
    // duplicate edges must not inflate (distinct input contract)
    assert(counts(k23.union(k23), "right")._1 == 3L)
    // butterfly degrees on K(2,3), pivot left: supplier pairs (10,20),
    // (10,30), (20,30) each share both lefts (w=2, 1 butterfly) — every
    // right vertex participates in 2 of the 3 butterflies
    val bd = Triangles.butterflyDegrees(k23, "left").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bd == Map(10L -> 2L, 20L -> 2L, 30L -> 2L), s"got $bd")
    // consistency: sum of pair-side degrees = 2 x global count
    assert(bd.values.sum == 2 * counts(k23, "left")._1)
  }

  test("4-clique counts: K4/K5 exact, diamond excluded, duplicates don't inflate") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    def counts(es: Seq[(Long, Long)]) =
      Triangles.fourCliqueCounts(es.toDF("src", "dst")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4: one 4-clique, every vertex in it
    assert(counts(clique(Seq(1L, 2L, 3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // K5: C(5,4)=5 cliques; each vertex in C(4,3)=4 of them
    assert(counts(clique(Seq(1L, 2L, 3L, 4L, 5L))) ==
      (1L to 5L).map(_ -> 4L).toMap)
    // diamond (K4 minus one edge): triangles but NO 4-clique
    assert(counts(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 4L))).isEmpty)
    // K4 + pendant: pendant vertex excluded, clique intact
    assert(counts(clique(Seq(1L, 2L, 3L, 4L)) :+ (4L, 9L)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // duplicated edges (distinct-input canonicalization)
    assert(counts(clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(1L, 2L, 3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("deltaTriangles: exact new-triangle count, multi-new-edge dedup, old-dup drop") {
    import spark.implicits._
    def run(old: Seq[(Long, Long)], delta: Seq[(Long, Long)]) = {
      val r = Triangles.deltaTriangles(
        old.toDF("src", "dst"), delta.toDF("src", "dst")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // closing edge of one triangle: old path 1-2-3 open, delta closes it
    assert(run(Seq((1L, 2L), (2L, 3L)), Seq((1L, 3L))) === ((0L, 1L, 1L)))
    // a triangle with TWO new edges is counted once (candidate dedup)
    assert(run(Seq((1L, 2L)), Seq((2L, 3L), (1L, 3L))) === ((0L, 1L, 1L)))
    // an all-new triangle (three delta edges) is counted once
    assert(run(Seq.empty[(Long, Long)], Seq((1L, 2L), (2L, 3L), (1L, 3L))) ===
      ((0L, 1L, 1L)))
    // a delta edge already in old creates nothing
    assert(run(Seq((1L, 2L), (2L, 3L), (1L, 3L)), Seq((1L, 2L))) === ((1L, 0L, 1L)))
    // K4 minus one edge, delta adds it: exactly the 2 triangles through
    // the new edge appear; the 2 old ones stay in n_old
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    assert(run(k4, Seq((3L, 4L))) === ((2L, 2L, 4L)))
  }

  test("decrementalTriangles: exact destroyed count, multi-deleted dedup, absent-delete no-op") {
    import spark.implicits._
    def run(old: Seq[(Long, Long)], del: Seq[(Long, Long)]) = {
      val r = Triangles.decrementalTriangles(
        old.toDF("src", "dst"), del.toDF("src", "dst")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    // deleting one edge of the only triangle destroys it
    assert(run(tri, Seq((1L, 3L))) === ((1L, 1L, 0L)))
    // deleting TWO of its edges still destroys exactly one triangle
    assert(run(tri, Seq((1L, 3L), (2L, 3L))) === ((1L, 1L, 0L)))
    // deleting all three (direction-flipped rows) destroys exactly one
    assert(run(tri, Seq((3L, 1L), (3L, 2L), (2L, 1L))) === ((1L, 1L, 0L)))
    // deleting an absent edge destroys nothing
    assert(run(tri, Seq((1L, 99L))) === ((1L, 0L, 1L)))
    // full K4 (4 triangles): deleting edge 3-4 destroys the 2 triangles
    // through it, the 2 others survive — n_remaining ≡ count(E∖D)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(run(k4, Seq((3L, 4L))) === ((4L, 2L, 2L)))
    // empty deletion is the identity
    assert(run(k4, Seq.empty[(Long, Long)]) === ((4L, 0L, 4L)))
  }
}
