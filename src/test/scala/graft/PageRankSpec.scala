package graft

import org.apache.spark.sql.functions._
import graft.operators.PageRank

/** Fixed-point PageRank: determinism, conservation bounds, and agreement
  * with hand-derived fixed points.
  */
class PageRankSpec extends SparkTestBase {

  test("2-cycle is a fixed point: both ranks stay exactly SCALE") {
    // r = 150000 + (85 * (r div 1)) div 100; r = SCALE solves it exactly
    val edges = edgeDf(Seq((1L, 2L), (2L, 1L)))
    val r = PageRank.fixedPoint(edges, 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> PageRank.Scale, 2L -> PageRank.Scale))
  }

  test("star center outranks leaves; ranks match the hand-computed fixed point") {
    // undirected star 0–{1,2,3}: leaves send r/1 to center, center splits by 3
    val pairs = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L), (0L, 3L), (3L, 0L))
    val r = PageRank.fixedPoint(edgeDf(pairs), 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) > r(1L))
    assert(r(1L) == r(2L) && r(2L) == r(3L))
    // replay the recurrence exactly in Scala
    var center = PageRank.Scale
    var leaf = PageRank.Scale
    for (_ <- 1 to 10) {
      val nc = 150000L + (85L * (leaf / 1L) * 3L) / 100L
      val nl = 150000L + (85L * (center / 3L)) / 100L
      center = nc; leaf = nl
    }
    assert(r(0L) == center && r(1L) == leaf)
  }

  test("result is identical under different partition counts (integer determinism)") {
    val c = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val sym = c.unionByName(c.select(col("dst").as("src"), col("src").as("dst")))
    val a = PageRank.fixedPoint(sym, 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = PageRank.fixedPoint(sym.repartition(13), 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a == b)
  }

  test("weighted: mass splits proportionally to edge weight; exact replay") {
    import spark.implicits._
    // center 0 sends 9/10 of its mass to 1 and 1/10 to 2; leaves return all
    val e = Seq((0L, 1L, 9.0), (0L, 2L, 1.0), (1L, 0L, 1.0), (2L, 0L, 1.0))
      .toDF("src", "dst", "value")
    val r = PageRank.weightedFixedPoint(e, 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    var (r0, r1, r2) = (PageRank.Scale, PageRank.Scale, PageRank.Scale)
    for (_ <- 1 to 10) {
      val (c0, c1, c2) = (r1 + r2, (r0 * 9) / 10, r0 / 10)
      r0 = 150000 + 85 * c0 / 100
      r1 = 150000 + 85 * c1 / 100
      r2 = 150000 + 85 * c2 / 100
    }
    assert(r == Map(0L -> r0, 1L -> r1, 2L -> r2))
    assert(r(1L) > r(2L))
    // every weight 1: the share (rank·1) div totw is rank div outdeg, so
    // weightedFixedPoint is fixedPoint, on both legs (multi-arcs and
    // dangling vertices included)
    val g = multiArcs
    val unit = g.withColumn("value", lit(1L))
    assert(ranks(PageRank.weightedFixedPoint(unit, 5)) == ranks(PageRank.fixedPoint(g, 5)))
    assert(atBarZero(ranks(PageRank.weightedFixedPoint(unit, 5))) ==
      atBarZero(ranks(PageRank.fixedPoint(g, 5))))
  }

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap

  /** The directed C10 co-purchase graph (dangling vertices included)
    * with every arc out of a multiple of 7 doubled. */
  private def multiArcs: org.apache.spark.sql.DataFrame = {
    val c = graft.model.GraphFixtures.coPurchase10(spark, sf)
    c.unionByName(c.where(col("src") % 7 === 0))
  }

  test("personalized: mass concentrates at the source and decays with distance") {
    // triangle 0-1-2 with pendant 3 off 1 (odd cycle => aperiodic walk;
    // a bipartite fixture like a path oscillates between parities and
    // makes rank comparisons at a fixed iteration meaningless), restart
    // at 0: the source dominates, the pendant (fed only by 1's split)
    // ranks below 1, and an unreachable component gets rank 0
    val pairs = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (0L, 2L), (2L, 0L),
      (1L, 3L), (3L, 1L), (8L, 9L), (9L, 8L))
    val r = PageRank.personalized(edgeDf(pairs), Seq(0L), 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) > r(1L) && r(0L) > r(2L) && r(0L) > r(3L))
    assert(r(3L) < r(1L))
    assert(r(8L) == 0L && r(9L) == 0L)
    // uniform teleport over ALL vertices = fixedPoint (sanity link):
    // a 2-cycle personalized at both vertices reproduces the fixed point
    val cyc = edgeDf(Seq((1L, 2L), (2L, 1L)))
    val p = PageRank.personalized(cyc, Seq(1L, 2L), 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(p == Map(1L -> PageRank.Scale, 2L -> PageRank.Scale))
    // every vertex a source: seed and teleport mask cover all vertices,
    // so personalized is fixedPoint, on both legs
    val g = multiArcs
    val all = g.select(col("src")).union(g.select(col("dst"))).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(ranks(PageRank.personalized(g, all, 5)) == ranks(PageRank.fixedPoint(g, 5)))
    assert(atBarZero(ranks(PageRank.personalized(g, all, 5))) ==
      atBarZero(ranks(PageRank.fixedPoint(g, 5))))
  }

  test("warm start (q240): empty prev reproduces the cold loop; seeding is provably closer to stationary") {
    val c = graft.model.GraphFixtures.coPurchase10(spark, sf)
    def sym(df: org.apache.spark.sql.DataFrame) = df.unionByName(
      df.select(col("dst").as("src"), col("src").as("dst")))
    val tag = pmod(pmod(pmod(col("src") % 2147483648L * 31 + col("dst"),
      lit(2147483648L)) * 2654435761L, lit(2147483648L)), lit(10L))
    val base = sym(c.where(tag =!= 8))
    val net = sym(c.where(!tag.isin(3, 4)))
    // contract identity: fixedPointFrom with an EMPTY prev is the cold
    // fixedPoint, bit for bit (every seed coalesces to SCALE)
    val cold5 = PageRank.fixedPoint(net, 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val fromEmpty = PageRank.fixedPointFrom(net,
        PageRank.fixedPoint(net, 1).limit(0), 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(fromEmpty == cold5)
    // the maintenance win, proven with the Δ-sentinel: after the same
    // 5 net rounds, the warm-started iteration sits strictly closer to
    // stationarity than the cold restart (final-round max |Δrank|)
    val prev = PageRank.fixedPoint(base, 10)
    val warmTrace = scala.collection.mutable.Buffer.empty[Long]
    val coldTrace = scala.collection.mutable.Buffer.empty[Long]
    val warm = PageRank.fixedPointFrom(net, prev, 5, Some(warmTrace))
    PageRank.fixedPointFrom(net, prev.limit(0), 5, Some(coldTrace))
    assert(warmTrace.last < coldTrace.last,
      s"warm $warmTrace vs cold $coldTrace")
    // determinism of the seeded loop under repartitioning
    val w2 = PageRank.fixedPointFrom(net.repartition(13), prev, 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(warm.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap == w2)
  }

  test("rank mass never exceeds the initial total (dropped dangling mass)") {
    val edges = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)))
    val r = PageRank.fixedPoint(edges, 10)
    val n = r.count()
    val total = r.agg(sum("rank")).head().getLong(0)
    assert(total <= n * PageRank.Scale)
    assert(r.collect().forall(_.getLong(1) >= 150000L))
  }

  test("HITS: hubs point at authorities; top scores pinned at Scale; exact replay") {
    import graft.operators.Hits
    // 1→3, 2→3, 3→4: vertex 3 is the only authority target of two hubs
    val e = edgeDf(Seq((1L, 3L), (2L, 3L), (3L, 4L)))
    val r = Hits.fixedPoint(e, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val hub = r.map(t => t._1 -> t._2).toMap
    val auth = r.map(t => t._1 -> t._3).toMap
    // 3 gets hub mass from both 1 and 2 → top authority; 4 only from 3
    assert(auth(3L) > auth(4L) && auth(1L) == 0L && auth(2L) == 0L)
    // 1 and 2 point at the top authority → top hubs, and symmetric
    assert(hub(1L) == hub(2L) && hub(1L) > hub(3L) && hub(4L) == 0L)
    // L∞ normalization: the max on each side is exactly Scale — this is
    // what keeps micro-unit resolution independent of |V| (an L1 sum
    // normalizer underflows to all-zeros past |V| ≈ Scale)
    assert(r.map(_._2).max == Hits.Scale)
    assert(r.map(_._3).max == Hits.Scale)
    // replay the recurrence exactly in Scala:
    // hand-unroll round 1 to pin the integer contract
    // araw: 3 ← h(1)+h(2) = 2e6; 4 ← h(3) = 1e6; max 2e6
    // a(3) = 2e6·1e6 div 2e6 = 1e6; a(4) = 1e6·1e6 div 2e6 = 500000
    // hraw: 1,2 ← a(3) = 1e6; 3 ← a(4) = 500000; max 1e6
    // h(1) = h(2) = 1e6; h(3) = 500000·1e6 div 1e6 = 500000
    val r1 = Hits.fixedPoint(e, 1).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val a1 = r1.map(t => t._1 -> t._3).toMap
    val h1 = r1.map(t => t._1 -> t._2).toMap
    assert(a1(3L) == 1000000L && a1(4L) == 500000L)
    assert(h1(1L) == 1000000L && h1(3L) == 500000L)
  }

  test("HITS is identical under different partition counts (integer determinism)") {
    import graft.operators.Hits
    val c = graft.model.GraphFixtures.coPurchase10(spark, sf)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(key(Hits.fixedPoint(c, 3)) == key(Hits.fixedPoint(c.repartition(13), 3)))
  }

  test("HITS warm start (q249): empty prev reproduces the cold loop; hub seed is provably closer") {
    import graft.operators.Hits
    val c = graft.model.GraphFixtures.coPurchase10(spark, sf)
    val tag = pmod(pmod(pmod(col("src") % 2147483648L * 31 + col("dst"),
      lit(2147483648L)) * 2654435761L, lit(2147483648L)), lit(10L))
    val base = c.where(tag =!= 8)
    val net = c.where(!tag.isin(3, 4))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // contract identity: empty prev == cold fixedPoint, bit for bit
    val cold3 = key(Hits.fixedPoint(net, 3))
    assert(key(Hits.fixedPointFrom(net,
      Hits.fixedPoint(net, 1).limit(0), 3)) == cold3)
    // the maintenance win, proven with the Δ-sentinel: after the same
    // 3 net rounds the warm hub vector sits strictly closer to
    // stationarity than the cold restart (final-round max |Δhub|)
    val prev = Hits.fixedPoint(base, 5)
    val warmTrace = scala.collection.mutable.Buffer.empty[Long]
    val coldTrace = scala.collection.mutable.Buffer.empty[Long]
    val warm = Hits.fixedPointFrom(net, prev, 3, Some(warmTrace))
    Hits.fixedPointFrom(net, prev.limit(0), 3, Some(coldTrace))
    assert(warmTrace.last < coldTrace.last,
      s"warm $warmTrace vs cold $coldTrace")
    // determinism of the seeded loop under repartitioning
    assert(key(warm) == key(Hits.fixedPointFrom(net.repartition(13), prev, 3)))
  }
}
