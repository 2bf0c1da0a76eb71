package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-task EXACT replays of the integer link-analysis fixed points
  * — [[PageRank]] and [[Hits]] under the [[LocalCommunities]]
  * discipline: the twins run the IDENTICAL synchronous round map
  * (same Long arithmetic, same truncating division, same sparse-row
  * semantics) in one `coalesce(1).mapPartitions` task, so the output is
  * bit-equal by construction. The fixed-round loops are
  * round-latency-bound at small scale (2 exchanges × 10 rounds for
  * kilobytes of state); below the size bar one job replaces them all,
  * above it the distributed rounds run unchanged (the 100 TB path).
  * One kernel replays all four PageRank variants (per-arc share, seed
  * and teleport mask as inputs, as in [[PageRank]]); [[hitsLocal]]
  * replays both HITS entry points, seeded or not.
  *
  * Multi-arc semantics are preserved: the round paths never dedup the
  * arc list (outdeg counts ROWS; a duplicated arc contributes twice),
  * so the twins keep the arc multiset as-is.
  */
object LocalRank {

  import scala.collection.mutable.{ArrayBuffer, LongMap}

  private val Scale = PageRank.Scale // 1e6, shared with Hits.Scale

  private def collectRows(
      it: Iterator[(Int, Long, Long, Long)]): (Array[(Long, Long, Long)], LongMap[Long]) = {
    val arcs = new ArrayBuffer[(Long, Long, Long)]()
    val prev = new LongMap[Long]()
    it.foreach { case (t, a, b, c) =>
      if (t == 0) arcs += ((a, b, c)) else prev(a) = b
    }
    (arcs.toArray, prev)
  }

  /** Tagged-union single-task runner: arcs (t=0, u, v, w) plus optional
    * seed rows (t=1, id, seed, 0). Keeps the two inputs in one job.
    */
  private def runTagged(arcs: DataFrame, seeds: Option[DataFrame])(
      f: (Array[(Long, Long, Long)], LongMap[Long]) => Iterator[(Long, Long)]): DataFrame = {
    val spark = arcs.sparkSession
    import spark.implicits._
    val a = arcs.select(lit(0).as("t"), col("u").cast("long").as("a"),
      col("v").cast("long").as("b"), col("w").cast("long").as("c"))
    val in = seeds match {
      case Some(s) => a.unionByName(s.select(lit(1).as("t"),
        col("id").cast("long").as("a"), col("seed").cast("long").as("b"),
        lit(0L).as("c")))
      case None => a
    }
    in.as[(Int, Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it => val (es, pv) = collectRows(it); f(es, pv) }
      .toDF("id", "rank")
  }

  private def vertsOf(arcs: Array[(Long, Long, Long)]): LongMap[Unit] = {
    val s = new LongMap[Unit]()
    arcs.foreach { case (u, v, _) => s(u) = (); s(v) = () }
    s
  }

  /** Replay of [[PageRank.fixedPoint]] / [[PageRank.fixedPointFrom]]:
    * `prev` = None is the uniform SCALE start; otherwise absent ids
    * seed at SCALE (the warm-start contract).
    */
  def pageRankLocal(e: DataFrame, iters: Int, prev: Option[DataFrame]): DataFrame =
    pageRankKernel(unitArcs(e), iters, prev, None)

  /** Replay of [[PageRank.weightedFixedPoint]]. */
  def weightedPageRankLocal(e: DataFrame, iters: Int): DataFrame =
    pageRankKernel(e, iters, None, None)

  /** Replay of [[PageRank.personalized]]. */
  def personalizedLocal(e: DataFrame, sources: Seq[Long], iters: Int): DataFrame =
    pageRankKernel(unitArcs(e), iters, None, Some(sources))

  private def unitArcs(e: DataFrame): DataFrame =
    e.select(col("u"), col("v"), lit(1L).as("w"))

  /** The one PageRank replay, with [[PageRank]]'s three inputs. The
    * share is always `(rank·w) div totw(u)`: unit arcs carry w = 1, so
    * totw = outdeg. Arcs with totw(u) ≤ 0 propagate nothing (the round
    * path's `where(totw > 0)`) while their endpoints stay in the vertex
    * table.
    */
  private def pageRankKernel(arcs: DataFrame, iters: Int, prev: Option[DataFrame],
                             sources: Option[Seq[Long]]): DataFrame =
    runTagged(arcs, prev.map(_.select(col("id"), col("rank").as("seed")))) { (arcs, seeds) =>
      val src = sources.map { s => val m = new LongMap[Unit](); s.foreach(m(_) = ()); m }
      def masked(id: Long, x: Long): Long = if (src.forall(_.contains(id))) x else 0L
      val verts = vertsOf(arcs)
      val totw = new LongMap[Long]()
      arcs.foreach { case (u, _, w) => totw(u) = totw.getOrElse(u, 0L) + w }
      val live = arcs.filter { case (u, _, _) => totw(u) > 0L }
      var ranks = new LongMap[Long](verts.size * 2)
      verts.foreachKey { id => ranks(id) = seeds.getOrElse(id, masked(id, Scale)) }
      val base = 15L * Scale / 100
      for (_ <- 1 to iters) {
        val s = new LongMap[Long]()
        live.foreach { case (u, v, w) =>
          s(v) = s.getOrElse(v, 0L) + (ranks(u) * w) / totw(u)
        }
        val next = new LongMap[Long](verts.size * 2)
        verts.foreachKey { id =>
          next(id) = masked(id, base) + (85L * s.getOrElse(id, 0L)) / 100L
        }
        ranks = next
      }
      val out = new ArrayBuffer[(Long, Long)](ranks.size)
      ranks.foreach { case (id, r) => out += ((id, r)) }
      out.iterator
    }

  /** Replay of [[Hits.fixedPoint]] / [[Hits.fixedPointFrom]] (seeded
    * when `prev` is given — absent ids seed at SCALE, stored zeros seed
    * as the zeros they were). The round path's score tables are SPARSE
    * (an absent row is a 0 that contributes nothing to sums and is
    * skipped by max); the twin mirrors that with presence-tracking
    * maps. A zero normalizing max turns the half-round's scores into
    * SQL NULLs on the round path, which behave exactly like absent rows
    * downstream (sum/max skip them, the final coalesce zero-fills) — so
    * the twin drops the rows, output-equivalently. Returns
    * (id, hub_mu, auth_mu).
    */
  def hitsLocal(e: DataFrame, iters: Int, prev: Option[DataFrame]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val a = e.select(lit(0).as("t"), col("u").cast("long").as("a"),
      col("v").cast("long").as("b"))
    val in = prev match {
      case Some(p) => a.unionByName(p.select(lit(1).as("t"),
        col("id").cast("long").as("a"), col("hub_mu").cast("long").as("b")))
      case None => a
    }
    in.as[(Int, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val arcs = new ArrayBuffer[(Long, Long)]()
        val seeds = new LongMap[Long]()
        it.foreach { case (t, x, y) =>
          if (t == 0) arcs += ((x, y)) else seeds(x) = y
        }
        val verts = new LongMap[Unit]()
        arcs.foreach { case (u, v) => verts(u) = (); verts(v) = () }
        // absent seed = SCALE — also the cold start (empty prev
        // reproduces fixedPoint, the round path's documented contract)
        var hubs = new LongMap[Long](verts.size * 2)
        verts.foreachKey { id => hubs(id) = seeds.getOrElse(id, Scale) }
        var auths = new LongMap[Long]()
        for (_ <- 1 to iters) {
          val araw = new LongMap[Long]()
          arcs.foreach { case (u, v) =>
            hubs.get(u).foreach { h => araw(v) = araw.getOrElse(v, 0L) + h }
          }
          var ta = Long.MinValue
          araw.foreach { case (_, r) => if (r > ta) ta = r }
          auths = new LongMap[Long]()
          if (araw.nonEmpty && ta != 0L) {
            val t = ta
            araw.foreach { case (id, r) => auths(id) = (r * Scale) / t }
          }
          val hraw = new LongMap[Long]()
          arcs.foreach { case (u, v) =>
            auths.get(v).foreach { av => hraw(u) = hraw.getOrElse(u, 0L) + av }
          }
          var th = Long.MinValue
          hraw.foreach { case (_, r) => if (r > th) th = r }
          hubs = new LongMap[Long]()
          if (hraw.nonEmpty && th != 0L) {
            val t = th
            hraw.foreach { case (id, r) => hubs(id) = (r * Scale) / t }
          }
        }
        val out = new ArrayBuffer[(Long, Long, Long)](verts.size)
        verts.foreachKey { id =>
          out += ((id, hubs.getOrElse(id, 0L), auths.getOrElse(id, 0L)))
        }
        out.iterator
      }
      .toDF("id", "hub_mu", "auth_mu")
  }
}
