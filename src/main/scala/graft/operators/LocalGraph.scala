package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single-task EXACT solvers for the iterative decompositions — the
  * small-graph leg of the scale-adaptive switch (the
  * [[ConnectedComponents.auto]] / Borůvka-tail discipline applied to
  * the peeling family). Each distributed fixpoint here converges to a
  * UNIQUE result (core numbers, truss numbers) or replays a fixed
  * deterministic order (greedy coloring ≡ sequential greedy by
  * priority), so an in-JVM computation of the same result is bit-equal
  * by definition — spec-pinned A/B against the round path either way.
  *
  * Why this exists (optimization guide §1.2/§2.2): the round loops are
  * synchronization-bound, not data-bound — a fixpoint with a long
  * few-vertex tail pays a constant ~5–8 Spark jobs per round while the
  * actual work shrinks to nothing (measured at sf0.1: coreness+maintain
  * = 557 jobs for a 19k-vertex graph). Below the size bar the whole
  * remaining computation fits ONE task (the same per-task-memory bound
  * that gates CC singlePass: ≤ a few 100 MB of adjacency), so one
  * `coalesce(1).mapPartitions` job replaces hundreds. Above the bar
  * the distributed rounds run unchanged — that is the 100 TB path.
  */
object LocalGraph {

  /** Bar on SYMMETRIC adjacency rows for one-task solves: 4M rows =
    * 2M undirected edges ≈ 64 MB of raw pairs + adjacency structures —
    * comfortably inside one task under the same ceiling that sizes the
    * CC singlePass bar (measured 8.3M-vertex OOM with 32 concurrent
    * typed buffers; a single coalesced task has the heap to itself).
    */
  val SymRowBar: Long = 4000000L

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.LocalGraph")

  /** Session conf holding the twin gate's bar, in rows; unset means
    * [[SymRowBar]]. Setting it to 0 forces every operator's rounds.
    */
  val BarConf = "spark.graft.oneTaskBar"

  /** [[BarConf]] in `spark` as a Long, or [[SymRowBar]] when unset. */
  private def sessionBar(spark: SparkSession): Long =
    spark.conf.getOption(BarConf).fold(SymRowBar) { v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$BarConf must be a whole number of rows, got '$v'"))
    }

  /** The one twin gate: true when operator `op` should run its one-task
    * leg on `in` rather than its distributed rounds. Every leg choice in
    * the operators goes through here.
    *
    * The twin contract: a one-task leg computes its operator's exact
    * output in one task, most by replaying the rounds in one
    * `coalesce(1)` task, so it is bit-equal to the round path by
    * construction. Specs pin each pair at bar 0 (LocalTwinsSpec, plus
    * TraversalsSpec, TrianglesSpec and SummarySpec).
    *
    * The bar is `min(cap, sessionBar / div)`: `div` scales it for an
    * operator whose input rows weigh more than symmetric adjacency rows,
    * and `cap = 0` lets a caller force the rounds. A bar ≤ 0 forces the
    * rounds without probing; otherwise one-task runs when `in` has ≤
    * `bar` rows. A cut `in` ([[graft.Lineage.cut]]) already carries its
    * measured count, so the gate reads it with no job. Any other `in` is
    * probed: one job with no exchange, in which each partition stops
    * counting after `bar + 1` rows, so above the bar its last stage reads
    * at most P·(bar + 1) rows (stages upstream of an un-checkpointed `in`
    * still run in full, as for `count()`). Each call logs one INFO line:
    * operator, leg, rows (or `>bar`) and bar.
    */
  def oneTask(op: String, in: DataFrame, div: Int = 1, cap: Long = Long.MaxValue): Boolean = {
    val bar = math.min(cap, sessionBar(in.sparkSession) / div)
    val rows = if (bar <= 0) None
      else Some(graft.Lineage.rowsIfCut(in).getOrElse(probeRows(in, bar)))
    val local = rows.exists(_ <= bar)
    val seen = rows.fold("not probed")(r => if (r > bar) s">$bar" else r.toString)
    log.info(s"twin gate: $op -> ${if (local) "one-task" else "rounds"} (rows $seen, bar $bar)")
    local
  }

  /** Rows of `in`, except that each partition stops at `bar + 1`: the sum
    * is ≤ `bar` exactly when `in.count()` is.
    */
  private def probeRows(in: DataFrame, bar: Long): Long = {
    val cap = bar + 1
    in.select().queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (n < cap && it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.fold(0L)(_ + _)
  }

  /** Exact core decomposition of a SYMMETRIC edge list (u, v) — the
    * Matula–Beck 1983 min-degree peel, whose output IS the unique
    * coreness fixpoint the distributed h-index loop converges to
    * (Lü et al. 2016). Returns (id, coreness) for every endpoint.
    */
  def corenessLocal(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    sym.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]]()
        it.foreach { case (u, v) =>
          adj.getOrElseUpdate(u, new scala.collection.mutable.ArrayBuffer[Long]()) += v
        }
        coreNumbers(adj).iterator
      }
      .toDF("id", "coreness")
  }

  /** Min-degree bucket peel over an adjacency map (symmetric input:
    * v appears in adj(u) iff u appears in adj(v)). Unique result.
    */
  private def coreNumbers(
      adj: scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]])
      : Seq[(Long, Long)] = {
    val n = adj.size
    if (n == 0) return Nil
    val ids = new Array[Long](n)
    var i = 0
    adj.foreachKey { k => ids(i) = k; i += 1 }
    java.util.Arrays.sort(ids)
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    i = 0; while (i < n) { idx(ids(i)) = i; i += 1 }
    val deg = new Array[Int](n)
    i = 0; while (i < n) { deg(i) = adj(ids(i)).length; i += 1 }
    // bucket queue by current degree
    val maxDeg = deg.max
    val binStart = new Array[Int](maxDeg + 2)
    i = 0; while (i < n) { binStart(deg(i) + 1) += 1; i += 1 }
    i = 1; while (i <= maxDeg + 1) { binStart(i) += binStart(i - 1); i += 1 }
    val pos = new Array[Int](n)
    val order = new Array[Int](n)
    val fill = binStart.clone()
    i = 0; while (i < n) { val d = deg(i); order(fill(d)) = i; pos(i) = fill(d); fill(d) += 1; i += 1 }
    val curDeg = deg.clone()
    val core = new Array[Int](n)
    var p = 0
    while (p < n) {
      val v = order(p)
      core(v) = curDeg(v)
      val nbrs = adj(ids(v))
      var j = 0
      while (j < nbrs.length) {
        val w = idx(nbrs(j))
        if (curDeg(w) > curDeg(v)) {
          // swap w to the front of its bin and shrink its degree
          val dw = curDeg(w); val pw = pos(w)
          val ps = binStart(dw)
          val s = order(ps)
          if (s != w) {
            order(ps) = w; order(pw) = s; pos(w) = ps; pos(s) = pw
          }
          binStart(dw) += 1
          curDeg(w) = dw - 1
        }
        j += 1
      }
      // peeled core values are non-decreasing along the order; repair
      // monotonicity explicitly (standard Matula–Beck detail)
      if (p > 0 && core(v) < core(order(p - 1))) core(v) = core(order(p - 1))
      p += 1
    }
    (0 until n).map(j => (ids(order(j)), core(order(j)).toLong))
  }

  /** Exact truss decomposition of a CANONICAL (src < dst, distinct)
    * edge list, mirroring [[Triangles.trussness]]'s level semantics:
    * for k = 3..kMax repeatedly remove edges whose support in the
    * surviving subgraph is < k − 2 (removed at level k → trussness
    * k − 1; never in a 3-truss → 2; survivors → kMax, meaning
    * "≥ kMax"). The k-truss is the unique maximal subgraph with that
    * property, so level-by-level peeling in ANY order yields the same
    * classes — bit-equal to the distributed peel.
    */
  def trussnessLocal(edges: DataFrame, kMax: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions(it => trussNumbers(it.toArray, kMax).iterator)
      .toDF("src", "dst", "trussness")
  }

  private def trussNumbers(es: Array[(Long, Long)], kMax: Int): Seq[(Long, Long, Long)] = {
    val m = es.length
    if (m == 0) return Nil
    // adjacency as sorted neighbor arrays for intersection counting
    val out = new Array[Long](m)
    // alive flags + current supports, peeled level by level
    val alive = Array.fill(m)(true)
    val truss = new Array[Long](m)
    // neighbor sets as LongMap[id -> set of (neighbor, edgeIdx)]
    val nbr = new scala.collection.mutable.LongMap[scala.collection.mutable.LongMap[Int]]()
    var i = 0
    while (i < m) {
      val (a, b) = es(i)
      nbr.getOrElseUpdate(a, new scala.collection.mutable.LongMap[Int]())(b) = i
      nbr.getOrElseUpdate(b, new scala.collection.mutable.LongMap[Int]())(a) = i
      i += 1
    }
    def support(i: Int): Int = {
      val (a, b) = es(i)
      val na = nbr(a); val nb = nbr(b)
      val (small, big) = if (na.size <= nb.size) (na, nb) else (nb, na)
      var s = 0
      small.foreachKey { w =>
        val ei = small(w)
        if (alive(ei) && big.contains(w) && alive(big(w))) s += 1
      }
      s
    }
    val sup = new Array[Int](m)
    i = 0; while (i < m) { sup(i) = support(i); i += 1 }
    var k = 3
    while (k <= kMax) {
      // peel: remove edges with sup < k-2 until none
      val queue = new scala.collection.mutable.ArrayDeque[Int]()
      i = 0
      while (i < m) { if (alive(i) && sup(i) < k - 2) queue.append(i); i += 1 }
      while (queue.nonEmpty) {
        val e = queue.removeHead()
        if (alive(e) && sup(e) < k - 2) {
          alive(e) = false
          truss(e) = (k - 1).toLong
          val (a, b) = es(e)
          val na = nbr(a); val nb = nbr(b)
          val (small, big) = if (na.size <= nb.size) (na, nb) else (nb, na)
          small.foreachKey { w =>
            val e1 = small(w)
            if (alive(e1) && big.contains(w)) {
              val e2 = big(w)
              if (alive(e2)) {
                sup(e1) -= 1; sup(e2) -= 1
                if (sup(e1) < k - 2) queue.append(e1)
                if (sup(e2) < k - 2) queue.append(e2)
              }
            }
          }
        }
      }
      k += 1
    }
    i = 0; while (i < m) { if (alive(i)) truss(i) = kMax.toLong; i += 1 }
    (0 until m).map(j => (es(j)._1, es(j)._2, truss(j)))
  }

  /** Exact Jones–Plassmann greedy coloring under the portable
    * (prio31(id), id) order — by [[Communities.greedyColoring]]'s own
    * contract the parallel fixpoint EQUALS the sequential greedy in
    * priority order, which is what this computes directly. Input:
    * SYMMETRIC dedup'd pairs (u, v); output (id, color).
    */
  def coloringLocal(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    sym.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]]()
        it.foreach { case (u, v) =>
          adj.getOrElseUpdate(u, new scala.collection.mutable.ArrayBuffer[Long]()) += v
        }
        greedyColors(adj).iterator
      }
      .toDF("id", "color")
  }

  /** Multi-source unweighted BFS over a SYMMETRIC edge list — the
    * one-task twin of the landmark frontier loop. Distances are unique,
    * so the output is bit-equal to the round path; `maxIter` mirrors
    * the distributed fail-loud contract (an eccentricity past the
    * budget must error identically, never truncate silently).
    */
  def multiBfsLocal(sym: DataFrame, landmarks: Seq[Long], maxIter: Int,
                    opName: String, failLoud: Boolean = true): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val lmArr = landmarks.toArray
    sym.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]]()
        it.foreach { case (u, v) =>
          adj.getOrElseUpdate(u, new scala.collection.mutable.ArrayBuffer[Long]()) += v
        }
        lmArr.iterator.flatMap { lm =>
          val dist = new scala.collection.mutable.LongMap[Long]()
          dist(lm) = 0L
          var frontier = List(lm)
          var d = 0L
          // mirror the round path's cap semantics exactly: levels stop
          // at maxIter; failLoud errors iff the frontier would expand
          // past the budget (the landmark contract), the non-loud form
          // truncates silently (the bfsDepths contract)
          while (frontier.nonEmpty && d < maxIter) {
            d += 1
            val next = scala.collection.mutable.ArrayBuffer.empty[Long]
            frontier.foreach { u =>
              adj.get(u).foreach(_.foreach { v =>
                if (!dist.contains(v)) { dist(v) = d; next += v }
              })
            }
            frontier = next.toList
          }
          if (failLoud) require(frontier.isEmpty ||
              !frontier.exists(u => adj.get(u).exists(_.exists(v => !dist.contains(v)))),
            s"$opName: frontier still non-empty after $maxIter rounds — " +
              "raise maxIter; a truncated index under-serves every query")
          dist.iterator.map { case (id, dd) => (lm, id, dd) }
        }
      }
      .toDF("lm", "id", "dist")
  }

  /** One-task twin of the directed SCC peel: iterative Tarjan over the
    * self-loop-free distinct arc list, labels = min member id — the
    * SCC partition is unique, so bit-equal to the trim/fwd-bwd rounds.
    */
  def sccLocal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions(it => tarjanMinLabels(it.toArray).iterator)
      .toDF("id", "scc")
  }

  private def tarjanMinLabels(arcs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    if (arcs.isEmpty) return Nil
    val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]]()
    val verts = new scala.collection.mutable.LongMap[Unit]()
    arcs.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, new scala.collection.mutable.ArrayBuffer[Long]()) += v
      verts(u) = (); verts(v) = ()
    }
    val index = new scala.collection.mutable.LongMap[Int]()
    val low = new scala.collection.mutable.LongMap[Int]()
    val onStack = new scala.collection.mutable.LongMap[Unit]()
    val stack = new scala.collection.mutable.ArrayBuffer[Long]()
    var counter = 0
    val comp = new scala.collection.mutable.LongMap[Long]()
    // iterative Tarjan: explicit work stack of (vertex, child cursor)
    val empty = new scala.collection.mutable.ArrayBuffer[Long](0)
    verts.foreachKey { root =>
      if (!index.contains(root)) {
        val work = new scala.collection.mutable.ArrayBuffer[(Long, Int)]()
        work += ((root, 0))
        while (work.nonEmpty) {
          val (x, ci) = work.remove(work.length - 1)
          if (ci == 0) {
            index(x) = counter; low(x) = counter; counter += 1
            stack += x; onStack(x) = ()
          }
          val kids = adj.getOrElse(x, empty)
          var i = ci
          var descended = false
          while (i < kids.length && !descended) {
            val y = kids(i)
            if (!index.contains(y)) {
              work += ((x, i + 1)); work += ((y, 0)); descended = true
            } else {
              if (onStack.contains(y) && low(x) > index(y)) low(x) = index(y)
              i += 1
            }
          }
          if (!descended) {
            if (low(x) == index(x)) {
              // pop the SCC, label with its min member id
              var j = stack.length - 1
              var minId = Long.MaxValue
              while (stack(j) != x) { minId = math.min(minId, stack(j)); j -= 1 }
              minId = math.min(minId, x)
              while (stack.length > j) {
                val m = stack.remove(stack.length - 1)
                onStack.remove(m)
                comp(m) = minId
              }
            }
            // propagate low to the parent when this frame returns
            if (work.nonEmpty) {
              val (p, _) = work(work.length - 1)
              if (low(p) > low(x)) low(p) = low(x)
            }
          }
        }
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](verts.size)
    verts.foreachKey { v => out += ((v, comp(v))) }
    out.toSeq
  }

  /** One-task twin of the temporal earliest-arrival relaxation: Dijkstra
    * by arrival time over temporal events (u, v, t), usable iff
    * t ≥ arrival(u). Arrival times are a unique fixpoint, so bit-equal
    * to the frontier rounds.
    */
  def temporalArrivalLocal(symT: DataFrame, source: Long, startT: Long): DataFrame = {
    val spark = symT.sparkSession
    import spark.implicits._
    symT.select(col("u").cast("long"), col("v").cast("long"), col("t").cast("long"))
      .as[(Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
        it.foreach { case (u, v, t) =>
          adj.getOrElseUpdate(u, new scala.collection.mutable.ArrayBuffer[(Long, Long)]()) += ((v, t))
        }
        val arr = new scala.collection.mutable.LongMap[Long]()
        arr(source) = startT
        val pq = new scala.collection.mutable.PriorityQueue[(Long, Long)]()(
          Ordering.by[(Long, Long), Long](_._1).reverse)
        pq.enqueue((startT, source))
        while (pq.nonEmpty) {
          val (a, u) = pq.dequeue()
          if (arr(u) == a) {
            adj.get(u).foreach(_.foreach { case (v, t) =>
              if (t >= a && arr.getOrElse(v, Long.MaxValue) > t) {
                arr(v) = t; pq.enqueue((t, v))
              }
            })
          }
        }
        arr.iterator.map { case (id, a) => (id, a) }
      }
      .toDF("id", "arrival")
  }

  /** One-task twin of the latest-departure relaxation (the dual):
    * max-heap Dijkstra, event (v, u, t) usable into u iff t ≤ lt(u)
    * wait — into v: lt(v) candidates are event times t with t ≤ lt(u).
    */
  def temporalDepartureLocal(symT: DataFrame, target: Long, deadline: Long): DataFrame = {
    val spark = symT.sparkSession
    import spark.implicits._
    symT.select(col("u").cast("long"), col("v").cast("long"), col("t").cast("long"))
      .as[(Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        // reverse orientation: an event (v → u at t) lets v leave at t
        // when t ≤ lt(u); index events by their head u
        val inAdj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
        it.foreach { case (v, u, t) =>
          inAdj.getOrElseUpdate(u, new scala.collection.mutable.ArrayBuffer[(Long, Long)]()) += ((v, t))
        }
        val lt = new scala.collection.mutable.LongMap[Long]()
        lt(target) = deadline
        val pq = new scala.collection.mutable.PriorityQueue[(Long, Long)]()(
          Ordering.by[(Long, Long), Long](_._1))
        pq.enqueue((deadline, target))
        while (pq.nonEmpty) {
          val (a, u) = pq.dequeue()
          if (lt(u) == a) {
            inAdj.get(u).foreach(_.foreach { case (v, t) =>
              if (t <= a && lt.getOrElse(v, Long.MinValue) < t) {
                lt(v) = t; pq.enqueue((t, v))
              }
            })
          }
        }
        lt.iterator.map { case (id, a) => (id, a) }
      }
      .toDF("id", "departure")
  }

  /** One-task twin of the frontier Bellman–Ford: replays the EXACT
    * round-synchronous relaxation (including the maxIter truncation
    * semantics — sssp has no fail-loud convergence contract, so the
    * output is "the distance table after ≤ maxIter frontier rounds"
    * and the twin must reproduce exactly that).
    */
  def ssspLocal(sym: DataFrame, source: Long, maxIter: Int): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    sym.select(col("u").cast("long"), col("v").cast("long"), col("w").cast("long"))
      .as[(Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
        it.foreach { case (u, v, w) =>
          adj.getOrElseUpdate(u, new scala.collection.mutable.ArrayBuffer[(Long, Long)]()) += ((v, w))
        }
        val dist = new scala.collection.mutable.LongMap[Long]()
        dist(source) = 0L
        var frontier: Array[Long] = Array(source)
        var iter = 0
        while (iter < maxIter && frontier.nonEmpty) {
          // synchronous: all relaxations read the ROUND-START distances
          // (an in-place read could propagate two hops in one round and
          // diverge from the round path's maxIter truncation semantics)
          val frozen = frontier.map(u => (u, dist(u)))
          val improved = scala.collection.mutable.LongMap.empty[Unit]
          frozen.foreach { case (u, du) =>
            adj.get(u).foreach(_.foreach { case (v, w) =>
              if (dist.getOrElse(v, Long.MaxValue) > du + w) {
                dist(v) = du + w; improved(v) = ()
              }
            })
          }
          frontier = { val b = new scala.collection.mutable.ArrayBuffer[Long](improved.size)
            improved.foreachKey(b += _); b.toArray }
          iter += 1
        }
        dist.iterator.map { case (id, d) => (id, d) }
      }
      .toDF("id", "dist")
  }

  /** One-task replay of the [[Traversals.kcore]] peel: synchronous
    * rounds (all vertices with current degree < k drop together),
    * edge-count-based convergence, and the same silent `maxIter`
    * truncation semantics. Input: SYMMETRIC dedup'd self-loop-free
    * pairs. Returns (id, core_degree) for surviving vertices with ≥ 1
    * surviving arc.
    */
  def kcoreLocal(sym: DataFrame, k: Int, maxIter: Int): DataFrame = {
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
        val off = new Array[Int](n + 1)
        arcs.foreach { case (u, _) => off(idx(u) + 1) += 1 }
        var i = 0
        while (i < n) { off(i + 1) += off(i); i += 1 }
        val tgt = new Array[Int](off(n))
        val fill = java.util.Arrays.copyOf(off, n)
        arcs.foreach { case (u, v) =>
          val ui = idx(u); tgt(fill(ui)) = idx(v); fill(ui) += 1
        }
        val deg = new Array[Int](n)
        i = 0; while (i < n) { deg(i) = off(i + 1) - off(i); i += 1 }
        val alive = Array.fill(n)(true)
        var m = arcs.length.toLong
        var changed = m > 0
        var iter = 0
        val removals = new scala.collection.mutable.ArrayBuffer[Int]()
        while (changed && iter < maxIter) {
          removals.clear()
          i = 0
          while (i < n) { if (alive(i) && deg(i) < k) removals += i; i += 1 }
          removals.foreach(alive(_) = false)
          removals.foreach { u =>
            var p = off(u)
            while (p < off(u + 1)) {
              val v = tgt(p)
              if (alive(v)) deg(v) -= 1
              p += 1
            }
          }
          var m2 = 0L
          i = 0
          while (i < n) { if (alive(i)) m2 += deg(i); i += 1 }
          changed = m2 != m
          m = m2
          iter += 1
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        i = 0
        while (i < n) {
          if (alive(i) && deg(i) > 0) out += ((ids(i), deg(i).toLong))
          i += 1
        }
        out.iterator
      }
      .toDF("id", "core_degree")
  }

  private val Two31 = 2147483648L
  private val Knuth = 2654435761L
  /** JVM twin of [[graft.Portable.prio31]] (non-negative ids). */
  private def prio31(x: Long): Long =
    Math.floorMod(Math.floorMod(x, Two31) * Knuth, Two31)

  private def greedyColors(
      adj: scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]])
      : Seq[(Long, Long)] = {
    val n = adj.size
    if (n == 0) return Nil
    val ids = new Array[Long](n)
    var i = 0
    adj.foreachKey { k => ids(i) = k; i += 1 }
    // sequential greedy in (prio31(id), id) order
    val order = ids.map(Long.box).sortBy(x => (prio31(x), x.longValue))
    val color = new scala.collection.mutable.LongMap[Long](n * 2)
    val usedScratch = new scala.collection.mutable.BitSet()
    order.foreach { idBox =>
      val id = idBox.longValue
      usedScratch.clear()
      val nbrs = adj(id)
      var j = 0
      while (j < nbrs.length) {
        color.get(nbrs(j)).foreach(c => usedScratch += c.toInt)
        j += 1
      }
      var c = 0
      while (usedScratch.contains(c)) c += 1
      color(id) = c.toLong
      ()
    }
    ids.toSeq.map(id => (id, color(id)))
  }
}
