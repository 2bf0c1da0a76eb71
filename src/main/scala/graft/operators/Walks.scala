package graft.operators

import graft.Lineage.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic "random" walks — the DeepWalk / node2vec
  * corpus-generation shape (Perozzi et al. 2014; Grover & Leskovec
  * 2016, both public): graph → vertex sequences, the training-data
  * precursor for graph embeddings. From every start vertex, `len`
  * steps over the undirected view; the step-t successor of vertex c is
  * the neighbor n minimizing the portable integer hash h(c, t, n) — a
  * deterministic stand-in for uniform neighbor sampling that is
  * (a) exactly replayable in any engine (pure 64-bit integer
  * arithmetic, the q191 multiplicative-hash family, so the DuckDB
  * oracle unrolls the walk step by step), and (b) STEP-KEYED, so a
  * walk revisiting a vertex at a different step draws a different
  * "coin" and does not lock into 2-cycles.
  *
  * Output: (start_id, step, vertex) rows, step 0..len. Dead ends
  * cannot occur on the symmetrized view (every start has ≥1 neighbor
  * by construction — starts are edge endpoints).
  *
  * Scale shape: `len` rounds, each ONE join of the |starts|-row walker
  * frontier against the adjacency (keyed on the current vertex — the
  * adjacency is the big, co-located side; the frontier is the small
  * shuffling side) + one min(struct) argmin per walker — map-side
  * partial aggregation, work ∝ Σ deg(cur) per round, no driver action
  * in the loop. [[biasedWalks]] is the node2vec p/q variant — same
  * plan with the hash comparison domain weighted; uniform here.
  */
object Walks {

  /** The portable step-keyed coin h(cur, t, v) — the ONE hash both walk
    * variants and both oracles unroll.
    */
  private def stepHash(t: Int): org.apache.spark.sql.Column = {
    val t31 = lit(2147483648L)
    pmod(pmod(pmod(col("cur") % t31 * 31 + lit(t.toLong), t31) * 31
      + col("v"), t31) * lit(2654435761L), t31)
  }

  /** One UNIFORM step: every walker moves to the argmin-hash neighbor
    * of its current vertex. Returns (start_id, cur). Shared verbatim by
    * [[deterministicWalks]] (every step) and [[biasedWalks]] (step 1).
    */
  private def uniformStep(cur: DataFrame, sym: DataFrame, t: Int): DataFrame =
    cur.join(sym, cur("cur") === sym("u"))
      .groupBy("start_id")
      .agg(min(struct(stepHash(t).as("h"), col("v").as("n"))).as("m"))
      .select(col("start_id"), col("m.n").as("cur"))

  def deterministicWalks(edges: DataFrame, len: Int): DataFrame = {
    require(len >= 0, s"walk length must be non-negative, got $len")
    val sym = Traversals.symmetrize(edges).cutLineage()
    if (LocalGraph.oneTask("deterministicWalks", sym))
      return walksLocal(sym, len, biased = false, 0L, 0L, 0L)
    var cur = sym.select(col("u").as("start_id")).distinct()
      .withColumn("cur", col("start_id")).cutLineage()
    val frames = scala.collection.mutable.ArrayBuffer(
      cur.select(col("start_id"), lit(0L).as("step"), col("cur").as("vertex")))
    for (t <- 1 to len) {
      cur = uniformStep(cur, sym, t).cutLineage()
      frames += cur.select(col("start_id"), lit(t.toLong).as("step"),
        col("cur").as("vertex"))
    }
    frames.reduce(_ unionByName _)
  }

  /** SECOND-ORDER biased walks — the node2vec shape (Grover & Leskovec
    * 2016): the step-t successor of cur depends on where the walk came
    * FROM. Each candidate neighbor n of cur falls into one of three
    * classes by its distance to prev — d(prev,n)=0 (the return),
    * d=1 (prev's neighbor: BFS-ish stay-local), d=2 (everything else:
    * DFS-ish move-away) — and node2vec weights them 1/p, 1, 1/q.
    *
    * Determinization: the successor is the argmin of
    * `h(cur, t, n) · factor(class)` under the same portable step-keyed
    * hash as [[deterministicWalks]], factors (fReturn, fNear, fFar)
    * playing 1/p, 1, 1/q — a SMALLER factor compresses the class's
    * priority range toward 0 and so wins the argmin more often,
    * reproducing the bias direction exactly replayably (pure 64-bit
    * integer arithmetic; the DuckDB oracle unrolls step by step with
    * the identical CASE). The defaults (4, 1, 2) mirror the classic
    * p=4, q=2 "discourage backtrack, prefer locality" setting. This is
    * a deterministic corpus generator BIASED LIKE node2vec, not a
    * sampler of its exact distribution — the property that matters for
    * replayable training data.
    *
    * The d(prev,n) classification is the distributed-systems crux of
    * node2vec: it needs edge-existence lookups (prev,n) per candidate.
    * Here it is ONE left-semi-shaped join of the candidate set against
    * the symmetric edge list per step — work ∝ Σ deg(cur) per round,
    * the same profile as the uniform walk plus one join; no adjacency
    * sets are ever collected to memory.
    *
    * Step 1 has no prev and is uniform (= [[deterministicWalks]]'s
    * coin); from step 2 on, prev is live. Output: (start_id, step,
    * vertex), step 0..len.
    */
  def biasedWalks(edges: DataFrame, len: Int,
                  fReturn: Long = 4L, fNear: Long = 1L,
                  fFar: Long = 2L): DataFrame = {
    require(len >= 0, s"walk length must be non-negative, got $len")
    require(fReturn > 0 && fNear > 0 && fFar > 0, "bias factors must be positive")
    val sym = Traversals.symmetrize(edges).cutLineage()
    if (LocalGraph.oneTask("biasedWalks", sym))
      return walksLocal(sym, len, biased = true, fReturn, fNear, fFar)
    var cur = sym.select(col("u").as("start_id")).distinct()
      .withColumn("cur", col("start_id")).cutLineage()
    val frames = scala.collection.mutable.ArrayBuffer(
      cur.select(col("start_id"), lit(0L).as("step"), col("cur").as("vertex")))
    // step 1: THE uniform coin ([[uniformStep]] — shared, not copied),
    // prev = start
    if (len >= 1) {
      cur = uniformStep(cur, sym, 1)
        .select(col("start_id"), col("start_id").as("prev"), col("cur"))
        .cutLineage()
      frames += cur.select(col("start_id"), lit(1L).as("step"),
        col("cur").as("vertex"))
    }
    for (t <- 2 to len) {
      val cands = cur.join(sym, cur("cur") === sym("u"))
        .select(col("start_id"), col("prev"), col("cur"), col("v"),
          stepHash(t).as("hv"))
      // d(prev, n) = 1 iff (prev, n) is an edge — one join against the
      // static symmetric edge list, flagging candidates
      val adj = sym.select(col("u").as("prev"), col("v"), lit(1).as("near"))
      val classed = cands.join(adj, Seq("prev", "v"), "left")
        .select(col("start_id"), col("v"),
          (col("hv") * when(col("v") === col("prev"), lit(fReturn))
            .when(col("near").isNotNull, lit(fNear))
            .otherwise(lit(fFar))).as("pri"))
      cur = classed.groupBy("start_id")
        .agg(min(struct(col("pri"), col("v").as("n"))).as("m"))
        .join(cur.select(col("start_id"), col("cur").as("pc")), Seq("start_id"))
        .select(col("start_id"), col("pc").as("prev"), col("m.n").as("cur"))
        .cutLineage()
      frames += cur.select(col("start_id"), lit(t.toLong).as("step"),
        col("cur").as("vertex"))
    }
    frames.reduce(_ unionByName _)
  }

  /** One-task replay of both walk variants: same step-keyed integer
    * hash, same (priority, neighbor) lexicographic argmin, same
    * return/near/far classification — bit-equal by construction. Input
    * is the shared [[Traversals.symmetrize]] view, cut. Returns
    * (start_id, step, vertex).
    */
  private def walksLocal(sym: DataFrame, len: Int, biased: Boolean,
                         fReturn: Long, fNear: Long, fFar: Long): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val Two31 = 2147483648L
    val Knuth = 2654435761L
    sym.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.LongMap[Unit]]()
        it.foreach { case (u, v) =>
          adj.getOrElseUpdate(u, new scala.collection.mutable.LongMap[Unit]())(v) = ()
        }
        // JVM twin of [[stepHash]]: pmod chain in pure Long arithmetic
        // (`%` on non-negative ids matches Spark's remainder)
        def h(cur: Long, t: Int, v: Long): Long = {
          val a = Math.floorMod(cur % Two31 * 31L + t.toLong, Two31)
          val b = Math.floorMod(a * 31L + v, Two31)
          Math.floorMod(b * Knuth, Two31)
        }
        val starts = new Array[Long](adj.size)
        var i = 0
        adj.foreachKey { k => starts(i) = k; i += 1 }
        starts.iterator.flatMap { start =>
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](len + 1)
          out += ((start, 0L, start))
          var prev = start
          var cur = start
          for (t <- 1 to len) {
            var bestPri = Long.MaxValue
            var bestV = Long.MaxValue
            adj(cur).foreachKey { v =>
              val pri =
                if (!biased || t == 1) h(cur, t, v)
                else {
                  val f =
                    if (v == prev) fReturn
                    else if (adj.get(prev).exists(_.contains(v))) fNear
                    else fFar
                  h(cur, t, v) * f
                }
              if (pri < bestPri || (pri == bestPri && v < bestV)) {
                bestPri = pri; bestV = v
              }
            }
            prev = cur
            cur = bestV
            out += ((start, t.toLong, cur))
          }
          out.iterator
        }
      }
      .toDF("start_id", "step", "vertex")
  }
}
