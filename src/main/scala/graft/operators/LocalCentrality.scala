package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-task EXACT replays of the sampled-centrality family
  * ([[Centrality]]) — forward BFS σ layers + backward DAG passes from
  * a fixed source sample, in one `coalesce(1).mapPartitions` task.
  * Every quantity the round path computes is replayed with the same
  * integer arithmetic: σ sums over the predecessor layer (Long adds —
  * associative/commutative even under wrap), backward path counts
  * p(v) = Σ (1 + p(w)), and the betweenness micro-unit terms
  * (σ_v·(scale + δµ_w)) div σ_w with the identical truncating Long
  * division — so the outputs are bit-equal by construction. The
  * maxDepth fail-loud budget is mirrored exactly: the round path
  * errors when the layer at depth == maxDepth is non-empty, with the
  * count of exactly that layer's (source, vertex) pairs in the
  * message. The output is cut, so both checks fail at the call, as on
  * the round path.
  */
object LocalCentrality {

  import scala.collection.mutable.{ArrayBuffer, LongMap}

  sealed trait Mode
  case object Stress extends Mode
  case object Betweenness extends Mode
  case object Harmonic extends Mode

  /** `sym`: SYMMETRIC dedup'd pair list (u, v). Output:
    * Stress → (id, stress) positive rows; Betweenness → (id, btw_mu)
    * positive rows; Harmonic → (id, close_mu) reached rows.
    */
  def centralityLocal(sym: DataFrame, sources: Seq[Long], maxDepth: Int,
                      scale: Long, mode: Mode, opName: String): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val srcArr = sources.toArray
    val ds = sym.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val adj = new LongMap[ArrayBuffer[Long]]()
        it.foreach { case (u, v) =>
          adj.getOrElseUpdate(u, new ArrayBuffer[Long]()) += v
        }
        val acc = new LongMap[Long]() // vertex -> summed centrality
        var atBudget = 0L // (s, v) pairs first reached at depth maxDepth
        var reachedDeep = false // any pair at depth >= 1 (harmonic guard)
        srcArr.foreach { s =>
          // forward BFS: dist + sigma, layer lists
          val dist = new LongMap[Int]()
          val sig = new LongMap[Long]()
          dist(s) = 0; sig(s) = 1L
          var frontier = Array(s)
          var d = 0
          val layers = new ArrayBuffer[Array[Long]]()
          layers += frontier
          // expand one extra level past the budget only to COUNT the
          // at-budget layer for the fail-loud message; the round path
          // computes that layer, counts it, and stops
          while (frontier.nonEmpty && d < maxDepth) {
            val nxt = new LongMap[Long]() // vertex -> sigma sum
            frontier.foreach { u =>
              val su = sig(u)
              adj.get(u).foreach(_.foreach { v =>
                if (!dist.contains(v)) nxt(v) = nxt.getOrElse(v, 0L) + su
              })
            }
            if (nxt.nonEmpty) {
              d += 1
              val arr = new Array[Long](nxt.size)
              var i = 0
              nxt.foreach { case (v, sv) =>
                dist(v) = d; sig(v) = sv; arr(i) = v; i += 1
              }
              frontier = arr
              layers += arr
              if (d == maxDepth) atBudget += arr.length.toLong
            } else frontier = Array.emptyLongArray
          }
          if (layers.length > 1) reachedDeep = true
          if (atBudget == 0L) {
            mode match {
              case Harmonic =>
                // contribution scale div depth per reached pair, depth >= 1
                var depth = 1
                while (depth < layers.length) {
                  val c = scale / depth
                  layers(depth).foreach { v => acc(v) = acc.getOrElse(v, 0L) + c }
                  depth += 1
                }
              case Stress =>
                // backward DAG path counts p(v) = Σ_{succ w} (1 + p(w))
                val p = new LongMap[Long]()
                var depth = layers.length - 1
                layers(depth).foreach(v => p(v) = 0L)
                depth -= 1
                while (depth >= 0) {
                  layers(depth).foreach { v =>
                    var pv = 0L
                    adj.get(v).foreach(_.foreach { w =>
                      if (dist.getOrElse(w, -1) == depth + 1) pv += 1L + p(w)
                    })
                    p(v) = pv
                  }
                  depth -= 1
                }
                // contribution σ(v)·p(v), v ≠ s, over every layer
                dist.foreach { case (v, _) =>
                  if (v != s) acc(v) = acc.getOrElse(v, 0L) + sig(v) * p(v)
                }
              case Betweenness =>
                // δµ(v) = Σ_{succ w} (σ_v·(scale + δµ_w)) div σ_w
                val del = new LongMap[Long]()
                var depth = layers.length - 1
                layers(depth).foreach(v => del(v) = 0L)
                depth -= 1
                while (depth >= 0) {
                  layers(depth).foreach { v =>
                    var dv = 0L
                    val sv = sig(v)
                    adj.get(v).foreach(_.foreach { w =>
                      if (dist.getOrElse(w, -1) == depth + 1)
                        dv += (sv * (scale + del(w))) / sig(w)
                    })
                    del(v) = dv
                  }
                  depth -= 1
                }
                dist.foreach { case (v, _) =>
                  if (v != s) acc(v) = acc.getOrElse(v, 0L) + del(v)
                }
            }
          }
        }
        require(atBudget == 0L,
          s"$opName: BFS frontier still non-empty at maxDepth=$maxDepth " +
            s"($atBudget (source, vertex) pairs unreached) — raise maxDepth; " +
            "results would undercount on deeper graphs")
        if (mode == Harmonic) require(reachedDeep,
          "harmonicCloseness: no vertex reachable from any source (isolated sources)")
        val out = new ArrayBuffer[(Long, Long)](acc.size)
        mode match {
          case Harmonic =>
            acc.foreach { case (v, c) => out += ((v, c)) }
          case _ =>
            acc.foreach { case (v, c) => if (c > 0L) out += ((v, c)) }
        }
        out.iterator
      }
    // the cut runs the task now, so the fail-loud checks above throw at
    // the call, as the round path's do on the driver
    graft.Lineage.cut(mode match {
      case Stress => ds.toDF("id", "stress")
      case Betweenness => ds.toDF("id", "btw_mu")
      case Harmonic => ds.toDF("id", "close_mu")
    })
  }
}
