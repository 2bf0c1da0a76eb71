package graft.summaries

import scala.collection.mutable

/** Union-find graph summary — the Spark re-expression of the reference's
  * `DisjointSet<R>` (GS/summaries/DisjointSet.java, ~130 LoC): mergeable,
  * bounded (≤|V| entries), monotone under the insert-only edge model, so
  * any merge order yields the same components.
  *
  * Union by size + iterative path compression (no recursion — safe for
  * long chains). Used as the buffer of
  * [[graft.operators.ConnectedComponentsAgg]].
  */
final class DisjointSet extends Serializable {
  val parent: mutable.LongMap[Long] = mutable.LongMap.empty
  val treeSize: mutable.LongMap[Long] = mutable.LongMap.empty

  def contains(x: Long): Boolean = parent.contains(x)

  def makeSet(x: Long): Unit =
    if (!parent.contains(x)) { parent(x) = x; treeSize(x) = 1L }

  def find(x: Long): Long = {
    var root = x
    while (parent(root) != root) root = parent(root)
    // path compression
    var cur = x
    while (parent(cur) != root) { val next = parent(cur); parent(cur) = root; cur = next }
    root
  }

  def union(a: Long, b: Long): Unit = {
    makeSet(a); makeSet(b)
    val ra = find(a); val rb = find(b)
    if (ra != rb) {
      val (big, small) = if (treeSize(ra) >= treeSize(rb)) (ra, rb) else (rb, ra)
      parent(small) = big
      treeSize(big) += treeSize(small)
    }
  }

  /** Merge another summary in by replaying its (vertex → root) pairs —
    * the associative/commutative combine the reference requires of its
    * window partials (GS/WindowGraphAggregation.java:~45).
    */
  def mergeFrom(other: DisjointSet): DisjointSet = {
    other.parent.foreachKey { v => union(v, other.find(v)) }
    this
  }

  /** (vertex, component-label) with label = min vertex id of the component. */
  def components: Map[Long, Long] = {
    val minOf = mutable.LongMap.empty[Long]
    parent.foreachKey { v =>
      val r = find(v)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), v)
    }
    val out = Map.newBuilder[Long, Long]
    parent.foreachKey { v => out += v -> minOf(find(v)) }
    out.result()
  }
}
