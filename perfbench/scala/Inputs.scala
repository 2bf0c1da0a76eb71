package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Everything here is plain driver memory: the
  * same seed always yields the same arrays, and the program only ever
  * sees them as local DataFrames built from these arrays.
  */
object Inputs {

  /** Directed edge with an event time (epoch seconds) and a weight. */
  final case class Edge(src: Long, dst: Long, ts: Long, value: Double)

  final case class Doc(id: Long, text: String)

  /** Event-time origin of generated streams: 2024-01-01T00:00:00Z. */
  val Epoch0 = 1704067200L

  /** Power-law directed graph: half of the endpoints are drawn with a
    * strong skew toward a few hub vertices, half uniformly, so the graph
    * has hubs, a giant component and a tail of small components.
    * Self-loops and duplicate (src, dst) pairs are dropped. Vertex ids
    * are a seeded permutation, so hubs are not the smallest ids.
    * Event times spread over `spanSec` seconds.
    */
  def powerLawGraph(seed: Long, nVertices: Int, nEdges: Int,
                    spanSec: Long = 4 * 3600L): Array[Edge] = {
    val r = new SplittableRandom(seed)
    val ids = permutation(r, nVertices).map(i => 1000L + 7L * i)
    def endpoint(): Long = {
      val i = if (r.nextBoolean()) (nVertices * math.pow(r.nextDouble(), 3.0)).toInt
              else r.nextInt(nVertices)
      ids(math.min(i, nVertices - 1))
    }
    val seen = mutable.HashSet.empty[(Long, Long)]
    val out = Array.newBuilder[Edge]
    var tries = 0
    while (seen.size < nEdges && tries < nEdges * 4) {
      tries += 1
      val s = endpoint(); val d = endpoint()
      if (s != d && seen.add((s, d)))
        out += Edge(s, d, Epoch0 + r.nextLong(spanSec), 1.0 + r.nextInt(10))
    }
    out.result()
  }

  /** Corpus with planted near-duplicates: `nPlanted` of the `nDocs` are
    * copies of a document of `copyOf` (or of this corpus) with one or two
    * of its 40–80 tokens replaced, so their 2-shingle Jaccard to the
    * original is above 0.85, far above any pair of independent documents.
    */
  def corpus(seed: Long, nDocs: Int, nPlanted: Int, firstId: Long = 1L,
             copyOf: Array[Doc] = Array.empty): Array[Doc] = {
    val r = new SplittableRandom(seed ^ 0xd0c5L)
    val vocab = Array.tabulate(4000)(i => "w" + Integer.toString(i, 36))
    def word(): String = vocab((vocab.length * math.pow(r.nextDouble(), 2.0)).toInt)
    val fresh = nDocs - nPlanted
    val docs = Array.tabulate(fresh) { i =>
      Doc(firstId + i, Array.fill(40 + r.nextInt(41))(word()).mkString(" "))
    }
    val sources = if (copyOf.nonEmpty) copyOf else docs
    val planted = Array.tabulate(nPlanted) { j =>
      val src = sources(r.nextInt(sources.length))
      val toks = src.text.split(" ")
      (0 until 1 + r.nextInt(2)).foreach(_ => toks(r.nextInt(toks.length)) = "x" + r.nextInt(1 << 20))
      Doc(firstId + fresh + j, toks.mkString(" "))
    }
    docs ++ planted
  }

  private def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Order-independent 64-bit checksum of a collection of records. */
  def checksum(items: Iterable[Any]): Long =
    items.foldLeft(0L)((acc, x) => acc + mix(x.toString))

  private def mix(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x4321)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
}
