package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

import graft.operators.{Centrality, Communities, PageRank}
import graft.streaming.StreamingOps

/** The session conf that lets a JVM compile each generated class once
  * ([[GraftSession.configure]]): a codegen cache larger than the working
  * set, and no per-session executor class loader to key it on.
  */
class CodegenReuseSpec extends SparkTestBase {

  private val CacheSize = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
  private val Isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  /** Janino compiles (codegen cache misses) during `f`. */
  private def compiles[A](f: => A): (A, Long) = {
    val (a, layers) = RunRecorder.measure(spark, "codegen-reuse")(f)
    (a, layers.compiles)
  }

  /** Empties Spark's codegen cache, so that the next block compiles its
    * whole working set whatever earlier suites in this JVM compiled. The
    * cache is a private field of `CodeGenerator`, hence the reflection.
    */
  private def emptyCodegenCache(): Unit = {
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val cache = get.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a localBuilder session and its newSession() clone carry the cache size and no isolation") {
    for (s <- Seq(spark, spark.newSession())) {
      assert(s.conf.get(CacheSize) == "5000")
      assert(s.conf.get(Isolation) == "false")
    }
  }

  test("a second connected-components replay on the same edges reuses the first one's classes") {
    val edges = edgeDf((1L to 20L).map(i => (i, if (i % 5 == 0) i + 100 else i + 1)))
    val triggers = 3
    def replay(): Set[(Long, Long)] =
      collectPairs(StreamingOps.replayConnectedComponents(edges, triggers))
    val (first, _) = compiles(replay())
    val (second, n) = compiles(replay())
    assert(second == first && first.nonEmpty)
    // what is left is one class per trigger that reads state: Spark's
    // FlatMapGroupsWithStateExecHelper resolves the state deserializer
    // again for each micro-batch, with fresh MapObjects lambda-variable
    // ids in its source
    assert(n <= triggers - 1, s"$n compiles on the second replay")
  }

  test("repeating a working set of more than 100 classes at bar 0 compiles a tenth of it at most") {
    val r = new java.util.SplittableRandom(17L)
    val edges = edgeDf(Seq.fill(240)((r.nextLong(60), r.nextLong(60)))
      .filter { case (s, d) => s != d }.distinct)
    def workingSet(): Seq[Int] = atBarZero(Seq(
      PageRank.fixedPoint(edges, 3).collect().length,
      Communities.louvain(edges, 1).collect().length,
      Centrality.betweennessCentrality(edges, Seq(1L, 7L)).collect().length))
    emptyCodegenCache()
    val (rows, cold) = compiles(workingSet())
    val (again, warm) = compiles(workingSet())
    assert(again == rows)
    assert(cold > 100, s"a working set of $cold classes does not exceed the 100-entry default")
    assert(warm * 10 <= cold, s"$warm of $cold compiles repeated")
  }
}
