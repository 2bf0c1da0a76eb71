package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

class RunRecorderSpec extends SparkTestBase {

  test("a labelled count over a shuffle records its jobs, the same block twice the same layers") {
    def block(): Long =
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().count()
    val (n1, first) = RunRecorder.measure(spark, "twice")(block())
    val (n2, second) = RunRecorder.measure(spark, "twice")(block())
    assert(n1 == 7 && n2 == 7)
    assert(first.jobs >= 1 && first.stages >= 2 && first.tasks >= 4, first)
    assert(first.shuffleWriteMb > 0 && first.shuffleReadMb > 0, first)
    assert(first.stagesPerJob.size == first.jobs && first.stagesPerJob.sum == first.stages)
    // task time is a duration, and the first block may compile what the
    // second reuses; everything else is a count of the same work
    assert(first.copy(taskS = 0, compiles = 0) == second.copy(taskS = 0, compiles = 0))
  }

  test("a block records the Janino compiles of its new code, and none when it runs again") {
    // a long literal is inlined into the generated source, so this
    // projection's classes are new to the codegen cache
    val k = System.nanoTime()
    def block(): Long = spark.range(0, 100, 1, 2).selectExpr(s"id * ${k}L + 7 AS x")
      .where(s"x % ${k}L = 7").count()
    val (n1, first) = RunRecorder.measure(spark, "compiles")(block())
    val (n2, again) = RunRecorder.measure(spark, "compiles")(block())
    assert(n1 == 100 && n2 == 100)
    assert(first.compiles >= 1, first)
    assert(again.compiles == 0, again)
  }

  test("a job another thread starts during the block, outside its label, is not counted") {
    val sc = spark.sparkContext
    val go = new CountDownLatch(1)
    val outside = new AtomicLong(-1)
    // built before the block, so the thread inherits no label
    val other = new Thread(() => { go.await(); outside.set(sc.parallelize(1 to 100, 3).count()) })
    other.start()
    val (n, layers) = RunRecorder.measure(spark, "mine") {
      go.countDown()
      other.join()
      sc.parallelize(1 to 10, 2).count()
    }
    assert(outside.get == 100 && n == 10)
    assert(layers == Layers(1, 1, 2, layers.taskS, 0.0, 0.0, Seq(1), layers.compiles))
  }

  test("a broadcast join's broadcast job is attributed to the block") {
    val big = spark.range(0, 10000, 1, 4).toDF("k")
    // the broadcast side's job runs on a broadcast thread, one task per
    // partition of the small side; nothing else depends on that count
    def run(smallParts: Int): Layers = {
      val joined = big.join(broadcast(spark.range(0, 10, 1, smallParts).toDF("k")), "k")
      val (n, layers) = RunRecorder.measure(spark, s"bhj-$smallParts")(joined.count())
      assert(n == 10)
      assert(joined.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
      layers
    }
    val two = run(2)
    val five = run(5)
    assert(five.jobs == two.jobs && five.stages == two.stages, s"$two vs $five")
    assert(five.tasks == two.tasks + 3, s"$two vs $five")
  }

  test("a streaming replay's trigger jobs are attributed to the block") {
    val edges = edgeDf((1L to 12L).map(i => (i, i + 1)))
    // the driver-side jobs (reading the edges, collecting the result)
    // are the same for any batch count; each trigger adds its own
    def replay(nBatches: Int): Layers = {
      val (cc, layers) = RunRecorder.measure(spark, s"replay-$nBatches")(
        StreamingOps.replayConnectedComponents(edges, nBatches).collect())
      assert(cc.map(_.getLong(1)).toSet == Set(1L))
      layers
    }
    val one = replay(1)
    val four = replay(4)
    assert(four.jobs >= one.jobs + 3, s"1 trigger: $one; 4 triggers: $four")
  }
}
