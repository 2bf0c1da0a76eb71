package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.SummaryAggregations
import graft.streaming.StreamingOps

/** Streaming parity (SURVEY §5.4): batch queries replayed through a
  * MemoryStream in ascending-ts order with watermark 0 must converge to
  * the batch answer — the reference's ascending-time contract.
  */
class StreamingSpec extends SparkTestBase {

  private val sampleEdges = Seq(
    (1L, 2L, 1.0, 0L), (1L, 3L, 2.0, 60L), (2L, 3L, 3.0, 120L),
    (3L, 4L, 4.0, 180L), (4L, 1L, 5.0, 240L), (5L, 6L, 6.0, 300L))

  private def edgesFrom(ms: MemoryStream[(Long, Long, Double, Long)]): DataFrame =
    ms.toDF().toDF("src", "dst", "value", "secs")
      .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")

  private def batchEdges: DataFrame = {
    import spark.implicits._
    sampleEdges.toDF("src", "dst", "value", "secs")
      .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")
  }

  test("running degrees over a stream equal batch degrees") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double, Long)]
    val q = StreamingOps.runningDegrees(GraphStream(edgesFrom(ms)))
      .writeStream.outputMode("complete").format("memory").queryName("deg").start()
    try {
      val (h, t) = sampleEdges.splitAt(3)
      ms.addData(h); q.processAllAvailable()
      ms.addData(t); q.processAllAvailable()
      val streamed = spark.table("deg").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = GraphStream(batchEdges).getDegrees.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("running connected components converge to batch CC") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double, Long)]
    val ckpt = Files.createTempDirectory("cc-ckpt").toString
    val q = StreamingOps.runningConnectedComponents(edgesFrom(ms))
      .toDF("id", "component")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("cc").start()
    try {
      val (h, t) = sampleEdges.splitAt(2)
      ms.addData(h); q.processAllAvailable()
      ms.addData(t); q.processAllAvailable()
      // labels merge downward over time: latest assignment = min per id
      val streamed = spark.table("cc").groupBy("id")
        .agg(min("component").as("component"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = SummaryAggregations.connectedComponents(batchEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("distributed ingest: multi-partition micro-batches pre-fold per partition and merge partials") {
    import spark.implicits._
    // a 4-partition MemoryStream spreads each trigger's edges across 4
    // input tasks — the per-partition fold produces up to 4 partials per
    // trigger and the single stateful group must merge them into the
    // same components as the one-shot batch (cross-partition merges
    // included: the chain below only connects through partial merging)
    val ms = MemoryStream[(Long, Long, Double, Long)](spark, numPartitions = 4)
    val ckpt = Files.createTempDirectory("cc-multipart-ckpt").toString
    val chain = (1L until 40L).map(i => (i, i + 1, 1.0, i * 60L)) ++
      Seq((100L, 101L, 1.0, 3000L), (102L, 103L, 1.0, 3060L))
    val q = StreamingOps.runningConnectedComponents(edgesFrom(ms))
      .toDF("id", "component")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("cc_mp").start()
    try {
      val (h, t) = chain.splitAt(20)
      ms.addData(h); q.processAllAvailable()
      ms.addData(t); q.processAllAvailable()
      val streamed = spark.table("cc_mp").groupBy("id")
        .agg(min("component").as("component"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = SummaryAggregations.connectedComponents(
          chain.toDF("src", "dst", "value", "secs")
            .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
    // same discipline for parity state: an odd cycle whose edges land in
    // DIFFERENT partitions is only caught by the partial merge
    val ms2 = MemoryStream[(Long, Long, Double, Long)](spark, numPartitions = 4)
    val ckpt2 = Files.createTempDirectory("bip-multipart-ckpt").toString
    val q2 = StreamingOps.runningBipartiteness(edgesFrom(ms2))
      .toDF("ok")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt2)
      .format("memory").queryName("bip_mp").start()
    try {
      ms2.addData(Seq((1L, 2L, 1.0, 0L), (2L, 3L, 1.0, 60L), (3L, 1L, 1.0, 120L)))
      q2.processAllAvailable()
      val verdicts = spark.table("bip_mp").collect().map(_.getBoolean(0))
      assert(verdicts.nonEmpty && !verdicts.last)
    } finally q2.stop()
  }

  test("restart recovery: CC summary state restores from the checkpoint across stop/start") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // path 1-2-3-4 split so the cross-half merge (2,3) arrives ONLY
    // after the restart: with recovered union-find state the final
    // labels collapse to component 1; with lost state the second run
    // could only ever see {2,3} and the assert fails — the discriminator
    // for real state-store recovery, not accidental re-emission
    val firstHalf = Seq((1L, 2L, 1.0, 0L), (3L, 4L, 1.0, 60L))
    val secondHalf = Seq((2L, 3L, 1.0, 120L))
    val ms = MemoryStream[(Long, Long, Double, Long)]
    val ckpt = Files.createTempDirectory("cc-restart-ckpt").toString
    // foreachBatch is the recoverable sink (the memory sink refuses an
    // existing checkpoint); each run collects its own emissions
    def start(sink: scala.collection.mutable.ListBuffer[(Long, Long)]) =
      StreamingOps.runningConnectedComponents(edgesFrom(ms))
        .toDF("id", "component")
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          sink.synchronized {
            sink ++= b.collect().map(r => (r.getLong(0), r.getLong(1)))
          }; ()
        }.start()
    val run1 = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val run2 = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val q1 = start(run1)
    try {
      ms.addData(firstHalf); q1.processAllAvailable()
    } finally q1.stop()
    // kill-and-restart: a NEW query object, same checkpoint dir, same
    // source — resumes from the committed offset with restored state
    val q2 = start(run2)
    try {
      ms.addData(secondHalf); q2.processAllAvailable()
      // the post-restart emission alone carries the fully-merged labels
      val streamed = run2.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).min }
      assert(streamed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    } finally q2.stop()
  }

  test("restart recovery: dedup keyed state survives stop/start — no re-emission, no loss") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // duplicates STRADDLE the restart: doc 11/21 re-arrive (same text)
    // after the stop — only recovered dropDuplicates state can suppress
    // them; doc 31 is genuinely new after restart and must survive
    val before = Seq((11L, "en", "alpha text"), (12L, "en", "beta text"),
      (21L, "de", "gamma text"))
    val after = Seq((13L, "en", "alpha text"), (22L, "de", "gamma text"),
      (31L, "fr", "delta text"))
    val ms = MemoryStream[(Long, String, String)]
    val ckpt = Files.createTempDirectory("dedup-restart-ckpt").toString
    def start(sink: scala.collection.mutable.ListBuffer[Long]) =
      StreamingOps.streamingExactDedup(ms.toDF().toDF("doc_id", "lang", "text"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          sink.synchronized { sink ++= b.select("doc_id").collect().map(_.getLong(0)) }; ()
        }.start()
    val run1 = scala.collection.mutable.ListBuffer.empty[Long]
    val run2 = scala.collection.mutable.ListBuffer.empty[Long]
    val q1 = start(run1)
    try {
      ms.addData(before); q1.processAllAvailable()
      assert(run1.toSet == Set(11L, 12L, 21L))
    } finally q1.stop()
    val q2 = start(run2)
    try {
      ms.addData(after); q2.processAllAvailable()
      // run 2's emissions are ONLY what the restored state lets through
      assert(run2.toSet == Set(31L),
        s"restored state should suppress straddling dups, got ${run2.toSet}")
    } finally q2.stop()
  }

  test("replay harness converges to the one-shot batch CC (q45 semantics)") {
    val e = graft.model.GraphFixtures.edgeStream(spark, sf)
    val got = StreamingOps.replayConnectedComponents(e, nBatches = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = SummaryAggregations.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == batch)
  }

  test("replay harnesses leave no checkpoint directory behind") {
    def replayDirs(): Set[java.io.File] =
      Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
        .flatMap(d => Option(new java.io.File(d).listFiles()).toSeq.flatten)
        .filter(f => f.isDirectory && f.getName.startsWith("graft-replay-")).toSet
    val before = replayDirs()
    StreamingOps.replayConnectedComponents(
      edgeDf(Seq((1L, 2L), (2L, 3L), (7L, 8L))), nBatches = 3).collect()
    val docs = graft.model.Tables.documents(spark, sf)
    graft.functions.DedupIndex.save(docs.where(col("doc_id") % 10 =!= 5),
      "graft_dedup_leak_spec")
    StreamingOps.replayDedupIngest(docs.where(col("doc_id") % 10 === 5),
      "graft_dedup_leak_spec")
    val leaked = replayDirs() -- before
    assert(leaked.isEmpty, s"left behind: ${leaked.mkString(", ")}")
  }

  test("replayed exact dedup equals per-language counts of the batch survivors") {
    import spark.implicits._
    // copies of one text land in different triggers at every split
    val synthetic = Seq((1L, "en", "alpha beta"), (2L, "en", "gamma"),
      (3L, "de", "alpha beta"), (4L, "en", "Alpha  Beta"), (5L, "de", "delta"),
      (6L, "en", "gamma"), (7L, "de", "alpha beta")).toDF("doc_id", "lang", "text")
    for (docs <- Seq(synthetic, graft.model.Tables.documents(spark, sf))) {
      // the streaming key is (lang, text): survivors are per language
      val batch = docs.select("lang").distinct().as[String].collect().map { l =>
        l -> graft.functions.Dedup.exactSurvivors(docs.where(col("lang") <=> l)).count()
      }.toMap
      for (nb <- Seq(1, 3, 4)) {
        val got = StreamingOps.replayExactDedup(docs, nb)
          .as[(String, Long)].collect().toMap
        assert(got == batch, s"nBatches=$nb")
      }
    }
  }

  test("replayed value histogram equals the batch floor(value/5)*5 count") {
    import spark.implicits._
    val synthetic = Seq(12.0, -5.0, 4.999, -0.1, 5.0, 0.0, 10.5).toDF("value")
    for (edges <- Seq(synthetic, graft.model.GraphFixtures.edgeStream(spark, sf))) {
      val batch = edges.select(col("value").cast("double")).as[Double].collect()
        .groupBy(v => (math.floor(v / 5) * 5).toLong).map { case (b, vs) => b -> vs.length.toLong }
      for (nb <- Seq(1, 4)) {
        val got = StreamingOps.replayHistogram(edges, nb)
          .as[(Long, Long)].collect().toMap
        assert(got == batch, s"nBatches=$nb")
      }
    }
  }

  test("TTL'd running CC: bounded state evicts expired vertices, keeps merges for survivors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // chain 1-2-3 early, then a long quiet gap, then late edges touching
    // 2 again: with a 1-hour TTL the early-only vertices 1 and 3 expire
    // (eviction uses the PREVIOUS trigger's watermark, hence the third
    // batch), vertex 2 re-arrives so it survives — still merged with the
    // late component through the retained label evidence
    val rows = Seq(
      (1L, 2L, 0L), (2L, 3L, 60L),           // early chunk (t = 0, 1 min)
      (10L, 11L, 86400L), (2L, 10L, 86460L), // a day later
      (10L, 12L, 86520L)                     // third trigger: post-watermark-advance
    ).toDF("src", "dst", "sec")
      .select(col("src"), col("dst"), timestamp_seconds(col("sec")).as("ts"))
    val ttlGot = StreamingOps.replayConnectedComponentsTtl(rows, "1 hour", nBatches = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // expired: 1, 3 gone from the final state; survivors 2/10/11/12
    // merged, labeled by min LIVE member (2)
    assert(ttlGot == Map(2L -> 2L, 10L -> 2L, 11L -> 2L, 12L -> 2L), s"got $ttlGot")
    // with a TTL longer than the whole stream, the final snapshot is the
    // unbounded sibling's full assignment
    val bigGot = StreamingOps.replayConnectedComponentsTtl(rows, "30 days", nBatches = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bigGot == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 1L, 11L -> 1L, 12L -> 1L), s"got $bigGot")
    // on the fixture stream with an infinite-horizon TTL, parity with
    // the one-shot batch CC (the q45 gate, TTL path)
    val e = graft.model.GraphFixtures.edgeStream(spark, sf)
    val got = StreamingOps.replayConnectedComponentsTtl(e, "3650 days", nBatches = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = SummaryAggregations.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == batch)
  }

  test("TTL'd bipartiteness: conflict is absorbing, expired parity evidence is forgotten") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def df(rows: Seq[(Long, Long, Long)]) = rows.toDF("src", "dst", "sec")
      .select(col("src"), col("dst"), timestamp_seconds(col("sec")).as("ts"))
    // odd triangle entirely within the horizon → false, and STAYS false
    // after everything expires (absorbing flag survives eviction)
    val triangleThenQuiet = Seq(
      (1L, 2L, 0L), (2L, 3L, 60L), (3L, 1L, 120L), // odd cycle early
      (10L, 11L, 86400L),                           // a day later: all early state expires
      (12L, 13L, 172800L))                          // another day: 10/11 expire too
    assert(!StreamingOps.replayBipartitenessTtl(df(triangleThenQuiet), "1 hour", 3))
    // divergence contract: the 1-2 parity evidence EXPIRES before the
    // closing edges arrive, so the TTL'd verdict stays true while the
    // unbounded sibling (infinite horizon) detects the odd triangle
    val splitTriangle = Seq(
      (1L, 2L, 0L), (10L, 11L, 86400L),     // batch 1: evidence + watermark advance
      (10L, 12L, 86460L), (11L, 13L, 86520L), // batch 2: eviction trigger drops 1-2
      (2L, 3L, 86580L), (3L, 1L, 86640L))   // batch 3: closing edges, evidence gone
    assert(StreamingOps.replayBipartitenessTtl(df(splitTriangle), "1 hour", 3))
    assert(!StreamingOps.replayBipartitenessTtl(df(splitTriangle), "30 days", 3))
    // infinite-horizon parity with the batch verdict on the fixtures
    val e = graft.model.GraphFixtures.edgeStream(spark, sf)
    val batch = SummaryAggregations.bipartiteness(e).collect().head.getBoolean(0)
    assert(StreamingOps.replayBipartitenessTtl(e, "3650 days", 3) == batch)
  }

  test("TTL'd running CC and bipartiteness: 4-partition micro-batches give the 1-partition answer") {
    import spark.implicits._
    // each trigger's four edges spread over four input tasks, so the
    // even 4-cycle of trigger 1 and the odd triangle of trigger 3 close
    // only in the merge of single-edge partials. Trigger 3 evicts 1, 2
    // and 3 (last seen at t <= 30 s, below the previous trigger's
    // watermark 7230 s - 1 h); 4 survives through its t = 7200 s edge
    val triggers = Seq(
      Seq((1L, 2L, 0L), (2L, 3L, 10L), (3L, 4L, 20L), (4L, 1L, 30L)),
      Seq((4L, 20L, 7200L), (20L, 21L, 7210L), (21L, 22L, 7220L), (8L, 9L, 7230L)),
      Seq((30L, 31L, 7300L), (31L, 32L, 7310L), (32L, 30L, 7320L), (21L, 40L, 7330L)))
      .map(_.map { case (s, d, t) => (s, d, 1.0, t) })
    // the rows each trigger emits, over `partitions`-partition batches
    def run[T](partitions: Int)(op: DataFrame => DataFrame)(read: Row => T): Seq[Seq[T]] = {
      val ms = MemoryStream[(Long, Long, Double, Long)](spark, numPartitions = partitions)
      val out = scala.collection.mutable.ListBuffer.empty[Seq[T]]
      val q = op(edgesFrom(ms)).writeStream.outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("ttl-mp-ckpt").toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect().toSeq.map(read)
          if (rows.nonEmpty) out.synchronized { out += rows }; ()
        }
        .start()
      try triggers.foreach { t => ms.addData(t); q.processAllAvailable() }
      finally q.stop()
      out.toList
    }
    // the premise: over 4 partitions, every trigger's rows sit in 4 tasks
    assert(run(4)(_.select(spark_partition_id()))(_.getInt(0)).map(_.toSet.size) ==
      Seq(4, 4, 4))
    val Seq(cc1, cc4) = Seq(1, 4).map(p =>
      run(p)(StreamingOps.runningConnectedComponentsTtl(_, "1 hour").toDF("id", "component"))(
        r => r.getLong(0) -> r.getLong(1)).last.toMap)
    assert(cc4 == cc1, s"4 partitions: $cc4, 1 partition: $cc1")
    assert(cc1 == Map(4L -> 4L, 20L -> 4L, 21L -> 4L, 22L -> 4L, 40L -> 4L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 8L -> 8L, 9L -> 8L), s"got $cc1")
    val Seq(bip1, bip4) = Seq(1, 4).map(p =>
      run(p)(StreamingOps.runningBipartitenessTtl(_, "1 hour").toDF("ok"))(_.getBoolean(0))
        .map(_.last))
    assert(bip4 == bip1, s"4 partitions: $bip4, 1 partition: $bip1")
    assert(bip1 == Seq(true, true, false), s"got $bip1")
  }

  test("windowed neighborhood fold under watermark 0 emits batch-equal closed windows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double, Long)]
    val ckpt = Files.createTempDirectory("win-ckpt").toString
    val q = GraphStream(edgesFrom(ms)).withWatermark("0 seconds")
      .slice("2 minutes", EdgeDirection.Out)
      .foldNeighbors(count("*").as("cnt"), sum("value").as("sum_value"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("winfold").start()
    try {
      ms.addData(sampleEdges)
      q.processAllAvailable()
      // sentinel far in the future closes all sample windows
      ms.addData(Seq((99L, 99L, 0.0, 100000L)))
      q.processAllAvailable()
      val streamed = spark.table("winfold")
        .where(col("vid") =!= 99L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = GraphStream(batchEdges)
        .slice("2 minutes", EdgeDirection.Out)
        .foldNeighbors(count("*").as("cnt"), sum("value").as("sum_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("per-window CC (transientState=true) on a stream equals batch per-window CC") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double, Long)]
    val ckpt = Files.createTempDirectory("wincc-ckpt").toString
    val q = StreamingOps.windowedConnectedComponents(edgesFrom(ms), "2 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("wincc").start()
    try {
      ms.addData(sampleEdges)
      q.processAllAvailable()
      ms.addData(Seq((99L, 98L, 0.0, 100000L))) // sentinel closes sample windows
      q.processAllAvailable()
      val streamed = spark.table("wincc")
        .where(col("id") < 90L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = StreamingOps.windowedConnectedComponents(batchEdges, "2 minutes")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
      // sanity: windows are independent summaries (edges 0-60s in window 0)
      assert(batch((0L, 1L)) == 1L)
    } finally q.stop()
  }

  test("running bipartiteness flips to false when the odd cycle closes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double, Long)]
    val ckpt = Files.createTempDirectory("bi-ckpt").toString
    val q = StreamingOps.runningBipartiteness(edgesFrom(ms))
      .toDF("bipartite")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("bi").start()
    try {
      ms.addData(Seq((1L, 2L, 1.0, 0L), (2L, 3L, 1.0, 60L))) // path: still bipartite
      q.processAllAvailable()
      val afterPath = spark.table("bi").collect().map(_.getBoolean(0))
      // verdict is absorbing-monotone: no false emission before the cycle
      assert(afterPath.nonEmpty && afterPath.forall(identity))
      ms.addData(Seq((3L, 1L, 1.0, 120L))) // closes odd cycle
      q.processAllAvailable()
      val all = spark.table("bi").collect().map(_.getBoolean(0))
      assert(all.contains(false))
    } finally q.stop()
  }

  test("events windowed aggregation: stream equals batch (q22 semantics)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // real events rows (ns timestamps), replayed in ascending order
    val rows = graft.model.Tables.events(spark, sf)
      .select(col("event_type"), col("ts_ns"), col("value"))
      .orderBy("ts_ns")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val ms = MemoryStream[(String, Long, Double)]
    val ckpt = Files.createTempDirectory("ev-ckpt").toString
    val streamed = ms.toDF().toDF("event_type", "ts_ns", "value")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count("*").as("cnt"), round(sum("value"), 6).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("win"), col("event_type"), col("cnt"), col("sum_value"))
    val q = streamed.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("evwin").start()
    try {
      val (h, t) = rows.splitAt(rows.length / 2)
      ms.addData(h); q.processAllAvailable()
      ms.addData(t); q.processAllAvailable()
      ms.addData(Seq(("sentinel", rows.last._2 + 86400L * 1000000000L, 0.0)))
      q.processAllAvailable()
      val got = spark.table("evwin").where(col("event_type") =!= "sentinel")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val batch = graft.model.Tables.events(spark, sf)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count("*").as("cnt"), round(sum("value"), 6).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("win"), col("event_type"), col("cnt"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("incremental triangle replay equals the batch count for any batch split") {
    import spark.implicits._
    // K5 plus a pendant and an isolated edge: 10 triangles, mixed shapes —
    // splits exercise all three incremental terms (1/2/3 new edges)
    val edges = (for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)) ++
      Seq((5L, 6L), (8L, 9L))
    val df = edges.toDF("src", "dst")
    val batchPerVertex = graft.operators.Triangles.perVertexCounts(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchPerVertex.values.sum == 30L) // 10 triangles x 3 corners
    for (nb <- Seq(1, 3, 6)) {
      val streamed = graft.streaming.StreamingOps.replayTriangleCounts(df, nb).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batchPerVertex, s"nBatches=$nb")
    }
    // the state-store-free foreachBatch alternative stays exact too
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (half1, half2) = edges.splitAt(edges.length / 2)
    val (acc1, d1) = graft.streaming.StreamingOps.incrementalTriangleStep(
      empty, half1.toDF("src", "dst"))
    val (_, d2) = graft.streaming.StreamingOps.incrementalTriangleStep(
      acc1, half2.toDF("src", "dst"))
    val merged = d1.unionAll(d2).groupBy("v").agg(sum("w3").as("w3"))
      .where(col("w3") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1) / 3).toMap
    assert(merged == batchPerVertex)
  }

  test("keyed-state triangles: per-trigger state writes stay batch-bounded while total state grows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // deterministic random graph with plenty of triangles; 8 equal
    // batches — the per-trigger flatness evidence the old per-trigger
    // adjacency REBUILD could not give: state rows WRITTEN per trigger
    // are bounded by the batch's touched vertices (≤ 2 edges/batch ends),
    // never by the accumulated graph, while total state rows keep growing
    // the raw feed keeps BOTH orientations and duplicates — the keyed
    // state dedups them; the batch oracle gets the canonical set (its
    // documented contract)
    val rnd = new scala.util.Random(7)
    val raw = (1 to 400).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong; (a, b)
    }.filter(e => e._1 != e._2)
    val edges = raw
    val canonical = raw.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nb = 8
    val chunk = math.max(1, (edges.length + nb - 1) / nb)
    val ms = MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tri-state").toString
    val counts = new scala.collection.mutable.HashMap[Long, Long]()
    val q = graft.streaming.StreamingOps.streamingTriangleEmissions(
        ms.toDF().toDF("src", "dst"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (em: org.apache.spark.sql.DataFrame, _: Long) =>
        em.persist() // one stateful execution per trigger (see operator)
        try graft.streaming.StreamingOps.triangleDeltas(em).collect().foreach { r =>
          counts(r.getLong(0)) = counts.getOrElse(r.getLong(0), 0L) + r.getLong(1)
        } finally em.unpersist()
      }.start()
    try {
      edges.grouped(chunk).foreach { g => ms.addData(g); q.processAllAvailable() }
      val progress = q.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && p.stateOperators.nonEmpty)
      assert(progress.size >= 6, s"expected >=6 data triggers, got ${progress.size}")
      val updated = progress.map(_.stateOperators.head.numRowsUpdated)
      val totals = progress.map(_.stateOperators.head.numRowsTotal)
      // per-trigger writes bounded by THAT trigger's input (2 routed
      // endpoints per edge), flat in the accumulated graph — including
      // the LAST triggers, when the accumulated graph is many times the
      // batch. Compared against the trigger's own numInputRows because
      // a trigger may absorb more than one added chunk.
      progress.zipWithIndex.foreach { case (p, i) =>
        val u = p.stateOperators.head.numRowsUpdated
        assert(u <= 2L * p.numInputRows,
          s"trigger $i wrote $u state rows > 2×input=${2 * p.numInputRows}")
      }
      // ...while total keyed state keeps growing to one row per vertex
      assert(totals.last == edges.flatMap(e => Seq(e._1, e._2)).distinct.size)
      assert(totals.zip(totals.tail).forall { case (a, b) => b >= a })
      // and the merged deltas equal the one-shot batch answer
      val batch = graft.operators.Triangles.perVertexCounts(canonical.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val streamed = counts.iterator.filter(_._2 > 0)
        .map { case (v, w6) => v -> w6 / 6 }.toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming distinct + vertex derivation run on a stream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double, Long)]
    val gs = GraphStream(edgesFrom(ms)).withWatermark("0 seconds")
    val q = gs.distinct.edges
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup").start()
    try {
      ms.addData(sampleEdges ++ Seq((1L, 2L, 9.9, 500L))) // dup (1,2)
      q.processAllAvailable()
      assert(spark.table("dedup").count() == sampleEdges.size)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // clicks join purchases by user within [-10 min, 0] event time —
    // both sides watermarked, state bounded by the interval
    val clicks = Seq((1L, 100L, 60L), (1L, 101L, 600L), (2L, 102L, 120L))
    val purchases = Seq((1L, 55L), (1L, 580L), (2L, 400L))
    val msC = MemoryStream[(Long, Long, Long)]
    val msP = MemoryStream[(Long, Long)]
    val cDf = msC.toDF().toDF("c_user", "click_id", "c_secs")
      .withColumn("c_ts", timestamp_seconds(col("c_secs")))
      .withWatermark("c_ts", "0 seconds")
    val pDf = msP.toDF().toDF("p_user", "p_secs")
      .withColumn("p_ts", timestamp_seconds(col("p_secs")))
      .withWatermark("p_ts", "0 seconds")
    val joined = cDf.join(pDf,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") - org.apache.spark.sql.functions.expr("interval 10 minutes") &&
        col("p_ts") <= col("c_ts"))
    val q = joined.select("click_id", "p_secs")
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try {
      msC.addData(clicks); msP.addData(purchases)
      q.processAllAvailable()
      val streamed = spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch truth: purchase within 10 min before each click, same user
      val expected = (for {
        (u, cid, cs) <- clicks
        (pu, ps) <- purchases
        if pu == u && ps <= cs && ps >= cs - 600
      } yield (cid, ps)).toSet
      assert(streamed == expected && expected.nonEmpty)
    } finally q.stop()
    // the replayIntervalJoin harness over the same sample (as events
    // rows) and over the fixture events: per-click purchase count and
    // cent sum equal the batch interval join
    val sampleEvents = (clicks.map { case (u, cid, cs) => (cid, u, "click", cs, 0.0) } ++
      purchases.zipWithIndex.map { case ((u, ps), i) =>
        (900L + i, u, "purchase", ps, 1.25 * (i + 1)) })
      .toDF("event_id", "user_id", "event_type", "secs", "value")
      .withColumn("ts_ns", col("secs") * 1000000000L).drop("secs")
    for (events <- Seq(sampleEvents, graft.model.Tables.events(spark, sf))) {
      val ev = events.select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), expr("ts_ns div 1000").as("tu"),
        round(col("value") * 100).cast("long").as("cents"))
      val c = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id").as("cu"), col("tu").as("ctu"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("tu").as("ptu"), col("cents"))
      val batch = c.join(p, col("cu") === col("pu") &&
          col("ptu") >= col("ctu") - 600000000L && col("ptu") <= col("ctu"))
        .groupBy("event_id").agg(count("*"), sum("cents"))
        .as[(Long, Long, Long)].collect().toSet
      val got = StreamingOps.replayIntervalJoin(events)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == batch && batch.nonEmpty, s"got ${got.take(5)} batch ${batch.take(5)}")
    }
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon and evicts state after it") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, String, String)] // (doc_id, secs, lang, text)
    val docs = ms.toDF().toDF("doc_id", "secs", "lang", "text")
      .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")
    val ckpt = Files.createTempDirectory("dedup-wm-ckpt").toString
    val q = StreamingOps.streamingDedupWithinWatermark(docs, "30 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("dedupwm").start()
    try {
      def emitted: Set[Long] =
        spark.table("dedupwm").select("doc_id").as[Long].collect().toSet
      // t=1000: first copy of "alpha"; t=1010: unrelated doc (times sit
      // above the initial epoch-0 watermark, which drops ts <= wm as late)
      ms.addData(Seq((1L, 1000L, "en", "alpha"), (2L, 1010L, "en", "beta")))
      q.processAllAvailable()
      // duplicate at t=1020, watermark still below alpha's horizon → suppressed
      ms.addData(Seq((3L, 1020L, "en", "alpha")))
      q.processAllAvailable()
      assert(emitted == Set(1L, 2L))
      // t=1100 advances the watermark to 1070s — past alpha's t=1000 + 30s
      // horizon, so its key state is EVICTED (the bounded-state knob)
      ms.addData(Seq((4L, 1100L, "en", "gamma")))
      q.processAllAvailable()
      // same content after eviction is re-admitted BY CONTRACT: the
      // horizon is the dedup guarantee, and state stayed bounded by it
      ms.addData(Seq((5L, 1110L, "en", "alpha")))
      q.processAllAvailable()
      assert(emitted == Set(1L, 2L, 4L, 5L))
    } finally q.stop()
  }

  // ------------------------------------------------------------------
  // OUT-OF-ORDER replay under a NONZERO watermark — the divergence
  // contract the ascending-ts parity gates never exercise (SURVEY
  // §2.2): these three specs feed deliberately shuffled event times and
  // pin EXACTLY which late rows drop vs which are absorbed, per
  // operator family. If Spark's late-data handling or our
  // watermark-on-partial-max discipline drifts, these fail.
  // ------------------------------------------------------------------

  test("out-of-order dedup under nonzero watermark: sub-watermark rows drop, in-horizon dupes suppress, evicted keys readmit") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, String, String)] // (doc_id, secs, lang, text)
    val docs = ms.toDF().toDF("doc_id", "secs", "lang", "text")
      .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")
    val ckpt = Files.createTempDirectory("dedup-ooo-ckpt").toString
    val q = StreamingOps.streamingDedupWithinWatermark(docs, "30 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("dedupooo").start()
    try {
      def emitted: Set[Long] =
        spark.table("dedupooo").select("doc_id").as[Long].collect().toSet
      ms.addData(Seq((1L, 1000L, "en", "alpha"), (2L, 1100L, "en", "beta")))
      q.processAllAvailable()
      assert(emitted == Set(1L, 2L)) // watermark now 1100 - 30 = 1070
      // LATE row with FRESH content drops (3: ts 1050 < wm 1070 — the
      // watermark gate is on event time, not novelty); an in-horizon
      // out-of-order duplicate suppresses (5: beta alive until 1130)
      ms.addData(Seq((3L, 1050L, "en", "gamma"), (5L, 1090L, "en", "beta")))
      q.processAllAvailable()
      assert(emitted == Set(1L, 2L))
      // advance: wm -> 1170; alpha's state (expires 1030) is evicted
      ms.addData(Seq((6L, 1200L, "en", "delta")))
      q.processAllAvailable()
      assert(emitted == Set(1L, 2L, 6L))
      // readmission after eviction (7: fresh ts, alpha forgotten) vs a
      // late FRESH-content row still dropping (8: 1150 < wm 1170)
      ms.addData(Seq((7L, 1180L, "en", "alpha"), (8L, 1150L, "en", "epsilon")))
      q.processAllAvailable()
      assert(emitted == Set(1L, 2L, 6L, 7L))
    } finally q.stop()
  }

  test("out-of-order windowed degrees under nonzero watermark: in-horizon late absorbed, sub-watermark late dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double, Long)]
    val ckpt = Files.createTempDirectory("windeg-ooo-ckpt").toString
    val q = StreamingOps.windowedDegrees(
        GraphStream(edgesFrom(ms)), "60 seconds", "30 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("windegooo").start()
    try {
      def rows: Set[(Long, Long, Long)] = spark.table("windegooo")
        .as[(Long, Long, Long)].collect().toSet
      // t=10 -> win0, t=70 -> win60; wm := 70 - 30 = 40; nothing closes
      ms.addData(Seq((1L, 2L, 1.0, 10L), (3L, 4L, 1.0, 70L)))
      q.processAllAvailable()
      assert(rows == Set.empty)
      // OUT-OF-ORDER t=50 is late but >= wm 40 -> ABSORBED into win0;
      // t=130 pushes wm to 100 >= 60 -> win0 closes WITH the late edge
      ms.addData(Seq((1L, 5L, 1.0, 50L), (3L, 6L, 1.0, 130L)))
      q.processAllAvailable()
      assert(rows == Set((0L, 1L, 2L), (0L, 2L, 1L), (0L, 5L, 1L)))
      // t=55 < wm 100 -> DROPPED (win0 stays closed, win60 unaffected);
      // t=190 pushes wm to 160 >= 120 -> win60 closes holding only the
      // t=70 edge (t=130 sits in win120, still open at wm 160)
      ms.addData(Seq((2L, 7L, 1.0, 55L), (8L, 9L, 1.0, 190L)))
      q.processAllAvailable()
      assert(rows == Set((0L, 1L, 2L), (0L, 2L, 1L), (0L, 5L, 1L),
        (60L, 3L, 1L), (60L, 4L, 1L)))
    } finally q.stop()
  }

  test("out-of-order running CC TTL: solo-late partial drops, bundled late edge absorbs with mortal seen stamp") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long)] // (src, dst, secs)
    val edges = ms.toDF().toDF("src", "dst", "secs")
      .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")
    val ckpt = Files.createTempDirectory("ccttl-ooo-ckpt").toString
    val last = new java.util.concurrent.atomic.AtomicReference[Map[Long, Long]](Map.empty)
    val q = StreamingOps.runningConnectedComponentsTtl(edges, "30 seconds")
      .toDF("id", "component")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val snap = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (snap.nonEmpty) last.set(snap)
      }
      .start()
    try {
      ms.addData(Seq((1L, 2L, 1000L)))
      q.processAllAvailable()
      assert(last.get == Map(1L -> 1L, 2L -> 1L)) // wm := 970
      // a SOLO late edge IS absorbed (no late-input filter on fMGWS —
      // the StreamingOps contract; the bipartiteness OOO spec proves
      // the absorption via its absorbing flag), but 3's seen stamp 900
      // sits below the horizon 970, so 3 evicts IN the same trigger:
      // absent from the snapshot, 1-2 intact, union evidence harmless
      ms.addData(Seq((1L, 3L, 900L)))
      q.processAllAvailable()
      assert(last.get == Map(1L -> 1L, 2L -> 1L))
      assert(!last.get.contains(3L))
      // same mechanics with a fresh co-rider: 4 unions into 1-2's
      // component — but its seen stamp stays 905 < horizon 970, so it
      // is evicted IN the same trigger; the union evidence survives
      // for live vertices
      ms.addData(Seq((4L, 2L, 905L), (5L, 6L, 1040L)))
      q.processAllAvailable()
      assert(last.get == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
      // wm := 1010; the next trigger evicts 1 and 2 (seen 1000 < 1010)
      // on schedule — TTL'd state never outlives its horizon + 1 trigger
      ms.addData(Seq((8L, 9L, 1200L)))
      q.processAllAvailable()
      assert(last.get == Map(5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L))
    } finally q.stop()
  }

  test("out-of-order bipartiteness TTL: solo-late odd-closer drops, bundled one flips the ABSORBING verdict") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long)] // (src, dst, secs)
    val edges = ms.toDF().toDF("src", "dst", "secs")
      .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")
    val ckpt = Files.createTempDirectory("bipttl-ooo-ckpt").toString
    val last = new java.util.concurrent.atomic.AtomicReference[Option[Boolean]](None)
    val q = StreamingOps.runningBipartitenessTtl(edges, "30 seconds")
      .toDF("bipartite")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val snap = df.collect().map(_.getBoolean(0))
        if (snap.nonEmpty) last.set(Some(snap.last))
      }
      .start()
    try {
      // path 1-2-3: 2-colorable → true; wm := 1010 - 30 = 980
      ms.addData(Seq((1L, 2L, 1000L), (2L, 3L, 1010L)))
      q.processAllAvailable()
      assert(last.get.contains(true))
      // a SOLO late odd-closer (1,3 at t=900 < wm 980) is ABSORBED —
      // fMGWS under NoTimeout applies no late-input filter (the
      // StreamingOps late-data contract), and the parity evidence of
      // 1/2/3 is still live, so the odd cycle is OBSERVED: lateness
      // affects eviction stamps, never observation
      ms.addData(Seq((1L, 3L, 900L)))
      q.processAllAvailable()
      assert(last.get.contains(false))
      // ABSORBING: long after every parity witness expires, the
      // verdict stays false (expiry must never quietly un-observe)
      ms.addData(Seq((10L, 11L, 2000L)))
      q.processAllAvailable()
      assert(last.get.contains(false))
    } finally q.stop()
  }

  test("streaming minhash band keys are bit-identical to the batch signature banding") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox leaps"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    // batch path: the per-document kernel minhashPairs and DedupIndex
    // band with, called on the driver (MinhashKernelSpec pins it to the
    // SQL signature pipeline it replaced)
    val batchKeys = docs.as[(Long, String)].collect().flatMap { case (id, text) =>
      graft.functions.Dedup.bandKeys(text, 2, 8, 4).zipWithIndex.map { case (k, b) => (id, b, k) }
    }.toSet
    assert(batchKeys.size == 3 * 8)
    val streamKeys = StreamingOps.minhashBandRows(docs, 2, 8, 4)
      .collect().map(r => (r.getLong(2), r.getInt(0), r.getLong(1))).toSet
    assert(streamKeys == batchKeys)
  }

  test("replayed minhash candidates converge to the one-shot batch pairs (q30 semantics)") {
    // near-dup groups STRADDLE triggers: docs 1/2 and docs 3/4 are
    // near-identical but land in different replay chunks (doc_id order,
    // 3 batches over 6 docs → chunks {1,2},{3,4},{5,6} — and with
    // nBatches=6 each doc arrives alone), so every candidate pair is
    // closed by cross-batch bucket state, not intra-batch pairing
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "one two three four five six"),
      (4L, "one two three four five seven"),
      (5L, "completely unrelated text body"),
      (6L, "another standalone document entirely")).toDF("doc_id", "text")
    val batch = graft.functions.Dedup.minhashPairs(docs, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must contain true near-dup pairs")
    for (nb <- Seq(3, 6)) {
      val got = StreamingOps.replayMinhashPairs(docs, 2, 0.5, nBatches = nb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == batch, s"nBatches=$nb: $got != $batch")
    }
  }

  test("replayed LSH candidates converge to the one-shot bucketed ANN pairs (q122 semantics)") {
    // near-dup pairs STRADDLE triggers (vec_id order): 1/2 and 3/4 are
    // near-identical but land in different replay chunks, so their
    // candidate pairs are closed by cross-batch bucket state; the
    // replay sizes itself exactly as the batch operator does, so the
    // verified pair set must equal cosinePairsBucketed's — and (on this
    // well-separated fixture) the exact audit's
    import spark.implicits._
    import graft.functions.Similarity
    val vecs = Seq(
      (1L, Seq(1.0, 0.01, 0.0, 0.02)),
      (2L, Seq(0.99, 0.0, 0.01, 0.0)),
      (3L, Seq(0.0, 1.0, 0.02, 0.01)),
      (4L, Seq(0.01, 0.98, 0.0, 0.0)),
      (5L, Seq(0.0, 0.0, 1.0, -0.9)),
      (6L, Seq(-0.7, 0.0, 0.0, 0.9))).toDF("vec_id", "embedding")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairSet(Similarity.cosinePairs(vecs, 0.5))
    val batch = pairSet(Similarity.cosinePairsBucketed(vecs, 0.5))
    assert(exact.nonEmpty && batch == exact, "fixture must be fully recalled by LSH")
    for (nb <- Seq(2, 4)) {
      val got = pairSet(StreamingOps.replayLshPairs(vecs, 0.5, nBatches = nb))
      assert(got == batch, s"nBatches=$nb: $got != $batch")
    }
  }

  test("streaming HyperBall registers: split-invariant and replay-absorbing") {
    import spark.implicits._
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L), (9L, 10L))
    val edges = es.toDF("src", "dst")
    def estSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = estSet(graft.operators.HyperBall
      .ballSizes(edges, 1).select("id", "est"))
    // any trigger split lands on the batch registers
    for (nb <- Seq(1, 2, 4)) {
      val got = estSet(StreamingOps.replayHyperballT1(edges, nBatches = nb))
      assert(got == batch, s"nBatches=$nb: $got != $batch")
    }
    // at-least-once: duplicate delivery of every edge is absorbed by
    // the register max — bit-identical result
    val dup = (es ++ es).toDF("src", "dst")
    assert(estSet(StreamingOps.replayHyperballT1(dup, nBatches = 3)) == batch)
  }

  test("streaming HyperBall radius-2: persisted register tables land on the batch rounds") {
    import spark.implicits._
    // a path + a square + an isolated pair: radius-2 balls differ from
    // radius-1 everywhere on the path, so a broken round-2 is visible
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), (20L, 21L))
    val edges = es.toDF("src", "dst")
    def estSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = estSet(graft.operators.HyperBall.ballSizes(edges, 2))
    for (nb <- Seq(1, 3)) {
      val got = estSet(StreamingOps.replayHyperballRounds(edges, 2, nBatches = nb))
      assert(got == batch, s"nBatches=$nb: $got != $batch")
    }
    // duplicate delivery absorbed (the R1 fold and the round maxes are
    // both idempotent)
    val dup = (es ++ es).toDF("src", "dst")
    assert(estSet(StreamingOps.replayHyperballRounds(dup, 2, nBatches = 2)) == batch)
  }

  test("streaming top-k leaderboard: batch-split independent, ties by smaller key") {
    import spark.implicits._
    // purchase counts: u1=3, u2=3 (tie -> u1 first), u3=2, u4=1, u5=1,
    // u6=1 — the k=3 cut falls inside the tie group {u4,u5,u6}? No:
    // top-3 is u1,u2,u3; k=4 would cut inside {4,5,6} -> u4 by id
    val ev = Seq(
      (1L, 1L, "purchase"), (2L, 1L, "purchase"), (3L, 1L, "purchase"),
      (4L, 2L, "purchase"), (5L, 2L, "purchase"), (6L, 2L, "purchase"),
      (7L, 3L, "purchase"), (8L, 3L, "purchase"),
      (9L, 4L, "purchase"), (10L, 5L, "purchase"), (11L, 6L, "purchase"),
      (12L, 9L, "click") // non-purchase never counts
    ).toDF("event_id", "user_id", "event_type")
    for (nb <- Seq(1, 4)) {
      val got = StreamingOps.replayTopKByCount(ev, k = 4, nBatches = nb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === Seq((1L, 1L, 3L), (2L, 2L, 3L), (3L, 3L, 2L), (4L, 4L, 1L)),
        s"nBatches=$nb: $got")
    }
  }

  test("latest-per-key: batch-split independent, ties broken by event id") {
    import spark.implicits._
    // fixture: key 1 updated across batches (late event_id wins the ts
    // tie), key 2 single-batch, key 3 updated in every batch
    val ev = Seq(
      (10L, 1L, 1000L, 5.00), (11L, 1L, 2000L, 6.00), (12L, 1L, 2000L, 7.00),
      (20L, 2L, 1500L, 8.00),
      (30L, 3L, 500L, 1.00), (31L, 3L, 1600L, 2.00), (32L, 3L, 2500L, 3.00))
      .toDF("event_id", "user_id", "tu", "value")
      .withColumn("ts_ns", col("tu") * 1000L)
    val expected = Map(
      1L -> (2000L, 12L, 700L, 3L), // ts tie at 2000 → event 12 wins
      2L -> (1500L, 20L, 800L, 1L),
      3L -> (2500L, 32L, 300L, 3L))
    for (nb <- Seq(1, 3, 7)) {
      val got = StreamingOps.replayLatestPerKey(ev, nBatches = nb)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      assert(got == expected, s"nBatches=$nb: $got")
    }
  }

  test("cdc tombstones: delete wins, resurrect works, batch-split independent") {
    import spark.implicits._
    // delete op = event_id % 7 == 0 (the replay's derivation).
    // key 1: upsert then DELETE (eid 14) latest → alive 0, payload =
    //   the delete's; key 2: delete then later upsert RESURRECTS;
    // key 3: ts tie at 2000 → higher event id (a delete) wins;
    // key 4: never deleted
    val ev = Seq(
      (10L, 1L, 1000L, 5.00), (14L, 1L, 2000L, 6.00),
      (21L, 2L, 1000L, 8.00), (22L, 2L, 2000L, 9.00),
      (28L, 3L, 2000L, 1.00), (30L, 3L, 2000L, 2.00),
      (35L, 3L, 2000L, 3.00),
      (40L, 4L, 1500L, 4.00))
      .toDF("event_id", "user_id", "tu", "value")
      .withColumn("ts_ns", col("tu") * 1000L)
    val expected = Map(
      1L -> (2000L, 14L, 600L, 0L, 2L),
      2L -> (2000L, 22L, 900L, 1L, 2L),
      3L -> (2000L, 35L, 300L, 0L, 3L),
      4L -> (1500L, 40L, 400L, 1L, 1L))
    for (nb <- Seq(1, 3, 7)) {
      val got = StreamingOps.replayLatestPerKeyCdc(ev, nBatches = nb)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
      assert(got == expected, s"nBatches=$nb: $got")
    }
  }

  test("edge CDC maintenance: changelog-driven CC equals full recompute at 1/3/7 triggers") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // base graph: path 1-2-3-4, pair 10-11, triangle 20-21-22.
    // Changelog: delete 2-3 (splits the path); upsert-then-delete 10-11
    //   (final dead — the pair dissolves to singletons); upsert NEW
    //   edge 4-20 (merges {4} side into the triangle component);
    //   delete-then-upsert 21-22 (RESURRECTION — net no-op)
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val changelog = Seq(
      (2L, 3L, 1L, 1L),
      (10L, 11L, 1L, 0L), (10L, 11L, 2L, 1L),
      (4L, 20L, 1L, 0L),
      (21L, 22L, 1L, 1L), (21L, 22L, 2L, 0L))
      .toDF("src", "dst", "seq", "del")
    val finalEdges = Seq((1L, 2L), (3L, 4L), (4L, 20L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    // full-recompute reference with the maintained vertex universe
    // (isolated 10/11 fall back to themselves)
    val ref = ConnectedComponents.iterative(finalEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L, 22L)
    val expected = verts.map(v => v -> ref.getOrElse(v, v)).toMap
    for (nb <- Seq(1, 3, 7)) {
      val fin = StreamingOps.replayEdgeCdc(changelog, nBatches = nb)
      // CDC resolution: tombstones dead, upserts + resurrections alive
      val st = fin.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(st == Map((2L, 3L) -> 0L, (10L, 11L) -> 0L,
        (4L, 20L) -> 1L, (21L, 22L) -> 1L), s"nBatches=$nb: $st")
      val inserts = fin.where(col("alive") === 1).select("src", "dst")
      val deletes = fin.where(col("alive") === 0).select("src", "dst")
      val labels1 = ConnectedComponents.incremental(
        ConnectedComponents.iterative(base), inserts)
      val got = ConnectedComponents.decremental(labels1,
          base.unionByName(inserts), deletes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"nBatches=$nb: $got")
    }
  }

  test("streaming CMS parity: sketch bytes equal batch under every split") {
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, s"alpha tok${i % 5} beta tok${i % 3}")
    }.toDF("doc_id", "text")
    for (nb <- Seq(1, 3, 7)) {
      val got = StreamingOps.replayCmsHeavyHitters(docs, k = 3, nBatches = nb)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
      // alpha and beta appear 30× each; tok0 appears in i%5==0 (6) and
      // i%3==0 (10) draws = 16 occurrences; ties break lexicographically
      assert(got.map(t => (t._1, t._2)).toSeq ==
        Seq(("alpha", 30L), ("beta", 30L), ("tok0", 16L)), s"nb=$nb: ${got.toSeq}")
      assert(got.forall(t => t._3 && t._4), s"nb=$nb gate/parity: ${got.toSeq}")
    }
  }

  test("streaming HLL parity: sketch equals batch under every split") {
    import spark.implicits._
    // 40 docs over 2 langs, overlapping vocab; a null-text doc rides
    // along (must not crash or count)
    val docs = ((0 until 40).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de",
        s"tok${i % 7} tok${i % 11} shared tok${i % 3}")
    } :+ ((40L, "en", null.asInstanceOf[String])))
      .toDF("doc_id", "lang", "text")
    // exact per-lang distinct computed independently of the operator
    val exact = docs.where(col("text").isNotNull)
      .select(col("lang"), explode(split(col("text"), " ")).as("t"))
      .groupBy("lang").agg(countDistinct("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (nb <- Seq(1, 3, 7)) {
      val got = StreamingOps.replayHllDistinct(docs, nBatches = nb)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2), r.getBoolean(3))))
        .toMap
      assert(got.keySet == Set("en", "de"), s"nBatches=$nb: ${got.keySet}")
      got.foreach { case (lang, (nExact, tol, eq)) =>
        assert(nExact == exact(lang), s"nBatches=$nb $lang exact $nExact vs ${exact(lang)}")
        assert(tol && eq, s"nBatches=$nb $lang: within_tol=$tol stream_eq_batch=$eq")
      }
    }
  }
}
