package graft

import java.nio.file.Files

import graft.sources.Sources

class SourcesSpec extends SparkTestBase {

  test("csv edge round-trip preserves the canonical schema") {
    val dir = Files.createTempDirectory("edges-csv").toString
    val edges = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    import org.apache.spark.sql.functions._
    edges.select(col("src"), col("dst"), col("value"),
      unix_timestamp(col("ts")).as("epoch"))
      .write.mode("overwrite").csv(dir)
    val back = Sources.csvEdges(spark, dir)
    assert(back.columns.toSeq == Seq("src", "dst", "value", "ts"))
    assert(back.count() == 3)
    assert(GraphStream(back).getDegrees.count() == 3)
    val parq = Files.createTempDirectory("edges-parq").toString
    Sources.writeParquet(back, parq)
    assert(Sources.parquetEdges(spark, parq).count() == 3)
  }

  test("streaming csv source drives GraphStream operators") {
    val dir = Files.createTempDirectory("edges-stream").toString
    import org.apache.spark.sql.functions._
    edgeDf(Seq((1L, 2L), (1L, 3L), (2L, 3L)))
      .select(col("src"), col("dst"), col("value"), unix_timestamp(col("ts")).as("epoch"))
      .write.mode("overwrite").csv(dir)
    val stream = Sources.csvEdgeStream(spark, dir)
    assert(stream.isStreaming)
    val q = GraphStream(stream).getDegrees
      .writeStream.outputMode("complete").format("memory").queryName("srcdeg").start()
    try {
      q.processAllAvailable()
      val d = spark.table("srcdeg").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    } finally q.stop()
  }

  test("string-keyed ingest round-trips through degrees and CC") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
      .withColumn("value", lit(1.0))
      .withColumn("ts", timestamp_seconds(lit(0)))
    val (enc, dict) = Sources.dictionaryEncode(e)
    assert(enc.schema("src").dataType == org.apache.spark.sql.types.LongType)
    assert(dict.count() == 5) // distinct keys get distinct ids
    assert(dict.select("id").distinct().count() == 5)
    val deg = Sources.decodeKeys(GraphStream(enc).getDegrees, dict, "id", "key")
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("degree")).toMap
    assert(deg == Map("a" -> 1L, "b" -> 2L, "c" -> 1L, "x" -> 1L, "y" -> 1L))
    val cc = graft.operators.SummaryAggregations.connectedComponents(enc)
    val groups = Sources.decodeKeys(cc, dict, "id", "key")
      .collect().groupBy(_.getAs[Long]("component"))
      .values.map(_.map(_.getAs[String]("key")).toSet).toSet
    assert(groups == Set(Set("a", "b", "c"), Set("x", "y")))
  }

  test("composite-keyed ingest round-trips through degrees") {
    import spark.implicits._
    // line ids (o, ln) ↔ part-supplier pairs (p, s): 4 edges, one shared
    // part-supplier endpoint
    val e = Seq((1L, 1, 10L, 100L), (1L, 2, 11L, 100L),
        (2L, 1, 10L, 100L), (2L, 2, 12L, 101L))
      .toDF("o", "ln", "p", "s")
    val (enc, dict) = Sources.dictionaryEncodeComposite(e, Seq("o", "ln"), Seq("p", "s"))
    assert(enc.schema("src").dataType == org.apache.spark.sql.types.LongType)
    assert(dict.count() == 7) // 4 line ids + 3 part-supplier pairs
    val deg = Sources.decodeKeys(GraphStream(enc).getDegrees, dict, "id", "key")
      .select("key.k0", "key.k1", "degree").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(deg == Map(("1", "1") -> 1L, ("1", "2") -> 1L, ("2", "1") -> 1L,
      ("2", "2") -> 1L, ("10", "100") -> 2L, ("11", "100") -> 1L, ("12", "101") -> 1L))
  }

  test("composite-key domain tags keep identically-stringified tuples from two entity spaces apart") {
    import spark.implicits._
    // (o=1, ln=1) and (p=1, s=1) stringify identically — without domain
    // tags they'd merge into ONE vertex (degree 2); with tags they stay
    // two vertices of degree 1 each (ADVICE r3)
    val e = Seq((1L, 1, 1L, 1L)).toDF("o", "ln", "p", "s")
    val merged = Sources.dictionaryEncodeComposite(e, Seq("o", "ln"), Seq("p", "s"))._2
    assert(merged.count() == 1) // documented single-key-space behavior
    val (enc, dict) = Sources.dictionaryEncodeComposite(
      e, Seq("o", "ln"), Seq("p", "s"), domains = Some(("line", "ps")))
    assert(dict.count() == 2)
    val deg = Sources.decodeKeys(GraphStream(enc).getDegrees, dict, "id", "key")
      .select("key.dom", "degree").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(deg == Map("line" -> 1L, "ps" -> 1L))
  }

  test("directory edge stream resumes from recorded offsets across a stop/restart — no duplicate, no lost edges") {
    import org.apache.spark.sql.functions._
    // the offline stand-in for the log-bus (Kafka) contract: the file
    // source records consumed files in the checkpoint's offset log
    // exactly as the Kafka source records partition offsets — stop the
    // query, append more data, restart from the same checkpoint, and
    // ingest must continue where it left off
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt").toString
    def writeFile(name: String, rows: Seq[(Long, Long)]): Unit = {
      val f = new java.io.PrintWriter(s"$dir/$name")
      try rows.foreach { case (s, d) => f.println(s"$s,$d,1.0,0") } finally f.close()
    }
    val batch1 = (1L to 40L).map(i => (i, i + 1000L))
    val batch2 = (41L to 70L).map(i => (i, i + 1000L))
    writeFile("part-001.csv", batch1)
    def start(sink: scala.collection.mutable.ListBuffer[(Long, Long)]) =
      Sources.csvEdgeStream(spark, dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          sink.synchronized {
            sink ++= b.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
          }; ()
        }.start()
    val run1 = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val run2 = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val q1 = start(run1)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(run1.toSet == batch1.toSet)
    writeFile("part-002.csv", batch2)
    val q2 = start(run2)
    try { q2.processAllAvailable() } finally q2.stop()
    // the restarted query reads ONLY the new file (offset log replayed),
    // and the union is exactly the full edge set: no dup, no loss
    assert(run2.toSet == batch2.toSet,
      s"restart must resume past consumed files, got ${run2.size} rows")
    assert((run1 ++ run2).size == batch1.size + batch2.size)
  }

  test("edge-bus DSv2 source drives GraphStream operators with the canonical schema") {
    import graft.sources.{ChunkedEdgeBus, EdgeBusSource}
    val topic = "ops-" + java.util.UUID.randomUUID().toString
    try {
      // two chunks, ts in whole seconds (micros)
      ChunkedEdgeBus.append(topic, Seq((1L, 2L, 1.0, 10_000_000L), (1L, 3L, 1.0, 11_000_000L)))
      ChunkedEdgeBus.append(topic, Seq((2L, 3L, 2.0, 12_000_000L)))
      val stream = EdgeBusSource(topic).load(spark)
      assert(stream.isStreaming)
      assert(stream.columns.toSeq == Seq("src", "dst", "value", "ts"))
      val q = GraphStream(stream).getDegrees
        .writeStream.outputMode("complete").format("memory").queryName("busdeg").start()
      try {
        q.processAllAvailable()
        val d = spark.table("busdeg").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(d == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
      } finally q.stop()
      // timestamps round-trip micros → TimestampType
      import org.apache.spark.sql.functions._
      val q2 = EdgeBusSource(topic).load(spark).select(unix_timestamp(col("ts")).as("s"))
        .writeStream.outputMode("append").format("memory").queryName("busts").start()
      try {
        q2.processAllAvailable()
        assert(spark.table("busts").collect().map(_.getLong(0)).toSet == Set(10L, 11L, 12L))
      } finally q2.stop()
    } finally ChunkedEdgeBus.drop(topic)
  }

  test("edge-bus DSv2 source resumes from committed chunk offsets across a stop/restart — no dup, no loss") {
    import graft.sources.{ChunkedEdgeBus, EdgeBusSource, ResumableEdgeSource}
    // the seam's test double: Spark's own MicroBatchStream machinery
    // drives our offset lifecycle (initialOffset → latestOffset →
    // planInputPartitions → deserializeOffset on restart → commit); a
    // Kafka implementation swaps only the reader internals
    val topic = "restart-" + java.util.UUID.randomUUID().toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bus-ckpt").toString
    try {
      def edges(r: Range) = r.map(i => (i.toLong, i + 1000L, 1.0, i * 1_000_000L))
      ChunkedEdgeBus.append(topic, edges(1 to 20))
      ChunkedEdgeBus.append(topic, edges(21 to 40))
      val src: ResumableEdgeSource = EdgeBusSource(topic) // through the trait
      def start(sink: scala.collection.mutable.ListBuffer[Long]) = src.load(spark)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          sink.synchronized { sink ++= b.select("src").collect().map(_.getLong(0)) }; ()
        }.start()
      val run1 = scala.collection.mutable.ListBuffer.empty[Long]
      val run2 = scala.collection.mutable.ListBuffer.empty[Long]
      val q1 = start(run1)
      try q1.processAllAvailable() finally q1.stop()
      assert(run1.toSet == (1L to 40L).toSet && run1.size == 40)
      // new chunks arrive while the query is DOWN
      ChunkedEdgeBus.append(topic, edges(41 to 60))
      ChunkedEdgeBus.append(topic, edges(61 to 70))
      val q2 = start(run2)
      try q2.processAllAvailable() finally q2.stop()
      // restart replayed the offset log: ONLY the new chunks, exactly once
      assert(run2.toSet == (41L to 70L).toSet && run2.size == 30,
        s"restart must resume past committed chunks, got ${run2.size} rows")
      assert((run1 ++ run2).size == 70)
      // and Spark drove commit() through the source at least once
      assert(ChunkedEdgeBus.lastCommitted(topic) >= 1L)
    } finally ChunkedEdgeBus.drop(topic)
  }

  test("z-ordered layout prunes on BOTH dimensions where a linear sort covers one") {
    import org.apache.spark.sql.functions._
    val li = graft.model.Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey", "l_quantity")
    val zPath = java.nio.file.Files.createTempDirectory("graft-z").toString
    val linPath = java.nio.file.Files.createTempDirectory("graft-lin").toString
    val nFiles = 16
    Sources.writeZOrdered(li, zPath, Seq("l_partkey", "l_suppkey"), nFiles = nFiles)
    // the comparison layout: range-sorted by partkey only
    li.repartitionByRange(nFiles, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(linPath)
    // per-file min/max — exactly the stats parquet row groups expose
    def fileRanges(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_partkey").as("plo"), max("l_partkey").as("phi"),
        min("l_suppkey").as("slo"), max("l_suppkey").as("shi"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val zr = fileRanges(zPath)
    val lr = fileRanges(linPath)
    assert(zr.length == nFiles && lr.length == nFiles)
    // row counts preserved
    assert(spark.read.parquet(zPath).count() == li.count())
    // a filter on the SECOND dimension only: suppkey in a 1/8 band
    val (sLo, sHi) = {
      val mm = li.agg(min("l_suppkey"), max("l_suppkey")).head()
      val lo = mm.getLong(0); val hi = mm.getLong(1)
      (lo, lo + (hi - lo) / 8)
    }
    def touched(rs: Array[(Long, Long, Long, Long)]) =
      rs.count { case (_, _, slo, shi) => shi >= sLo && slo <= sHi }
    val zTouched = touched(zr)
    val linTouched = touched(lr)
    // partkey-sorted files know nothing about suppkey: every file spans
    // the suppkey range; z-ordered files cover suppkey sub-bands
    assert(linTouched == nFiles, s"expected no pruning on linear layout, got $linTouched")
    assert(zTouched <= nFiles / 2,
      s"z-layout should skip at least half the files on a 1/8 second-dim band, touched $zTouched/$nFiles")
  }

  test("rate source emits canonical edges") {
    val stream = Sources.rateEdgeStream(spark, rowsPerSecond = 100, nVertices = 10)
    assert(stream.isStreaming)
    assert(stream.columns.toSeq == Seq("src", "dst", "value", "ts"))
  }

  test("partitioned layout: equality filter prunes partition directories") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft-layout").toString
    Sources.writePartitioned(docs, path, "lang", orderCols = Seq("doc_id"))
    // hive layout on disk: one directory per lang
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("lang=")).toSet
    assert(dirs.size >= 3)
    val back = spark.read.parquet(path).where(col("lang") === "en")
    // results correct...
    assert(back.count() == docs.where(col("lang") === "en").count())
    // ...and the physical plan prunes to the one matching directory
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    val scanned = back.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(scanned.contains("lang=en") || plan.contains("isnotnull(lang"), scanned.take(300))
  }

  test("bucketed tables: equal-bucket join runs with NO Exchange on either side") {
    import org.apache.spark.sql.functions.col
    val li = graft.model.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val o = graft.model.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey")
    try {
      Sources.writeBucketed(li, "bspec_lineitem", "l_orderkey", 8, Seq("l_orderkey"))
      Sources.writeBucketed(o, "bspec_orders", "o_orderkey", 8, Seq("o_orderkey"))
      // force the join shape bucketing is FOR (fact-to-fact SMJ, no
      // broadcast escape hatch) and read the final plan, not AQE's
      // placeholder
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
        val joined = spark.table("bspec_lineitem")
          .join(spark.table("bspec_orders"), col("l_orderkey") === col("o_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan.take(400))
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle:\n${plan.take(800)}")
        // and the answer matches the plain (shuffling) join
        val expected = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
        assert(joined.count() === expected)
        // a MISMATCHED bucket count must fall back to a correct (if
        // shuffling) plan, never a wrong result
        Sources.writeBucketed(o, "bspec_orders5", "o_orderkey", 5)
        val mixed = spark.table("bspec_lineitem")
          .join(spark.table("bspec_orders5"), col("l_orderkey") === col("o_orderkey"))
        assert(mixed.count() === expected)
      }
    } finally {
      Seq("bspec_lineitem", "bspec_orders", "bspec_orders5")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("idempotentBatchWriter: a retried batch replaces, never duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-idem").toString
    val w = graft.sources.Sources.idempotentBatchWriter(dir)
    w(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    w(Seq((3L, "c")).toDF("k", "v"), 1L)
    // retry of batch 1 (same batchId, possibly different physical
    // attempt) — must REPLACE, not append
    w(Seq((3L, "c")).toDF("k", "v"), 1L)
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // and a CHANGED retry (reprocessing produced different rows after a
    // code fix) still lands exactly once
    w(Seq((4L, "d")).toDF("k", "v"), 1L)
    val got2 = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 == Set((1L, "a"), (2L, "b"), (4L, "d")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a localBuilder session lists files and partitions on the driver") {
    // above these thresholds Spark lists with a Spark job whose every
    // task deserializes the Hadoop Configuration; locally it buys nothing
    val high = Int.MaxValue.toString
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == high)
    assert(spark.sparkContext.getConf.get("spark.rdd.parallelListingThreshold") == high)
  }
}
