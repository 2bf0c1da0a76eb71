package graft

import org.apache.spark.sql.functions._

import graft.functions.PhashIndex
import graft.model.Tables
import graft.operators.Multimodal

/** Persisted perceptual-hash image index: probe = exact cross-split
  * Hamming pairs (banding is pigeonhole-EXACT, no recall argument),
  * partition-pruned lookup, exactly-once ingest, compaction fold, and
  * the pruned delete rewrite.
  */
class PhashIndexSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf).cache()

  private def hashesOf(pred: org.apache.spark.sql.Column) =
    Multimodal.perceptualHashes(
      Multimodal.syntheticImages(docs.where(pred)).toDF())

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  // expected cross-split pairs from the in-query banded enumeration
  // over the FULL corpus (bit-identical to all-pairs — the pigeonhole
  // argument), oriented query-first
  private def expectedPairs(corpusPred: Long => Boolean): Set[(Long, Long, Long)] = {
    val all = Multimodal.phashPairsBanded(
      Multimodal.perceptualHashes(
        Multimodal.syntheticImages(docs).toDF()), 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    all.flatMap { case (a, b, hm) =>
      val (aq, bq) = (a % 10 == 7, b % 10 == 7)
      if (aq && !bq && corpusPred(b)) Some((a, b, hm))
      else if (bq && !aq && corpusPred(a)) Some((b, a, hm))
      else None
    }.toSet
  }

  test("probe reproduces the exact cross-split Hamming pairs from a persisted index") {
    PhashIndex.save(hashesOf(col("doc_id") % 10 =!= 7), "graft_pidx_spec")
    val got = PhashIndex.probe(spark, "graft_pidx_spec",
      hashesOf(col("doc_id") % 10 === 7))
    val expected = expectedPairs(_ % 10 != 7)
    assert(pairSet(got) == expected, s"got ${pairSet(got).take(5)}")
    assert(expected.nonEmpty) // the fixture actually exercises the probe
    // the chunk lookup is PARTITION-pruned: assert the mechanism on the
    // identical read pattern — a one-image probe batch's cp set pruned
    // into the chunk scan
    val oneHash = hashesOf(col("doc_id") % 10 === 7).limit(1)
    val cps = PhashIndex.encode(oneHash, 4)
      .select("cp").distinct().collect().map(_.getLong(0))
    assert(cps.nonEmpty && cps.length <= 5)
    val pruned = spark.table("graft_pidx_spec_chunks")
      .where(col("cp").isin(cps.map(Long.box): _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    val allCps = spark.table("graft_pidx_spec_chunks")
      .select("cp").distinct().collect().map(_.getLong(0)).toSet
    // two-digit value: "cp=6" would substring-match "cp=63" in paths
    val outside = (allCps -- cps.toSet).filter(_ >= 10).headOption
    val leaves = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    outside.foreach(k => assert(!leaves.contains(s"cp=$k"), leaves.take(300)))
  }

  test("params round-trip, fresh-session serving, empty probe") {
    PhashIndex.save(hashesOf(col("doc_id") < 50), "graft_pidx_meta",
      maxHamming = 6)
    val fresh = spark.newSession()
    assert(PhashIndex.params(fresh, "graft_pidx_meta") == 6)
    assert(PhashIndex.loadChunks(fresh, "graft_pidx_meta").count() > 0)
    // an empty probe batch returns the typed empty frame
    val empty = PhashIndex.probe(spark, "graft_pidx_meta",
      hashesOf(col("doc_id") < -1))
    assert(empty.columns.toSeq == Seq("query_id", "corpus_id", "hamming"))
    assert(empty.count() == 0)
    // typed exactly like a probe that reads partitions
    val probed = PhashIndex.probe(spark, "graft_pidx_meta",
      hashesOf(col("doc_id") < 10))
    assert(empty.schema == probed.schema, s"${empty.schema} vs ${probed.schema}")
    // hashes read back from parquet have a nullable id: the empty probe
    // follows it, as the non-empty one does
    val dir = java.nio.file.Files.createTempDirectory("graft-phash-probe").toString
    hashesOf(col("doc_id") < 10).write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    assert(read.schema("id").nullable && read.count() > 0) // a non-empty cp set
    val emptyRead = PhashIndex.probe(spark, "graft_pidx_meta", read.where(col("id") < -1))
    val probedRead = PhashIndex.probe(spark, "graft_pidx_meta", read)
    assert(emptyRead.count() == 0)
    assert(emptyRead.schema == probedRead.schema,
      s"${emptyRead.schema} vs ${probedRead.schema}")
    assert(emptyRead.schema("query_id").nullable)
  }

  test("ingest is exactly-once and the compacted index serves the identical pairs") {
    val basePred = col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 5
    PhashIndex.save(hashesOf(basePred), "graft_pidx_ing")
    PhashIndex.ensureIngestTable(spark, "graft_pidx_ing")
    val enc = PhashIndex.encode(hashesOf(col("doc_id") % 10 === 5), 4)
    PhashIndex.ingestBatch(enc, "graft_pidx_ing", 0L)
    def state() = spark.table("graft_pidx_ing_chunks_ingest").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getLong(5))).sortBy(t => (t._1, t._4))
    val once = state()
    // re-delivery of the SAME batch id rewrites its own partition
    PhashIndex.ingestBatch(enc, "graft_pidx_ing", 0L)
    assert(state().toSeq == once.toSeq)
    assert(once.length == enc.count())
    val queries = hashesOf(col("doc_id") % 10 === 7)
    val lsm = pairSet(PhashIndex.probe(spark, "graft_pidx_ing", queries))
    assert(lsm == expectedPairs(_ % 10 != 7))
    // the fold moves the delta into the base partitions; the served
    // pair set is unchanged and the ingest partitions are gone
    PhashIndex.compact(spark, "graft_pidx_ing")
    assert(spark.table("graft_pidx_ing_chunks_ingest").count() == 0)
    assert(pairSet(PhashIndex.probe(spark, "graft_pidx_ing", queries)) == lsm)
  }

  test("replayed ingest stores exactly the bulk encoding of the streamed ids") {
    PhashIndex.save(hashesOf(col("doc_id") % 10 =!= 5), "graft_pidx_replay")
    graft.streaming.StreamingOps.replayPhashIngest(
      docs.where(col("doc_id") % 10 === 5), "graft_pidx_replay")
    val bulk = PhashIndex.encode(hashesOf(col("doc_id") % 10 === 5), 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(bulk.columns.toSeq.map(col): _*).collect()
        .map(_.toSeq).sortBy(_.mkString(","))
    val stored = spark.table("graft_pidx_replay_chunks_ingest")
    assert(rows(stored).toSeq == rows(bulk).toSeq)
    assert(rows(bulk).nonEmpty)
    // default nBatches = 3: one ingest partition, and one file, per trigger
    assert(stored.select("ingest_batch").distinct().count() == 3)
    val files = parquetFilesPerBatch("graft_pidx_replay_chunks_ingest")
    assert(files.size == 3 && files.values.forall(_ == 1), files)
  }

  test("delete: pruned rewrite, untouched partitions keep their files, idempotent") {
    PhashIndex.save(hashesOf(col("doc_id") % 10 =!= 7), "graft_pidx_del")
    val tomb = hashesOf(col("doc_id") % 10 === 3)
    val affCps = PhashIndex.encode(tomb, 4)
      .select("cp").distinct().collect().map(_.getLong(0)).toSet
    val allCps = spark.table("graft_pidx_del_chunks")
      .select("cp").distinct().collect().map(_.getLong(0)).toSet
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def partState(cp: Long): Set[(String, Long)] = {
      val d = new java.io.File(wh, s"graft_pidx_del_chunks/cp=$cp")
      if (!d.isDirectory) Set.empty
      else d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified)).toSet
    }
    val untouched = (allCps -- affCps).toSeq
    val statesBefore = untouched.map(k => k -> partState(k)).toMap
    PhashIndex.delete(spark, "graft_pidx_del", tomb)
    assert(spark.table("graft_pidx_del_chunks")
      .where(col("id") % 10 === 3).count() == 0)
    untouched.foreach(k =>
      assert(partState(k) == statesBefore(k), s"cp=$k was rewritten"))
    // probing the shrunken index equals the net-corpus pair set
    val got = pairSet(PhashIndex.probe(spark, "graft_pidx_del",
      hashesOf(col("doc_id") % 10 === 7)))
    assert(got == expectedPairs(d => d % 10 != 7 && d % 10 != 3))
    // replayed takedown is a no-op
    val after = spark.table("graft_pidx_del_chunks").count()
    PhashIndex.delete(spark, "graft_pidx_del", tomb)
    assert(spark.table("graft_pidx_del_chunks").count() == after)
    // two images with disjoint chunk partitions: deleting one DDL-drops
    // every cp partition it does not share with the other
    import spark.implicits._
    val a = Seq((1L, 0x0F0F0F0FL, 0x12345678L)).toDF("id", "h_lo", "h_hi")
    val b = Seq((2L, 0x70F0F0F0L, 0x6543210FL)).toDF("id", "h_lo", "h_hi")
    PhashIndex.save(a.unionByName(b), "graft_pidx_empty")
    def cpsOf(h: org.apache.spark.sql.DataFrame) = PhashIndex.encode(h, 4)
      .select("cp").distinct().collect().map(_.getLong(0)).toSet
    val (aCps, bCps) = (cpsOf(a), cpsOf(b))
    assert((aCps -- bCps).nonEmpty, "fixture must empty some partition")
    PhashIndex.delete(spark, "graft_pidx_empty", a)
    assert(spark.table("graft_pidx_empty_chunks")
      .select("cp").distinct().collect().map(_.getLong(0)).toSet == bCps)
    (aCps -- bCps).foreach(k => assert(
      !new java.io.File(wh, s"graft_pidx_empty_chunks/cp=$k").exists(),
      s"emptied cp=$k still on disk"))
    // delete reaches the ingest batches, pruned by their own partition key
    PhashIndex.ensureIngestTable(spark, "graft_pidx_empty")
    val c = Seq((3L, 0x00FF00FFL, 0x0F00F00FL)).toDF("id", "h_lo", "h_hi")
    PhashIndex.ingestBatch(PhashIndex.encode(c, 4), "graft_pidx_empty", 5L)
    PhashIndex.delete(spark, "graft_pidx_empty", c)
    assert(spark.table("graft_pidx_empty_chunks_ingest").count() == 0)
    assert(!new java.io.File(wh,
      "graft_pidx_empty_chunks_ingest/ingest_batch=5").exists())
    assert(spark.table("graft_pidx_empty_chunks")
      .select("cp").distinct().collect().map(_.getLong(0)).toSet == bCps)
  }
}
