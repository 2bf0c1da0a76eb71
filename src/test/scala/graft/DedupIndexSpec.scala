package graft

import org.apache.spark.sql.functions._

import graft.functions.{Dedup, DedupIndex}
import graft.model.Tables

class DedupIndexSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf).cache()

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("probe reproduces the exact cross-split Jaccard pairs from a persisted index") {
    val corpus = docs.where(col("doc_id") % 10 =!= 7)
    val queries = docs.where(col("doc_id") % 10 === 7)
    DedupIndex.save(corpus, "graft_didx_spec")
    val got = DedupIndex.probe(spark, "graft_didx_spec", queries, corpus, 0.5)
    // expected: minhashPairs on the FULL corpus is the exact pair set
    // (the q30 gate); keep the pairs with exactly one held-out endpoint,
    // oriented query-first
    val all = Dedup.minhashPairs(docs, 2, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = all.flatMap { case (a, b, j) =>
      (a % 10 == 7, b % 10 == 7) match {
        case (true, false) => Some((a, b, j))
        case (false, true) => Some((b, a, j))
        case _ => None
      }
    }.toSet
    assert(pairSet(got) == expected, s"got ${pairSet(got)}")
    assert(expected.nonEmpty) // the fixture actually exercises the probe
    // the bucket lookup is PARTITION-pruned: probe's candidate stage is
    // checkpointed out of the returned plan, so assert the mechanism on
    // the IDENTICAL read pattern (the SummarySpec discipline) — a
    // one-doc probe batch's kp set pruned into the bucket scan
    val oneDoc = queries.limit(1)
    val kps = DedupIndex.encode(oneDoc, 2, 8, 4)
      .select("kp").distinct().collect().map(_.getLong(0))
    assert(kps.nonEmpty && kps.length <= 8)
    val pruned = spark.table("graft_didx_spec_buckets")
      .where(col("kp").isin(kps.map(Long.box): _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    // a kp outside the probe's set is not listed in the scan leaves
    val allKps = spark.table("graft_didx_spec_buckets")
      .select("kp").distinct().collect().map(_.getLong(0)).toSet
    // two-digit value: "kp=6" would substring-match "kp=63" in paths
    val outside = (allKps -- kps.toSet).filter(_ >= 10).headOption
    val leaves = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    outside.foreach(k => assert(!leaves.contains(s"kp=$k"), leaves.take(300)))
  }

  test("params round-trip and fresh-session serving") {
    DedupIndex.save(docs.limit(50), "graft_didx_meta", n = 3, bands = 4,
      rowsPerBand = 2)
    val fresh = spark.newSession()
    assert(DedupIndex.params(fresh, "graft_didx_meta") == (3, 4, 2))
    // a fresh session sees the buckets through the shared catalog
    assert(DedupIndex.loadBuckets(fresh, "graft_didx_meta").count() > 0)
  }

  test("ingest is exactly-once: a replayed trigger leaves the state bit-identical") {
    import spark.implicits._
    val base = docs.where(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 5)
    val batch = docs.where(col("doc_id") % 10 === 5)
    val queries = docs.where(col("doc_id") % 10 === 7)
    DedupIndex.save(base, "graft_didx_ing")
    DedupIndex.ensureIngestTable(spark, "graft_didx_ing")
    val enc = DedupIndex.encode(batch, 2, 8, 4)
    DedupIndex.ingestBatch(enc, "graft_didx_ing", 0L)
    def state() = spark.table("graft_didx_ing_buckets_ingest").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    val once = state()
    // re-delivery of the SAME batch id rewrites its own partition
    DedupIndex.ingestBatch(enc, "graft_didx_ing", 0L)
    assert(state().toSeq == once.toSeq)
    assert(once.length == enc.count())
    // one file per trigger: the banding union's task fan-out collapses
    val files = parquetFilesPerBatch("graft_didx_ing_buckets_ingest")
    assert(files == Map("ingest_batch=0" -> 1), files)
    // serving through the union equals a one-shot index of base ∪ batch
    DedupIndex.save(base.unionByName(batch), "graft_didx_oneshot")
    val viaIngest = DedupIndex.probe(spark, "graft_didx_ing", queries,
      base.unionByName(batch), 0.5)
    val oneShot = DedupIndex.probe(spark, "graft_didx_oneshot", queries,
      base.unionByName(batch), 0.5)
    assert(pairSet(viaIngest) == pairSet(oneShot))
  }

  test("delete: pruned rewrite, untouched partitions keep their files, idempotent") {
    val corpus = docs.where(col("doc_id") % 10 =!= 7)
    val tomb = docs.where(col("doc_id") % 10 === 0)
    val queries = docs.where(col("doc_id") % 10 === 7)
    DedupIndex.save(corpus, "graft_didx_del")
    val (n, bands, rpb) = DedupIndex.params(spark, "graft_didx_del")
    val affKps = DedupIndex.encode(tomb, n, bands, rpb)
      .select("kp").distinct().collect().map(_.getLong(0)).toSet
    val allKps = spark.table("graft_didx_del_buckets")
      .select("kp").distinct().collect().map(_.getLong(0)).toSet
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def partState(kp: Long): Set[(String, Long)] = {
      val d = new java.io.File(wh, s"graft_didx_del_buckets/kp=$kp")
      if (!d.isDirectory) Set.empty
      else d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified)).toSet
    }
    val untouched = (allKps -- affKps).toSeq
    val statesBefore = untouched.map(k => k -> partState(k)).toMap
    DedupIndex.delete(spark, "graft_didx_del", tomb)
    // no tombstoned row survives anywhere
    assert(spark.table("graft_didx_del_buckets")
      .where(col("doc_id") % 10 === 0).count() == 0)
    // unaffected partitions were never rewritten (same files, same mtimes)
    untouched.foreach(k =>
      assert(partState(k) == statesBefore(k), s"kp=$k was rewritten"))
    // probing the shrunken index equals a fresh index of the net corpus
    val net = corpus.where(col("doc_id") % 10 =!= 0)
    DedupIndex.save(net, "graft_didx_net")
    assert(
      pairSet(DedupIndex.probe(spark, "graft_didx_del", queries, corpus, 0.5)) ==
      pairSet(DedupIndex.probe(spark, "graft_didx_net", queries, net, 0.5)))
    // replayed takedown is a no-op
    val after = spark.table("graft_didx_del_buckets").count()
    DedupIndex.delete(spark, "graft_didx_del", tomb)
    assert(spark.table("graft_didx_del_buckets").count() == after)
  }

  test("delete drops fully-emptied partitions and reaches ingest batches") {
    import spark.implicits._
    // two docs with DISJOINT shingle sets — deleting one must empty
    // (and DDL-drop) every kp partition it does not share with the other
    val a = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val b = Seq((2L, "one two three four five six")).toDF("doc_id", "text")
    DedupIndex.save(a.unionByName(b), "graft_didx_empty")
    val (n, bands, rpb) = DedupIndex.params(spark, "graft_didx_empty")
    val aKps = DedupIndex.encode(a, n, bands, rpb)
      .select("kp").distinct().collect().map(_.getLong(0)).toSet
    val bKps = DedupIndex.encode(b, n, bands, rpb)
      .select("kp").distinct().collect().map(_.getLong(0)).toSet
    DedupIndex.delete(spark, "graft_didx_empty", a)
    val left = spark.table("graft_didx_empty_buckets")
      .select("kp").distinct().collect().map(_.getLong(0)).toSet
    assert(left == bKps, s"left=$left bKps=$bKps")
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    (aKps -- bKps).foreach { k =>
      assert(!new java.io.File(wh, s"graft_didx_empty_buckets/kp=$k").exists(),
        s"emptied kp=$k still on disk")
    }
    // the ingest side table is pruned by ITS partition key too
    DedupIndex.ensureIngestTable(spark, "graft_didx_empty")
    val c = Seq((3L, "red orange yellow green blue indigo")).toDF("doc_id", "text")
    DedupIndex.ingestBatch(DedupIndex.encode(c, n, bands, rpb),
      "graft_didx_empty", 5L)
    DedupIndex.delete(spark, "graft_didx_empty", c)
    assert(spark.table("graft_didx_empty_buckets_ingest").count() == 0)
    // base table untouched by the ingest-side delete
    assert(spark.table("graft_didx_empty_buckets")
      .select("kp").distinct().collect().map(_.getLong(0)).toSet == bKps)
  }

  test("degenerate inputs: shingle-less docs and empty probes are no-ops") {
    import spark.implicits._
    DedupIndex.save(docs.limit(20), "graft_didx_degen")
    // a query batch whose every doc is too short to shingle → no
    // partitions to read, empty result, no crash
    val shorts = Seq((900L, "single")).toDF("doc_id", "text")
    val empty = DedupIndex.probe(spark, "graft_didx_degen", shorts,
      docs.limit(20), 0.5)
    assert(empty.isEmpty)
    // the empty frame is typed exactly like a probe that reads partitions
    val probed = DedupIndex.probe(spark, "graft_didx_degen", docs.limit(5),
      docs.limit(20), 0.5)
    assert(empty.schema == probed.schema, s"${empty.schema} vs ${probed.schema}")
    // deleting a shingle-less doc touches nothing
    val before = spark.table("graft_didx_degen_buckets").count()
    DedupIndex.delete(spark, "graft_didx_degen", shorts)
    assert(spark.table("graft_didx_degen_buckets").count() == before)
  }
}
