package graft

import org.apache.spark.sql.functions._

import graft.functions.{IVF, Similarity}
import graft.model.Tables

class IVFSpec extends SparkTestBase {

  private lazy val emb = Tables.embeddings(spark, sf).cache()

  test("IVF training is deterministic and centroids are unit vectors") {
    val m1 = IVF.fit(emb, k = 8, iters = 3)
    val m2 = IVF.fit(emb, k = 8, iters = 3)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    m1.centroids.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
  }

  test("IVF index partitions the whole corpus into k cells") {
    val model = IVF.fit(emb, k = 8, iters = 3)
    val indexed = IVF.index(emb, model)
    assert(indexed.count() == emb.count())
    val cells = indexed.select("cid").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 8).toSet) && cells.size > 1)
  }

  test("IVF topK recall vs brute force improves with nprobe") {
    val queries = emb.where(col("vec_id") <= 9)
    val brute = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val model = IVF.fit(emb, k = 8, iters = 3)
    val indexed = IVF.index(emb, model).cache()
    def recall(nprobe: Int): Double = {
      val got = IVF.topK(indexed, queries, model, 5, nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (brute & got).size.toDouble / brute.size
    }
    val r2 = recall(2)
    val r8 = recall(8) // probing all cells = exact
    assert(r8 == 1.0, s"full probe must be exact, got $r8")
    assert(r2 >= 0.3, s"nprobe=2 recall too low: $r2")
    assert(r8 >= r2)
  }

  test("PQ: deterministic codebooks, code shape, and shortlist-covers-exact recall") {
    import graft.functions.PQ
    val m1 = PQ.fit(emb, m = 8, ks = 16, iters = 3)
    val m2 = PQ.fit(emb, m = 8, ks = 16, iters = 3)
    assert(m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    assert(m1.m == 8 && m1.dsub == 8) // dim 64 / 8 subspaces
    val indexed = PQ.index(emb, m1).cache()
    assert(indexed.count() == emb.count())
    // every code within its codebook's range
    val mx = indexed.select(max(array_max(col("codes")))).head.getInt(0)
    assert(mx < 16)
    val queries = emb.where(col("vec_id") <= 9)
    val brute = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(shortlist: Int): Double = {
      val got = PQ.topK(indexed, emb, queries, m1, 5, shortlist).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (brute & got).size.toDouble / brute.size
    }
    // shortlist = corpus size degenerates to exact brute force (the
    // re-rank sees everything)
    val n = emb.count().toInt
    assert(recall(n) == 1.0, "full shortlist must be exact")
    val r64 = recall(64)
    assert(r64 >= 0.5, s"shortlist=64 recall too low: $r64")
    // exact-cosine sims on the re-ranked output match brute force
    val pqTop = PQ.topK(indexed, emb, queries, m1, 5, n).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val bfTop = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pqTop == bfTop)
  }

  test("PQ save/load: fresh-session reload serves identical top-k from the bucketed table") {
    import graft.functions.PQ
    val model = PQ.fit(emb, m = 8, ks = 16, iters = 3)
    val indexed = PQ.index(emb, model)
    PQ.save(model, indexed, "graft_pq_spec_idx", nBuckets = 4)
    // reload in a FRESH session (shared catalog — the deployment shape:
    // the builder's session is long gone when queries arrive)
    val fresh = spark.newSession()
    val (m2, codes) = PQ.load(fresh, "graft_pq_spec_idx")
    // model round-trips exactly
    assert(m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val freshEmb = Tables.embeddings(fresh, sf)
    val queries = freshEmb.where(col("vec_id") <= 9)
    val served = PQ.topK(codes, freshEmb, queries, m2, 5)
    // the served plan reads the persisted codes table (bucketed scan)
    // and never re-encodes the corpus: pq_encode may appear ONLY for
    // the broadcast query-side distance tables, never over a scan of
    // the embeddings corpus on the indexed side
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("graft_pq_spec_idx_codes"), plan.take(800))
    assert(!plan.toLowerCase.contains("pq_encode"), plan.take(800))
    // identical rows to serving from the in-memory index
    val direct = PQ.topK(indexed, emb, emb.where(col("vec_id") <= 9), model, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val reloaded = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(reloaded == direct)
  }

  test("IVF save/load: fresh-session reload serves identical top-k from the cell-partitioned table") {
    val model = IVF.fit(emb, k = 8, iters = 3)
    val indexed = IVF.index(emb, model)
    IVF.save(model, indexed, "graft_ivf_spec_idx")
    val fresh = spark.newSession()
    val (m2, cells) = IVF.load(fresh, "graft_ivf_spec_idx")
    assert(m2.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq)
    val queries = Tables.embeddings(fresh, sf).where(col("vec_id") <= 9)
    val served = IVF.topK(cells, queries, m2, 5, nprobe = 4)
    // the served plan reads the persisted cid-partitioned table — the
    // layout whose probe is a partition-pruned read — never re-assigns
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ivf_spec_idx_cells"), plan.take(800))
    val direct = IVF.topK(indexed, emb.where(col("vec_id") <= 9), model, 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val reloaded = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(reloaded == direct)
  }

  test("PQ delete: tombstones leave exactly, absent-delete is a no-op, ingest re-adds") {
    import graft.functions.PQ
    val model = PQ.fit(emb, m = 8, ks = 16, iters = 3)
    PQ.save(model, PQ.index(emb, model), "graft_pq_del_spec")
    val n = emb.count()
    val tombVecs = emb.where(col("vec_id") % 7 === 2)
    val tomb = tombVecs.select("vec_id")
    val nTomb = tomb.count()
    assert(nTomb > 0 && nTomb < n)
    PQ.delete(spark, "graft_pq_del_spec", tomb)
    val fresh = spark.newSession()
    val (m2, codes) = PQ.load(fresh, "graft_pq_del_spec")
    // deletion never touches the model
    assert(m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // exact removal: count, no tombstone survives, and every SURVIVOR's
    // codes are bit-identical to a fresh encode (nothing was re-encoded
    // or perturbed by the rewrite)
    assert(codes.count() == n - nTomb)
    assert(codes.join(tomb, Seq("vec_id"), "left_semi").count() == 0)
    def codeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    val expected = codeSet(
      PQ.index(emb.join(tomb, Seq("vec_id"), "left_anti"), model))
    assert(codeSet(codes) == expected)
    // serving the shrunken index never surfaces a deleted neighbor
    val net = Tables.embeddings(fresh, sf).where(col("vec_id") % 7 =!= 2)
    val served = PQ.topK(codes, net, net.where(col("vec_id") <= 9), m2, 5)
      .collect().map(_.getLong(2)).toSet
    assert(served.forall(_ % 7 != 2))
    // absent-delete (replayed takedown) is a no-op
    PQ.delete(spark, "graft_pq_del_spec", tomb)
    assert(codeSet(spark.table("graft_pq_del_spec_codes")) == expected)
    // the stream-ingest path re-adds through the FROZEN codebooks and
    // the index is whole again — served as base ∪ ingest partitions
    // through load (the exactly-once side table, not raw appends)
    graft.streaming.StreamingOps.replayPqIngest(
      tombVecs, model, "graft_pq_del_spec", nBatches = 2)
    // one ingest file per trigger
    val files = parquetFilesPerBatch("graft_pq_del_spec_codes_ingest")
    assert(files.size == 2 && files.values.forall(_ == 1), files)
    // read through a fresh session: the appends came from another
    // session, and this one's cached table relation would be stale
    assert(codeSet(PQ.load(spark.newSession(), "graft_pq_del_spec")._2) ==
      codeSet(PQ.index(emb, model)))
    // a re-delivered trigger rewrites its own partition with identical
    // rows: re-running ingestBatch for an already-landed batch id
    // leaves the served state bit-identical (the exactly-once contract)
    val batchIds = spark.table("graft_pq_del_spec_codes_ingest")
      .select("ingest_batch").distinct().collect().map(_.getLong(0))
    assert(batchIds.nonEmpty)
    val beforeReplay = codeSet(PQ.load(spark.newSession(), "graft_pq_del_spec")._2)
    PQ.ingestBatch(
      spark.table("graft_pq_del_spec_codes_ingest")
        .where(col("ingest_batch") === batchIds.min)
        .drop("ingest_batch"),
      "graft_pq_del_spec", batchIds.min)
    assert(codeSet(PQ.load(spark.newSession(), "graft_pq_del_spec")._2) ==
      beforeReplay)
    // a SECOND delete compacts the ingest partitions back into the
    // bucketed base and drops the side table
    PQ.delete(spark, "graft_pq_del_spec", tomb.limit(0))
    assert(!spark.catalog.tableExists("graft_pq_del_spec_codes_ingest"))
    assert(codeSet(spark.newSession().table("graft_pq_del_spec_codes")) ==
      codeSet(PQ.index(emb, model)))
  }

  test("IVF delete: partition-pruned rewrite, emptied-cell drop, absent-delete no-op") {
    val model = IVF.fit(emb, k = 8, iters = 3)
    IVF.save(model, IVF.index(emb, model), "graft_ivf_del_spec")
    val n = emb.count()
    def cellsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cid"))).toSet
    val before = cellsOf(spark.table("graft_ivf_del_spec_cells"))
    // tombstones: every vector of ONE cell (forces the DDL drop path)
    // plus a slice of another (forces the dynamic-overwrite path)
    val cids = before.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val dropCid = cids.keys.min
    val sliceCid = cids.keys.max
    val tombIds = cids(dropCid) ++ cids(sliceCid).take(3)
    import spark.implicits._
    val tomb = tombIds.toSeq.toDF("vec_id")
    // unaffected partitions must not be rewritten: capture their file
    // mtimes and names before the delete
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def partState(cid: Int): Set[(String, Long)] = {
      val d = new java.io.File(wh, s"graft_ivf_del_spec_cells/cid=$cid")
      if (!d.isDirectory) Set.empty
      else d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified)).toSet
    }
    val untouched = cids.keys.filter(c => c != dropCid && c != sliceCid).toSeq
    val statesBefore = untouched.map(c => c -> partState(c)).toMap
    IVF.delete(spark, "graft_ivf_del_spec", tomb)
    val fresh = spark.newSession()
    val (m2, cells) = IVF.load(fresh, "graft_ivf_del_spec")
    assert(m2.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq)
    val after = cellsOf(cells)
    assert(after == before.filterNot(t => tombIds.contains(t._1)))
    assert(after.size == n - tombIds.size)
    // the emptied cell is GONE (DDL drop), not a stale survivor
    assert(!after.exists(_._2 == dropCid))
    // unaffected partitions were never rewritten (same files, same mtimes)
    untouched.foreach(c =>
      assert(partState(c) == statesBefore(c), s"cid=$c was rewritten"))
    // absent-delete (replayed takedown) is a no-op
    IVF.delete(spark, "graft_ivf_del_spec", tomb)
    assert(cellsOf(spark.newSession().table("graft_ivf_del_spec_cells")) == after)
  }

  test("IVF stream-ingest: exactly-once side table, serving union, delete reaches batches") {
    import spark.implicits._
    val base = emb.where(col("vec_id") % 10 =!= 7)
    val batch = emb.where(col("vec_id") % 10 === 7)
    val model = IVF.fit(base, k = 8, iters = 3)
    IVF.save(model, IVF.index(base, model), "graft_ivf_ing_spec")
    graft.streaming.StreamingOps.replayIvfIngest(batch, model,
      "graft_ivf_ing_spec", nBatches = 2)
    // one ingest file per trigger
    val files = parquetFilesPerBatch("graft_ivf_ing_spec_cells_ingest")
    assert(files.size == 2 && files.values.forall(_ == 1), files)
    def cellSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cid"))).toSet
    // served state (fresh session — the appends came from another
    // session) equals a one-shot index of the whole corpus under the
    // SAME frozen model
    val (m2, cells) = IVF.load(spark.newSession(), "graft_ivf_ing_spec")
    assert(m2.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq)
    assert(cellSet(cells) == cellSet(IVF.index(emb, model)))
    // re-delivering an already-landed batch id leaves the state
    // bit-identical (the exactly-once contract)
    val batchIds = spark.table("graft_ivf_ing_spec_cells_ingest")
      .select("ingest_batch").distinct().collect().map(_.getLong(0))
    assert(batchIds.length == 2)
    val before = cellSet(IVF.load(spark.newSession(), "graft_ivf_ing_spec")._2)
    IVF.ingestBatch(
      spark.table("graft_ivf_ing_spec_cells_ingest")
        .where(col("ingest_batch") === batchIds.min).drop("ingest_batch"),
      "graft_ivf_ing_spec", batchIds.min)
    assert(cellSet(IVF.load(spark.newSession(), "graft_ivf_ing_spec")._2) == before)
    // delete reaches INGESTED vectors through the batch-pruned rewrite;
    // an emptied batch partition is DDL-dropped
    val tombIds = batch.select("vec_id").limit(3).collect().map(_.getLong(0))
    IVF.delete(spark, "graft_ivf_ing_spec", tombIds.toSeq.toDF("vec_id"))
    val after = cellSet(IVF.load(spark.newSession(), "graft_ivf_ing_spec")._2)
    assert(after == before.filterNot(t => tombIds.contains(t._1)))
    // deleting every remaining ingested vector empties (and drops) the
    // batch partitions while the base cells stay intact
    IVF.delete(spark, "graft_ivf_ing_spec", batch.select("vec_id"))
    assert(spark.table("graft_ivf_ing_spec_cells_ingest").count() == 0)
    assert(cellSet(IVF.load(spark.newSession(), "graft_ivf_ing_spec")._2) ==
      cellSet(IVF.index(base, model)))
  }

  test("sampled training (maxTrainVectors < corpus) still yields a usable index") {
    val n = emb.count()
    val cap = (n / 4).toInt.max(8)
    assert(cap < n) // the sample branch actually engages
    val model = IVF.fit(emb, k = 8, iters = 3, maxTrainVectors = cap)
    // deterministic: the hash-threshold sample is fixed, so re-fitting agrees
    val model2 = IVF.fit(emb, k = 8, iters = 3, maxTrainVectors = cap)
    assert(model.centroids.map(_.toSeq).toSeq == model2.centroids.map(_.toSeq).toSeq)
    // the FULL corpus is still indexed, and full-probe search stays exact
    val indexed = IVF.index(emb, model)
    assert(indexed.count() == n)
    val queries = emb.where(col("vec_id") <= 9)
    val brute = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = IVF.topK(indexed, queries, model, 5, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == brute, "full probe over a sample-trained index must remain exact")
  }
}
