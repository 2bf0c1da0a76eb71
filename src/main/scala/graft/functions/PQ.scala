package graft.functions

import graft.Lineage.CutOps
import graft.sources.{IndexTables, Sources}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{PqEncode, VectorExpressions}
import graft.functions.Similarity.{cosine, dot}

/** Product-quantized approximate nearest neighbor (Jégou et al. 2011,
  * "Product Quantization for Nearest Neighbor Search", public) — the
  * FOOTPRINT scale path next to [[Similarity.lshTopK]] (bucam-bounded
  * candidates) and [[IVF]] (cell-bounded scans): at 10⁹+ embeddings the
  * 100 TB ANN bill is the vector BYTES (a 64-dim float64 vector is
  * 512 B; its 8-subspace PQ code is 8 small ints), so the searched
  * index stores only codes — a 16–64× cut in what the candidate scan
  * shuffles and holds — and full vectors are touched ONLY for the
  * short-list re-rank.
  *
  * Pipeline:
  *  1. [[fit]]: per-subspace k-means codebooks (Lloyd's on a
  *     deterministic hash-selected sample — the [[IVF.fit]] discipline;
  *     ONE assignment+means job per iteration covers ALL subspaces via
  *     the fused [[graft.expressions.PqEncode]]). L2 objective: PQ
  *     minimizes reconstruction error, which bounds the inner-product
  *     error |q·x − q·x̂| ≤ ‖x − x̂‖ for unit q (Cauchy–Schwarz).
  *  2. [[index]]: one shuffle-free projection — each vector's M codes.
  *  3. [[topK]]: queries precompute per-subspace distance TABLES
  *     (dt[m][j] = q_m · codebook[m][j], a Ks×M-double array riding the
  *     broadcast), so scoring a corpus row is M table LOOKUPS
  *     (asymmetric distance computation) instead of a D-mult dot —
  *     8× less arithmetic at dim 64 / M 8 on top of the byte cut; the
  *     approximate top-`shortlist` then re-ranks by EXACT cosine.
  *
  * Determinism: hash-selected sample and init rows, fixed iteration
  * count, strict `<` argmin tie-break, sequential summation — the
  * whole index is reproducible run to run, so the q162 recall-gate row
  * is oracle-predictable. Raw ADC scores are still approximation-
  * -dependent, which is why the driver-visible check is a recall gate
  * (the q33/q36 pattern), not a score hash.
  */
object PQ {

  /** codebooks(m)(j) — centroid j of subspace m; all subspaces have
    * equal width `dsub` = dim / M.
    */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def dsub: Int = codebooks(0)(0).length
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")
  private def unit(c: Column): Column = VectorExpressions.unitVector(c)

  /** Train per-subspace codebooks. `m` subspaces × `ks` centroids;
    * Lloyd's runs `iters` rounds on a ≤`maxTrainVectors` deterministic
    * sample, ONE Spark job per round for all subspaces together
    * (assignment via the fused encoder, means via a single
    * (m, code, pos) aggregation whose result — M×ks×dsub doubles — is
    * model state, not data). Empty cells keep their centroid.
    */
  def fit(corpus: DataFrame, m: Int = 8, ks: Int = 16, iters: Int = 5,
          maxTrainVectors: Int = 65536): Model = {
    val all = corpus.select(col("vec_id"), unit(asDouble(col("embedding"))).as("e"))
    val stats = all.agg(count(lit(1)), max(size(col("e")))).head()
    val n = stats.getLong(0)
    val dim = if (stats.isNullAt(1)) 0 else stats.getInt(1)
    require(dim > 0 && dim % m == 0,
      s"PQ.fit: dim $dim must be a positive multiple of m=$m")
    val dsub = dim / m
    val vecs = (if (n <= maxTrainVectors) all
      else {
        val keepPpm = math.max(1L, (maxTrainVectors.toDouble / n * 1e6).toLong)
        all.where(pmod(xxhash64(col("vec_id"), lit(7)), lit(1000000L)) < lit(keepPpm))
      }).cutLineage()
    val initRows = vecs.withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(ks)
      .select("e").collect()
      .map(_.getSeq[Double](0).toArray)
    require(initRows.nonEmpty, "PQ.fit: empty corpus")
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m)(j =>
      Array.tabulate(ks)(c =>
        initRows(c % initRows.length).slice(j * dsub, (j + 1) * dsub)))
    for (_ <- 1 to iters) {
      val means = vecs
        .select(posexplode(PqEncode.column(col("e"), cb)).as(Seq("m", "cid")), col("e"))
        .select(col("m"), col("cid"),
          posexplode(slice(col("e"), col("m") * dsub + 1, lit(dsub))).as(Seq("pos", "x")))
        .groupBy("m", "cid", "pos").agg(avg("x").as("mu"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      means.foreach(r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      cb = next
    }
    Model(cb)
  }

  /** The searchable index: (vec_id, codes) — one shuffle-free pass,
    * M small ints per vector. THIS is what a 100 TB deployment stores
    * and scans; the raw vectors stay in cold storage for re-ranking.
    */
  def index(corpus: DataFrame, model: Model): DataFrame =
    corpus.select(col("vec_id"),
      PqEncode.column(unit(asDouble(col("embedding"))), model.codebooks).as("codes"))

  /** ADC top-k with exact re-rank: approximate every (query, corpus)
    * pair by M distance-table lookups, keep each query's top
    * `shortlist` by approximate score, re-rank those — and only
    * those — by exact cosine against the raw vectors. Output matches
    * [[Similarity.bruteForceTopK]].
    */
  def topK(indexed: DataFrame, corpus: DataFrame, queries: DataFrame,
           model: Model, k: Int, shortlist: Int = 64): DataFrame = {
    val dsub = model.dsub
    val cbLit = typedlit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val qd = queries
      .select(col("vec_id").as("query_id"), unit(asDouble(col("embedding"))).as("qe"))
      .withColumn("dt", transform(cbLit, (mat, mi) =>
        transform(mat, ct => dot(slice(col("qe"), mi * dsub + 1, lit(dsub)), ct))))
      .select("query_id", "dt")
    val approx = indexed.crossJoin(broadcast(qd))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("codes"), col("dt"),
            (c, t) => element_at(t, c + 1)),
          lit(0.0), (a, x) => a + x).as("ascore"))
    // EXACT per-partition top-`shortlist` pre-fold (bounded heap per
    // query) before the global window: the candidate scores never
    // shuffle at corpus scale — what reaches the exchange is
    // ≤ partitions × queries × shortlist rows, not |corpus|×|queries|
    // (global top-L ≡ top-L of the union of per-partition top-Ls)
    val spark = indexed.sparkSession
    import spark.implicits._
    // worst-first ordering: PriorityQueue dequeues its maximum, so rank
    // "worst" highest — smallest score, then LARGEST neighbor id
    val worstFirst: Ordering[(Double, Long)] =
      Ordering.by { case (s, n) => (-s, n) }
    val pre = approx.as[(Long, Long, Double)].mapPartitions { it =>
      val heaps = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (q, n, s) =>
        val h = heaps.getOrElseUpdate(q,
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
        if (h.size < shortlist) h.enqueue((s, n))
        else if (worstFirst.lt((s, n), h.head)) { h.dequeue(); h.enqueue((s, n)) }
      }
      heaps.iterator.flatMap { case (q, h) => h.iterator.map(t => (q, t._2, t._1)) }
    }.toDF("query_id", "neighbor_id", "ascore")
    val sw = Window.partitionBy(col("query_id"))
      .orderBy(col("ascore").desc, col("neighbor_id").asc)
    val short = pre.withColumn("srank", row_number().over(sw))
      .where(col("srank") <= shortlist)
      .select("query_id", "neighbor_id")
    val cv = corpus.select(col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("ce"))
    val qe = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qe"))
    val reranked = cv.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(qe), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qe"), col("ce")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    reranked.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Convenience end-to-end search. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              m: Int = 8, ks: Int = 16, shortlist: Int = 64): DataFrame = {
    val model = fit(corpus, m, ks)
    topK(index(corpus, model), corpus, queries, model, k, shortlist)
  }

  /** The vec_id-bucketed codes table of index `name`. */
  private[graft] def codesTable(name: String) = s"${name}_codes"

  /** Persist the index for the build-once / query-many lifecycle a
    * 10⁹-vector deployment actually runs: the CODES as a
    * vec_id-bucketed catalog table ([[graft.sources.Sources
    * .writeBucketed]] — the searched artifact, M small ints/vector,
    * scanned Exchange-free on reload) and the CODEBOOKS — model state,
    * M×Ks×dsub doubles — as a tiny single-file catalog table
    * (m, cid, pos, mu). Overwrite semantics; both tables live in the
    * shared catalog, so ANY session of the deployment (not just the
    * builder's) can [[load]] and serve. A fresh save also clears any
    * prior ingest/swap state.
    */
  def save(model: Model, indexed: DataFrame, name: String,
           nBuckets: Int = 8): Unit = {
    val spark = indexed.sparkSession
    import spark.implicits._
    IndexTables.dropForSave(spark, codesTable(name), s"${name}_codebooks",
      IndexTables.swap(codesTable(name)))
    Sources.writeBucketed(indexed, codesTable(name), "vec_id", nBuckets,
      sortCols = Seq("vec_id"))
    val rows = for {
      (mat, m) <- model.codebooks.zipWithIndex.toIndexedSeq
      (cent, cid) <- mat.zipWithIndex.toIndexedSeq
      (mu, pos) <- cent.zipWithIndex.toIndexedSeq
    } yield (m, cid, pos, mu)
    IndexTables.writeSmall(spark.createDataset(rows).toDF("m", "cid", "pos", "mu"),
      s"${name}_codebooks")
  }

  /** DELETE maintenance for a [[save]]d index — the takedown /
    * right-to-erasure half of the lifecycle ([[save]] builds,
    * [[graft.streaming.StreamingOps.replayPqIngest]] appends, this
    * removes). PQ codes are strictly per-vector rows, so deletion is
    * EXACT removal — unlike HLL registers, nothing here needs a
    * rebuild: the tombstoned vec_ids leave via ONE anti-join against
    * the persisted bucketed codes table (tombstone sets are tiny by
    * nature — broadcast — so the scan side never shuffles), the
    * codebooks are untouched, and NO surviving vector is re-encoded
    * (re-training on deletion would change every code and every
    * cached query's distance table for no accuracy gain). Any
    * streamed-ingest rows are folded into the rewrite (compaction at
    * takedown).
    *
    * This harness-scale writer rewrites the whole codes table
    * (copy-on-write). At 10⁹ vectors, partition the codes table by
    * bucket id on top of the bucketBy layout and rewrite ONLY the
    * buckets the tombstones hash into (partition-pruned read +
    * targeted overwrite), or keep a merge-on-read tombstone side
    * table that serving anti-joins and a compaction job folds in —
    * both read paths are this same anti-join, just scheduled
    * differently.
    *
    * Crash safety is [[rewriteCodes]]'s swap-rename discipline.
    * Idempotent: deleting an absent vec_id is a no-op; a replayed
    * delete finds nothing left to remove.
    */
  def delete(spark: SparkSession, name: String, tombstones: DataFrame,
             nBuckets: Int = 8): Unit = {
    healSwap(spark, name)
    rewriteCodes(spark, name, nBuckets)(_.join(
      broadcast(tombstones.select(col("vec_id")).distinct()),
      Seq("vec_id"), "left_anti"))
  }

  /** COMPACTION — fold the streamed ingest delta into the
    * vec_id-bucketed codes table: [[delete]] with no tombstones,
    * structurally — the same swap-rename crash discipline, the same
    * layout preservation, no anti-join. A bucketed table has no
    * partition directories to fold into, so PQ's unit of atomicity is
    * the whole-table rename ([[IndexTables.fold]] is the
    * partition-pruned fold the partitioned families use); after the
    * fold, serving is one Exchange-free bucketed scan again and the
    * per-trigger ingest files are gone. No ingest table, or an empty
    * one, is a no-op. Codebooks never change — compaction is a storage
    * fold, not a re-encode.
    */
  def compact(spark: SparkSession, name: String, nBuckets: Int = 8): Unit = {
    healSwap(spark, name)
    val ing = IndexTables.ingest(codesTable(name))
    if (spark.catalog.tableExists(ing) && !spark.table(ing).isEmpty)
      rewriteCodes(spark, name, nBuckets)(identity)
  }

  /** The swap-rename rewrite behind [[delete]] and [[compact]]: the
    * served rows (base ∪ ingest, ingest-wins on vec_id — replay-
    * idempotent, and a re-ingested vector replaces its old codes
    * instead of doubling) pass through `keep` into the swap table.
    *
    * The rewrite PRESERVES the saved layout: it reads the table's own
    * bucket spec rather than trusting this call's default (`nBuckets` is
    * only the fallback for a spec-less table).
    *
    * CRASH SAFETY: survivors are written to `<name>_codes_swap` FIRST,
    * then the old table is dropped and the swap renamed into place
    * ([[finishSwap]]). A complete codes table therefore exists on disk
    * at every instant; the only crash window leaves a finished swap
    * beside (or instead of) the old codes, and [[healSwap]] — invoked
    * by [[delete]], [[compact]] and [[load]] — completes the rename on
    * the next touch.
    */
  private def rewriteCodes(spark: SparkSession, name: String, nBuckets: Int)(
      keep: DataFrame => DataFrame): Unit = {
    val t = codesTable(name)
    val base = spark.table(t)
    val ing = IndexTables.ingest(t)
    val all =
      if (spark.catalog.tableExists(ing)) {
        val d = spark.table(ing).drop("ingest_batch")
        base.join(d.select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
          .unionByName(d)
      } else base
    val buckets = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser
        .parseTableIdentifier(t))
      .bucketSpec.map(_.numBuckets).getOrElse(nBuckets)
    // the read side is the live codes scan (no overwrite-read cycle, so
    // no checkpoint pin), and the live table stays intact until the
    // swap is complete
    Sources.dropManagedTable(spark, IndexTables.swap(t))
    Sources.writeBucketed(keep(all), IndexTables.swap(t), "vec_id", buckets,
      sortCols = Seq("vec_id"))
    finishSwap(spark, name)
  }

  /** Complete an interrupted [[rewriteCodes]]: if the swap table
    * exists, it is a FINISHED survivor set (with any ingest rows already
    * folded in) — rename it into place. No swap → no-op.
    */
  private def healSwap(spark: SparkSession, name: String): Unit =
    if (spark.catalog.tableExists(IndexTables.swap(codesTable(name))))
      finishSwap(spark, name)

  /** Drop the ingest table (already folded into the swap) BEFORE the
    * old codes table, then rename the swap into place: every crash
    * window leaves the swap on disk, so [[healSwap]] completes the
    * rename — dropping the ingest table last would leave a window where
    * the folded ingest rows are served TWICE with no swap left to
    * trigger the heal.
    */
  private def finishSwap(spark: SparkSession, name: String): Unit = {
    val t = codesTable(name)
    Sources.dropManagedTable(spark, IndexTables.ingest(t))
    Sources.dropManagedTable(spark, t)
    spark.sql(s"ALTER TABLE ${IndexTables.swap(t)} RENAME TO $t")
  }

  /** Create the exactly-once ingest table `<name>_codes_ingest` for a
    * [[save]]d index if absent ([[IndexTables.ensureIngest]]). Serving
    * ([[load]]) unions it with the base codes; [[compact]] and
    * [[delete]] fold it away.
    */
  def ensureIngestTable(spark: SparkSession, name: String): Unit =
    IndexTables.ensureIngest(spark, codesTable(name))

  /** Idempotent per-trigger append of `codes` (vec_id, codes) into the
    * `ingest_batch = batchId` partition ([[IndexTables.ingestBatch]]):
    * re-delivery of a batch (failure/retry replay — Structured
    * Streaming's at-least-once foreachBatch contract) overwrites the
    * same partition with the same rows.
    */
  def ingestBatch(codes: DataFrame, name: String, batchId: Long): Unit =
    IndexTables.ingestBatch(codes, codesTable(name), batchId)

  /** Reload a [[save]]d index: (model, codes). The codes DataFrame IS
    * the bucketed table scan — unioned with the exactly-once ingest
    * table's partitions when one exists — and serving re-encodes
    * NOTHING (spec asserts the plan reads `name_codes` and contains no
    * corpus-side encoder); a fresh session sees the tables through the
    * shared catalog.
    */
  def load(spark: SparkSession, name: String): (Model, DataFrame) = {
    healSwap(spark, name)
    val rows = spark.table(s"${name}_codebooks").collect()
    require(rows.nonEmpty, s"no codebooks found in table ${name}_codebooks")
    val m = rows.map(_.getInt(0)).max + 1
    val ks = rows.map(_.getInt(1)).max + 1
    val dsub = rows.map(_.getInt(2)).max + 1
    val cb = Array.fill(m, ks, dsub)(0.0)
    rows.foreach(r => cb(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
    (Model(cb), IndexTables.serve(spark, codesTable(name)))
  }
}
