package graft.functions

import graft.Lineage.CutOps
import graft.sources.IndexTables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions
import graft.functions.Similarity.{dot, norm}

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to [[Similarity.lshTopK]]: partition the corpus into
  * Voronoi cells of k spherical-k-means centroids; a query probes only
  * its `nprobe` closest cells and brute-forces within them. The corpus
  * is scanned once at index time and shuffled once by cell id; per-query
  * work drops from O(N) to O(N·nprobe/k).
  *
  * Training is Lloyd's iterations expressed as DataFrame jobs; only the
  * k×dim centroid matrix (a few KB) ever reaches the driver — that is
  * model state, not data. Initialization is deterministic (vectors with
  * the k smallest xxhash64(vec_id) values), so the whole index is
  * reproducible run to run.
  */
object IVF {

  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Normalized embedding column (unit L2) — spherical k-means space.
    * One fused codegen pass: norm computed once per vector (not per
    * element), zero vectors pass through rather than becoming NaNs.
    */
  private def unit(c: Column): Column = VectorExpressions.unitVector(c)

  /** Column of cosine scores against each centroid: array<struct<s,i>>.
    * The centroid matrix binds as ONE array-of-arrays literal — k×dim
    * scalar literals (16×64 = 1,024 nested expressions) blow the
    * generated method past Janino limits and silently drop the stage to
    * interpreted eval. Used only on the query side (rows = #queries);
    * the corpus-side hot path is the codegen'd [[NearestCentroid]].
    */
  private def scores(vec: Column, cents: Array[Array[Double]]): Column = {
    val m = typedlit(cents.map(_.toSeq).toSeq)
    transform(m, (ct, i) => struct(dot(vec, ct).as("s"), i.cast("int").as("i")))
  }

  /** Nearest-centroid id (centroids are unit vectors; vec need not be):
    * fused argmax-dot loop over a constant matrix, fully codegen'd.
    */
  private def nearest(vec: Column, cents: Array[Array[Double]]): Column =
    VectorExpressions.nearestCentroid(vec, cents)

  /** Train spherical k-means with deterministic init.
    *
    * Lloyd's runs on a deterministic xxhash64-thresholded sample of at
    * most ~`maxTrainVectors` vectors (the full corpus trains only when it
    * is already that small): centroid quality needs a representative
    * sample, not every row, and at 100 TB nobody Lloyd-iterates the whole
    * corpus — the full data is scanned exactly once afterwards, by
    * [[index]]. The sample is hash-selected (no sort, no sampleBy RNG —
    * same rows on any engine/partitioning) and cached once, so each of
    * the `iters` iterations scans |sample|, not |corpus|, rows.
    */
  def fit(corpus: DataFrame, k: Int, iters: Int = 5,
          maxTrainVectors: Int = 65536): Model = {
    val all = corpus.select(col("vec_id"), unit(asDouble(col("embedding"))).as("e"))
    val n = all.count() // loop-control scalar
    val vecs = (if (n <= maxTrainVectors) all
      else {
        // hash-threshold keep-fraction; expected sample size ≈ maxTrainVectors
        val keepPpm = math.max(1L, (maxTrainVectors.toDouble / n * 1e6).toLong)
        all.where(pmod(xxhash64(col("vec_id"), lit(7)), lit(1000000L)) < lit(keepPpm))
      }).cutLineage()
    var cents: Array[Array[Double]] = vecs
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(k)
      .select("e").collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to iters) {
      val assigned = vecs.withColumn("cid", nearest(col("e"), cents))
      val means = assigned
        .select(col("cid"), posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg("x").as("m"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("mv"))
        .select(col("cid"), transform(col("mv"), s => s.getField("m")).as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cents = cents.indices.map { i =>
        means.get(i).map { m =>
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0) cents(i) else m.map(_ / n)
        }.getOrElse(cents(i)) // empty cell keeps its centroid
      }.toArray
    }
    Model(cents)
  }

  /** Index the corpus: one shuffle-free projection adding the cell id. */
  def index(corpus: DataFrame, model: Model): DataFrame =
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("cid", nearest(col("e"), model.centroids))
      .withColumn("nn", norm(col("e")))

  /** Approximate top-k: probe the `nprobe` best cells per query, exact
    * cosine within them. Output matches [[Similarity.bruteForceTopK]].
    */
  def topK(indexed: DataFrame, queries: DataFrame, model: Model,
           k: Int, nprobe: Int = 2): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qe"))
      .withColumn("qn", norm(col("qe")))
      .withColumn("probe",
        slice(reverse(array_sort(scores(col("qe"), model.centroids))), 1, nprobe))
      .select(col("query_id"), col("qe"), col("qn"),
        explode(col("probe").getField("i")).as("cid"))
    val cands = indexed.join(broadcast(q), Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qe"), col("e")) / (col("qn") * col("nn")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Convenience end-to-end search. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nprobe: Int = 4): DataFrame = {
    val model = fit(corpus, nCells)
    topK(index(corpus, model), queries, model, k, nprobe)
  }

  /** The cid-partitioned cells table of index `name`. */
  private[graft] def cells(name: String) =
    IndexTables.Partitioned(s"${name}_cells", "cid", "vec_id")

  /** Persist the index for the build-once / query-many lifecycle
    * ([[graft.functions.PQ.save]]'s sibling for the cell-probing
    * family): the indexed corpus as a catalog table PARTITIONED BY
    * CELL — one hive directory (and one file) per cell, the layout under
    * which a probe of nprobe cells is a partition-pruned read of
    * nprobe/k of the corpus, never a full scan — and the centroids
    * (model state, k×dim doubles) as a tiny table (cid, pos, mu).
    * Overwrite semantics, idempotent across JVMs; a fresh save also
    * clears any prior ingest state.
    */
  def save(model: Model, indexed: DataFrame, name: String): Unit = {
    val spark = indexed.sparkSession
    import spark.implicits._
    IndexTables.dropForSave(spark, cells(name).base, s"${name}_centroids")
    IndexTables.writePartitioned(indexed, cells(name))
    val rows = for {
      (cent, cid) <- model.centroids.zipWithIndex.toIndexedSeq
      (mu, pos) <- cent.zipWithIndex.toIndexedSeq
    } yield (cid, pos, mu)
    IndexTables.writeSmall(spark.createDataset(rows).toDF("cid", "pos", "mu"),
      s"${name}_centroids")
  }

  /** DELETE maintenance for a [[save]]d index — the IVF leg of the
    * takedown half ([[graft.functions.PQ.delete]] is the PQ leg, which
    * rewrites the whole bucketed table): the cid-PARTITIONED cells
    * layout makes deletion genuinely partition-pruned
    * ([[IndexTables.delete]]) — one broadcast semi-join finds the cids
    * the tombstones live in (a tiny driver list, ≤ k), ONLY those hive
    * partitions are read (PartitionFilters — spec-asserted) and
    * rewritten, and any cell whose every vector is tombstoned is dropped
    * by DDL up front, so no crash point leaves a fully-tombstoned cell
    * still being served. The ingest batches the tombstones landed in get
    * the same rewrite. Centroids untouched, no re-assignment, idempotent
    * for absent/replayed deletes.
    */
  def delete(spark: SparkSession, name: String, tombstones: DataFrame): Unit =
    IndexTables.delete(spark, cells(name),
      broadcast(tombstones.select(col("vec_id")).distinct()), None)

  /** Create the exactly-once ingest table `<name>_cells_ingest` for a
    * [[save]]d index if absent ([[IndexTables.ensureIngest]]); serving
    * unions it through [[load]] and [[compact]] folds it into the cells.
    */
  def ensureIngestTable(spark: SparkSession, name: String): Unit =
    IndexTables.ensureIngest(spark, cells(name).base)

  /** Idempotent per-trigger append of `indexed` ([[index]]ed rows
    * through the FROZEN centroids) into the `ingest_batch = batchId`
    * partition ([[IndexTables.ingestBatch]]).
    */
  def ingestBatch(indexed: DataFrame, name: String, batchId: Long): Unit =
    IndexTables.ingestBatch(indexed, cells(name).base, batchId)

  /** COMPACTION — fold the streamed ingest delta into the
    * cid-partitioned cells table ([[IndexTables.fold]]): serving goes
    * back to a purely cid-pruned scan and the per-trigger small files
    * stop accumulating. Ingest rows were encoded through the frozen
    * centroids, so they already carry their home cell; centroids never
    * change — compaction is a storage fold, not a refit.
    */
  def compact(spark: SparkSession, name: String): Unit =
    IndexTables.fold(spark, cells(name))

  /** Reload a [[save]]d index: (model, cells). The cells DataFrame IS
    * the partitioned table scan — unioned with the exactly-once ingest
    * table's partitions when one exists — and serving re-assigns
    * nothing; a fresh session sees the tables through the shared
    * catalog. Heals any interrupted [[compact]] first, so no reader
    * ever serves the fold's duplicate window.
    */
  def load(spark: SparkSession, name: String): (Model, DataFrame) = {
    val served = IndexTables.serve(spark, cells(name))
    val rows = spark.table(s"${name}_centroids").collect()
    require(rows.nonEmpty, s"no centroids found in table ${name}_centroids")
    val k = rows.map(_.getInt(0)).max + 1
    val dim = rows.map(_.getInt(1)).max + 1
    val cents = Array.fill(k, dim)(0.0)
    rows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    (Model(cents), served)
  }
}
