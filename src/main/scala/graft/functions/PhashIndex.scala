package graft.functions

import graft.sources.IndexTables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** PERSISTED perceptual-hash near-duplicate IMAGE index — the
  * [[DedupIndex]] lifecycle (build → persist → probe from a fresh
  * session → exactly-once stream-ingest → compact → partition-pruned
  * delete) applied to the MULTIMODAL family.
  * [[graft.operators.Multimodal.phashPairsBanded]] answers "which
  * image pairs in THIS corpus are near-dups" in one query; an image
  * training-data pipeline additionally needs the standing service:
  * hash the corpus once, then for every incoming crawl batch ask "is
  * this image a near-dup of anything already ingested" WITHOUT
  * re-hashing (or re-decoding!) the corpus — the payload bytes are
  * touched exactly once, at hash time.
  *
  * Layout: `<name>_chunks` `(id, h_lo, h_hi, band, chunk)` as a hive
  * table PARTITIONED by cp = hash(band, chunk) mod [[CP]] — one row
  * per hash per pigeonhole chunk through the IDENTICAL
  * [[graft.operators.Multimodal.hashChunks]] family as the in-query
  * pair enumeration (stored per-index in `<name>_meta` as
  * max_hamming and read back rather than trusted from the caller).
  * A probe batch's candidate lookup reads only the cp partitions its
  * own (band, chunk) keys hash into (PartitionFilters —
  * spec-asserted). Index rows carry the FULL 64-bit hash, so the
  * exact-popcount verify runs entirely on index rows — no second
  * corpus pass of any kind, unlike the text families' candidate
  * re-shingle.
  *
  * Exactness contract (stronger than the LSH families' recall gate):
  * pigeonhole banding is EXACT for Hamming ≤ max_hamming — a
  * qualifying pair has fewer differing bits than chunks, so it agrees
  * exactly on ≥ 1 chunk and is always generated as a candidate; the
  * popcount verify then makes false positives impossible. The probe
  * output is therefore bit-identical to the exact cross-join filter
  * at ANY corpus, no probabilistic argument needed.
  *
  * Scale shape: index rows are (max_hamming + 1) ~28-byte rows per
  * image — ~140 B/image at Hamming 4, independent of image size.
  * Candidate volume is chunk-collision count, never all-pairs; a hot
  * chunk value (flat images sharing all-zero bits) is the skew to
  * watch — AQE skew-join, same note as the in-query banding.
  *
  * Reference scope note: vasia/gelly-streaming has no multimodal
  * machinery; this extends SURVEY §2.3's multimodal columns to the
  * persisted-index deployment the LLM-pipeline brief calls for.
  */
object PhashIndex {

  /** Hive-partition fan-out of the chunks table: cp =
    * hash(band, chunk) mod [[CP]] — 64 directories, the DedupIndex.KP
    * discipline (band participates so the same chunk value in two
    * bands lands in different partitions, spreading the flat-image
    * hot value).
    */
  val CP = 64

  private def withCp(chunked: DataFrame): DataFrame =
    chunked.withColumn("cp",
      pmod(xxhash64(col("band"), col("chunk")), lit(CP.toLong)))

  /** Chunk rows for perceptual `hashes` (id, h_lo, h_hi) under the
    * index's chunking: `(id, h_lo, h_hi, band, chunk, cp)`. Shared by
    * [[save]], the streaming-ingest encode, and [[delete]]'s
    * tombstone-partition recomputation.
    */
  def encode(hashes: DataFrame, maxHamming: Int): DataFrame =
    withCp(graft.operators.Multimodal.hashChunks(hashes, maxHamming))

  /** The cp-partitioned chunks table of index `name`. */
  private[graft] def chunks(name: String) =
    IndexTables.Partitioned(s"${name}_chunks", "cp", "id")

  /** Build and persist the index over `hashes`: the cp-partitioned
    * chunks table (one file per cp directory) plus the one-row
    * `<name>_meta` parameter table. Idempotent across processes; a
    * fresh save also clears any prior ingest state.
    */
  def save(hashes: DataFrame, name: String, maxHamming: Int = 4): Unit = {
    val spark = hashes.sparkSession
    import spark.implicits._
    IndexTables.dropForSave(spark, chunks(name).base, s"${name}_meta")
    IndexTables.writePartitioned(encode(hashes, maxHamming), chunks(name))
    IndexTables.writeSmall(Seq(maxHamming).toDF("max_hamming"), s"${name}_meta")
  }

  /** The persisted chunking parameter: max_hamming. */
  def params(spark: SparkSession, name: String): Int = {
    val rows = spark.table(s"${name}_meta").collect()
    require(rows.length == 1, s"expected one ${name}_meta row, got ${rows.length}")
    rows(0).getInt(0)
  }

  /** The full chunk view a probe serves from: the base table unioned
    * with the exactly-once ingest side table's rows when one exists.
    * Heals any interrupted [[compact]] first.
    */
  def loadChunks(spark: SparkSession, name: String): DataFrame =
    IndexTables.serve(spark, chunks(name))

  /** Near-duplicate lookup of `queryHashes` (id, h_lo, h_hi) against
    * the persisted index: `(query_id, corpus_id, hamming)` for every
    * indexed image within Hamming ≤ the index's max_hamming of a query
    * image. Candidates from the (band, chunk) equi-join over the
    * cp-pruned scan (the batch's cp set is the bounded ≤ [[CP]]
    * driver list of the IVF nprobe class); exact popcount verify on
    * the hashes both sides already carry. Self-matches excluded.
    */
  def probe(spark: SparkSession, name: String,
            queryHashes: DataFrame): DataFrame = {
    val maxHamming = params(spark, name)
    val qc = encode(queryHashes, maxHamming).localCheckpoint(true)
    val cps = qc.select(col("cp")).distinct().collect().map(_.getLong(0))
    // the empty result is typed like a non-empty probe: query_id is the
    // query's id column, so it is NOT NULL exactly when that column is
    if (cps.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Seq(
        StructField("query_id", LongType, qc.schema("id").nullable),
        StructField("corpus_id", LongType),
        StructField("hamming", LongType))))
    val idx = loadChunks(spark, name)
      .where(col("cp").isin(cps.map(java.lang.Long.valueOf): _*))
    qc.select(col("id").as("query_id"), col("h_lo").as("qlo"),
        col("h_hi").as("qhi"), col("band"), col("chunk"))
      .join(idx.select(col("id").as("corpus_id"), col("h_lo").as("clo"),
        col("h_hi").as("chi"), col("band"), col("chunk")),
        Seq("band", "chunk"))
      .where(col("query_id") =!= col("corpus_id"))
      // a pair can match on several chunks — dedup BEFORE the verify
      .select(col("query_id"), col("corpus_id"), col("qlo"), col("qhi"),
        col("clo"), col("chi"))
      .distinct()
      .select(col("query_id"), col("corpus_id"),
        (bit_count(col("qlo").bitwiseXOR(col("clo"))) +
          bit_count(col("qhi").bitwiseXOR(col("chi")))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Create the exactly-once ingest table `<name>_chunks_ingest` if
    * absent ([[IndexTables.ensureIngest]]).
    */
  def ensureIngestTable(spark: SparkSession, name: String): Unit =
    IndexTables.ensureIngest(spark, chunks(name).base)

  /** Idempotent per-trigger append of [[encode]]d chunk `rows` into the
    * `ingest_batch = batchId` partition ([[IndexTables.ingestBatch]]).
    */
  def ingestBatch(rows: DataFrame, name: String, batchId: Long): Unit =
    IndexTables.ingestBatch(rows, chunks(name).base, batchId)

  /** COMPACTION — fold the streamed ingest delta into the
    * cp-partitioned chunks table ([[IndexTables.fold]]): probes go back
    * to a purely cp-pruned scan with no whole-delta side read. The
    * chunking never changes — compaction is a storage fold.
    */
  def compact(spark: SparkSession, name: String): Unit =
    IndexTables.fold(spark, chunks(name))

  /** DELETE maintenance — the takedown half of the lifecycle,
    * genuinely partition-pruned ([[IndexTables.delete]]): the tombstoned
    * images' chunk rows are RECOMPUTED from their hashes through the
    * persisted chunking, so the cp partitions their index rows live in
    * are known exactly (≤ [[CP]] driver values); only those are read and
    * rewritten, fully-emptied partitions DDL-dropped first. The ingest
    * batches the tombstones landed in get the same rewrite.
    *
    * CONTRACT: `tombstoneHashes` carries the hashes AS INDEXED. A
    * takedown with no surviving hash passes `pruned = false`: the
    * affected partitions are then found by a semi-join over the whole
    * chunks table. Idempotent: deleting an absent image finds nothing
    * to remove.
    */
  def delete(spark: SparkSession, name: String, tombstoneHashes: DataFrame,
             pruned: Boolean = true): Unit =
    IndexTables.delete(spark, chunks(name),
      broadcast(tombstoneHashes.select(col("id").cast("long").as("id")).distinct()),
      if (pruned) Some(encode(tombstoneHashes, params(spark, name))) else None)
}
