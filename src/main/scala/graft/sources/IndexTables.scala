package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The TABLE LIFECYCLE of the persisted indexes — build → persist →
  * exactly-once stream-ingest → serve → COMPACT → delete — written once
  * for the four families: [[graft.functions.DedupIndex]] (buckets
  * partitioned by `kp`), [[graft.functions.PhashIndex]] (chunks
  * partitioned by `cp`), [[graft.functions.IVF]] (cells partitioned by
  * `cid`) and [[graft.functions.PQ]] (vec_id-bucketed codes). A family
  * owns its encode (hash family, chunking, centroids, codebooks) and its
  * probe; the tables are written, served, folded and rewritten here.
  *
  * NAMING: every side table is named from its base table —
  * `<base>_ingest` (the ingest table), `<base>_folding` (the fold
  * marker) and `<base>_swap` (PQ's swap table).
  *
  * INGEST — the idempotent-sink contract of Structured Streaming: the
  * ingest table is the base schema plus an `ingest_batch` hive partition
  * column, and each trigger overwrites ITS OWN `ingest_batch = batchId`
  * partition through dynamic partition overwrite. foreachBatch is
  * at-least-once under failure/retry, but a re-delivered trigger rewrites
  * its partition with identical rows, so the stored state is
  * exactly-once without a transaction log. Serving ([[serve]]) unions
  * the ingest rows onto the base scan — the LSM read shape: the base
  * stays partition-pruned, the (small, recent) delta is scanned whole.
  *
  * COMPACTION ([[fold]], partitioned families only) moves each ingest
  * row into the base partition it belongs to, so serving is a purely
  * pruned scan again and the per-trigger files stop accumulating. The
  * vec_id-BUCKETED PQ codes table compacts through its own swap-rename
  * discipline instead ([[graft.functions.PQ.compact]]): a bucketed
  * layout has no partition directories to fold into, so its unit of
  * atomicity is the whole-table rename.
  *
  * The fold is PARTITION-PRUNED on both sides: ingest rows already
  * carry their base partition value (they were encoded through the
  * frozen model / hash family at ingest time), so the affected base
  * partitions are exactly the distinct partition values in the folded
  * batches — a bounded driver list (≤ k cells / ≤ 64 buckets, the IVF
  * nprobe discipline). Unaffected base partitions are never read or
  * written (spec asserts files + mtimes).
  *
  * CRASH SAFETY — the marker-scoped replay discipline: a tiny
  * `<base>_folding` marker table recording the ingest batches being
  * folded is written BEFORE the base overwrite and dropped only after
  * the folded ingest partitions are. Every crash window in between
  * leaves the marker on disk, and [[healFold]] — invoked by the next
  * fold AND by every [[serve]] — replays the fold, which is IDEMPOTENT
  * because survivors are derived from the CURRENT state with ingest-wins
  * precedence: base rows of the affected partitions are anti-joined
  * against the folded batches' ids before the union, so re-folding rows
  * the crashed overwrite already landed changes nothing. A reader that
  * heals first therefore never serves a duplicate, whatever instant the
  * previous writer died at.
  *
  * CONCURRENCY: the fold is scoped to the batch list captured in the
  * marker — a streaming trigger that appends a NEW batch after the
  * capture is untouched by this fold (and folded by the next one).
  * Single compactor at a time, the usual table-maintenance contract.
  *
  * ID-collision contract: an ingested id that already exists in the
  * base REPLACES the base rows within the affected partitions
  * (ingest-wins — what replay-idempotence requires anyway). An update
  * that moves an id's rows ACROSS partitions (re-encoded text landing
  * in different kp buckets) must go through delete → ingest; the fold
  * only sees the partitions the new rows live in.
  *
  * DELETE ([[delete]]) is the same partition-confined anti-join on the
  * base table and on the ingest batches: survivors of the affected
  * partitions are checkpointed, fully-emptied partitions DDL-dropped
  * FIRST (the overwrite writes no rows into them, and dropping first
  * closes the crash window where tombstoned rows kept being served),
  * then dynamic partition overwrite lands the survivors. Unaffected
  * partitions are never read or written; a replayed delete heals the
  * rest of an interrupted one.
  */
object IndexTables {

  /** A base table hive-partitioned by `pcol` whose rows belong to the
    * entity in `idCol` (a document, an image, a vector).
    */
  final case class Partitioned(base: String, pcol: String, idCol: String)

  def ingest(base: String): String = s"${base}_ingest"
  def swap(base: String): String = s"${base}_swap"
  private def marker(base: String): String = s"${base}_folding"

  /** The save prologue: drop `base`, its ingest table and the family's
    * `others` (meta, centroids, codebooks, swap). Idempotent across
    * processes ([[Sources.dropManagedTable]]'s stale-location
    * contract); stale streamed partitions never survive into a rebuilt
    * index.
    */
  def dropForSave(spark: SparkSession, base: String, others: String*): Unit =
    (Seq(base, ingest(base)) ++ others).foreach(Sources.dropManagedTable(spark, _))

  /** A tiny table (meta, centroids, codebooks, fold marker) as one file. */
  def writeSmall(df: DataFrame, table: String): Unit =
    df.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(table)

  /** The partitioned base write. Rows are routed to their partition
    * owner before the write: without the repartition every task writes
    * its own file into every directory it touches (~8 files/dir measured
    * for the dedup buckets at sf0.001; at 100 TB a small-file storm). One
    * hash shuffle on `pcol` → one file per partition directory.
    */
  def writePartitioned(df: DataFrame, t: Partitioned): Unit =
    df.repartition(col(t.pcol))
      .write.mode("overwrite").format("parquet")
      .partitionBy(t.pcol).saveAsTable(t.base)

  /** Create `base`'s ingest table if absent: the base table's schema
    * plus the `ingest_batch` partition column.
    */
  def ensureIngest(spark: SparkSession, base: String): Unit =
    if (!spark.catalog.tableExists(ingest(base))) {
      // a location left behind by a previous PROCESS (the catalog is
      // per-JVM, the warehouse directory is not) blocks the create
      Sources.dropManagedTable(spark, ingest(base))
      spark.createDataFrame(new java.util.ArrayList[Row](),
          spark.table(base).schema.add("ingest_batch", LongType))
        .write.mode("overwrite").format("parquet")
        .partitionBy("ingest_batch")
        .saveAsTable(ingest(base))
    }

  /** Idempotent per-trigger append of encoded `rows` into the
    * `ingest_batch = batchId` partition of `base`'s ingest table — one
    * file per trigger (the encode's task fan-out collapsed), and
    * re-delivery rewrites the same partition with the same rows.
    */
  def ingestBatch(rows: DataFrame, base: String, batchId: Long): Unit = {
    val spark = rows.sparkSession
    val cols = spark.table(ingest(base)).columns
    withDynamicOverwrite(spark)(
      rows.withColumn("ingest_batch", lit(batchId))
        .select(cols.map(col): _*)
        .repartition(1)
        .write.mode("overwrite").insertInto(ingest(base)))
  }

  /** The serving view: the base table scan unioned with the ingest
    * rows when an ingest table exists. Nothing is re-encoded; a fresh
    * session sees the tables through the shared catalog.
    */
  def serve(spark: SparkSession, base: String): DataFrame = {
    val b = spark.table(base)
    if (spark.catalog.tableExists(ingest(base)))
      b.unionByName(spark.table(ingest(base)).drop("ingest_batch"))
    else b
  }

  /** [[serve]] for a partitioned index, after healing any interrupted
    * [[fold]] — no reader ever serves the fold's duplicate window.
    */
  def serve(spark: SparkSession, t: Partitioned): DataFrame = {
    healFold(spark, t)
    serve(spark, t.base)
  }

  /** Fold every current ingest batch into the base partitions
    * (ingest-wins on the id), then drop the folded ingest partitions.
    * No ingest table or no batches → no-op. Heals any interrupted
    * previous fold first.
    */
  def fold(spark: SparkSession, t: Partitioned): Unit = {
    healFold(spark, t)
    if (!spark.catalog.tableExists(ingest(t.base))) return
    val batches = spark.table(ingest(t.base))
      .select(col("ingest_batch")).distinct().collect().map(_.getLong(0))
    if (batches.isEmpty) return
    // the marker write is the commit point: from here every crash
    // window replays through healFold; batches appended after this
    // capture belong to the next fold
    import spark.implicits._
    Sources.dropManagedTable(spark, marker(t.base))
    writeSmall(spark.createDataset(batches.toIndexedSeq).toDF("ingest_batch"),
      marker(t.base))
    doFold(spark, t, batches)
  }

  /** Complete a fold interrupted after its marker landed: replay the
    * (idempotent) fold for the marker's batch list.
    */
  def healFold(spark: SparkSession, t: Partitioned): Unit =
    if (spark.catalog.tableExists(marker(t.base))) {
      val batches = spark.table(marker(t.base)).collect().map(_.getLong(0))
      if (batches.nonEmpty && spark.catalog.tableExists(ingest(t.base)))
        doFold(spark, t, batches)
      else Sources.dropManagedTable(spark, marker(t.base))
    }

  private def doFold(spark: SparkSession, t: Partitioned,
                     batches: Array[Long]): Unit = {
    val base = spark.table(t.base)
    val ing = spark.table(ingest(t.base))
      .where(col("ingest_batch")
        .isin(batches.map(java.lang.Long.valueOf): _*))
      .drop("ingest_batch")
    // the bounded driver list of affected base partitions (a healed
    // replay whose ingest partitions are already dropped sees none —
    // the overwrite already landed; fall through to the cleanup)
    val affParts = values(ing, t.pcol)
    if (affParts.nonEmpty) {
      // ingest-wins within the affected partitions; checkpoint breaks
      // the read-overwrite cycle on the base scan; the pcol repartition
      // keeps the one-file-per-directory write discipline
      val kept = base.where(col(t.pcol).isin(affParts: _*))
        .join(ing.select(col(t.idCol)).distinct(), Seq(t.idCol), "left_anti")
        .unionByName(ing.select(base.columns.map(col): _*))
        .localCheckpoint(true)
        .repartition(col(t.pcol))
      withDynamicOverwrite(spark)(kept.select(base.columns.map(col): _*)
        .write.mode("overwrite").insertInto(t.base))
    }
    batches.foreach(b => spark.sql(
      s"ALTER TABLE ${ingest(t.base)} DROP IF EXISTS PARTITION (ingest_batch = $b)"))
    Sources.dropManagedTable(spark, marker(t.base))
  }

  /** DELETE the rows of the ids in `tombIds` (one `idCol` column) from
    * the base table and from the ingest batches. `scope` carries rows
    * with the base partition column — the tombstones re-encoded through
    * the index's own encode — and bounds the base rewrite to their
    * partitions; None finds the partitions by a semi-join over the base
    * table. The ingest table is always pruned by the batches the
    * tombstones actually landed in (bounded by the trigger count
    * between compactions). Idempotent: absent ids find nothing to
    * remove.
    */
  def delete(spark: SparkSession, t: Partitioned, tombIds: DataFrame,
             scope: Option[DataFrame]): Unit = {
    rewrite(spark, t.base, t.pcol, t.idCol, tombIds, scope)
    if (spark.catalog.tableExists(ingest(t.base)))
      rewrite(spark, ingest(t.base), "ingest_batch", t.idCol, tombIds, None)
  }

  /** The partition-confined anti-join rewrite of `table`. */
  private def rewrite(spark: SparkSession, table: String, pcol: String,
                      idCol: String, tombIds: DataFrame,
                      scope: Option[DataFrame]): Unit = {
    val full = spark.table(table)
    val parts = values(
      scope.getOrElse(full.join(tombIds, Seq(idCol), "left_semi")), pcol)
    if (parts.isEmpty) return
    val kept = full.where(col(pcol).isin(parts: _*))
      .join(tombIds, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    (parts.toSet -- values(kept, pcol)).foreach(v => spark.sql(
      s"ALTER TABLE $table DROP IF EXISTS PARTITION ($pcol = $v)"))
    // insertInto resolves columns BY POSITION against the table schema
    withDynamicOverwrite(spark)(kept.select(full.columns.map(col): _*)
      .repartition(col(pcol))
      .write.mode("overwrite").insertInto(table))
  }

  /** The distinct values of `c` — a bounded driver list of partition
    * values. `get(0)`, not a typed getter: `cid` is an Int, `kp`, `cp`
    * and `ingest_batch` are Longs.
    */
  private def values(df: DataFrame, c: String): Seq[Any] =
    df.select(col(c)).distinct().collect().map(_.get(0)).toSeq

  /** Run `body` with dynamic partition overwrite, restoring the
    * session's previous mode after.
    */
  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
