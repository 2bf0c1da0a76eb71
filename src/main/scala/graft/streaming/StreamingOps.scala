package graft.streaming

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.GraphStream
import graft.operators.{BipartitenessAgg, ConnectedComponentsAgg, GraphAggregation,
  SummaryAggregations}
import graft.summaries.{DisjointSet, ParityDisjointSet}

/** Structured-Streaming forms of the graph operators.
  *
  * The batch operators in [[graft.GraphStream]] are already pure Catalyst
  * rewrites, so most of them run unchanged on a streaming DataFrame:
  * degrees/counts in update mode, slice()/neighborhood folds in append
  * mode under a watermark (the reference assumes ascending event time —
  * watermark "0 seconds" reproduces that contract,
  * GS/SimpleEdgeStream.java:~75).
  *
  * What needs explicit state is the reference's `transientState=false`
  * mode (GS/GraphAggregation.java:~30: carry the summary across windows
  * forever). The running form here is a [[GraphAggregation]] with
  * `transientState = false`, run by one driver, [[runningSummary]]:
  * `flatMapGroupsWithState` fed by a PER-PARTITION partial fold. Each
  * input partition of the micro-batch folds its edges into ONE encoded
  * summary inside `mapPartitions` (distributed — this is where the
  * batch's ingest parallelism lives), and only those ≤P partials shuffle
  * to the single stateful group, which merges them into the running
  * summary. That is the reference's own E2 topology — keyed partial
  * fold, then a parallelism-1 merger that sees PARTIALS, never raw edges
  * (GS/WindowGraphAggregation.java:~45–110). Per-trigger serial work at
  * the merger is O(state + Σ|partial|), not O(batch rows).
  */
object StreamingOps {

  /** A cloned session with `spark.sql.shuffle.partitions` pinned to `n`:
    * shares the SparkContext, copies the parent's modifiable runtime conf
    * (timezone, nanos-as-long, AQE, …), then applies the pin. The replay
    * harnesses size their state-store partitioning through this instead
    * of mutate-and-restore on the shared session, which a concurrent
    * query starting on the same session would briefly observe (ADVICE
    * r4). Streams built from this clone's MemoryStream pick up the
    * pinned value at `.start()`; the parent's conf is never touched.
    * A clone costs no recompile: [[graft.GraftSession.configure]]
    * turns off the per-session executor class loader, so the clone's
    * tasks reuse the classes the parent's tasks generated.
    */
  private def pinnedShuffleSession(parent: SparkSession, n: Int): SparkSession = {
    val s = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      if (s.conf.isModifiable(k)) s.conf.set(k, v)
    }
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    s
  }

  /** A fresh `graft-replay-*` directory for one replay run, holding
    * its checkpoint and any scratch output. Only [[Replay]] calls this,
    * and [[runReplay]] deletes the directory when it returns, so it
    * never outlives the harness call.
    * Prefers tmpfs (/dev/shm): the state store fsyncs delta +
    * snapshot + offset/commit-log files per partition per trigger, and
    * on shared-storage machines a few-ms fsync turns a 3 s gate into a
    * 60 s one (measured: the same replay trio swung 46→74 s with disk
    * fsync at 0.6→5.2 ms; tmpfs makes the gate IO-weather-proof).
    * Production queries pass their own durable checkpointLocation —
    * this helper is harness-only by construction.
    */
  private def replayCkpt(): String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      Files.createTempDirectory(shm.toPath, "graft-replay-").toString
    else Files.createTempDirectory("graft-replay-").toString
  }

  /** One replay run as its harness sees it: the session the query runs
    * on, fresh MemoryStreams on it, the memory-sink view and a scratch
    * directory for the harness's own files. [[runReplay]] drops the
    * view and deletes the run's directory when it returns.
    */
  private final class Replay(val session: SparkSession) {
    private val root = replayCkpt()
    val checkpoint: String = s"$root/checkpoint"
    val scratch: String = s"$root/scratch"
    val view: String = "graft_replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    def stream[T: Encoder]: MemoryStream[T] = MemoryStream[T](session)
    /** `df` into the run's memory sink, in output `mode`. */
    def memory(df: DataFrame, mode: String): DataStreamWriter[Row] =
      df.writeStream.outputMode(mode).format("memory").queryName(view)
    def table: DataFrame = session.table(view)
    def close(): Unit = {
      session.catalog.dropTempView(view)
      FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  /** THE replay driver behind every `replay*` harness. A harness feeds
    * a batch table through a MemoryStream in `nBatches` triggers of the
    * operator under test; its final state must equal the one-shot batch
    * answer. The contract:
    *  - feed order is the harness's job: `rows` arrive collected and
    *    sorted in replay order;
    *  - the driver adds `rows` in chunks of `chunk = ceil(n / nBatches)`,
    *    so a replay runs `ceil(n / chunk)` triggers (none for empty
    *    `rows`), and drains each with `processAllAvailable` before the
    *    next chunk goes in;
    *  - `query` builds the query from the stream and returns its writer
    *    with output mode and sink set (a memory sink via
    *    [[Replay.memory]], or `foreachBatch`); `result` reads the answer
    *    before the query stops;
    *  - the checkpoint lives in a `graft-replay-*` directory that is
    *    deleted on return, with the scratch files and the sink view;
    *  - the shuffle-partition pin belongs to each harness: `pin` clones
    *    the session at that many partitions ([[pinnedShuffleSession]]),
    *    None runs on the caller's session.
    * The driver-side collect and feed are the harness, not the
    * operator: MemoryStream is a driver-fed test source, and
    * production streams never pass through the driver.
    */
  private def replay[T: Encoder, R](parent: SparkSession, pin: Option[Int],
                                    rows: scala.collection.Seq[T], nBatches: Int)(
      query: (Replay, DataFrame) => DataStreamWriter[Row])(result: Replay => R): R =
    runReplay(parent, pin) { r =>
      val ms = r.stream[T]
      val chunk = math.max(1, (rows.length + nBatches - 1) / nBatches)
      (query(r, ms.toDF()), rows.grouped(chunk).map(g => () => { ms.addData(g); () }))
    }(result)

  /** [[replay]]'s lifecycle with the feed left to the caller: `start`
    * builds the query and the per-trigger feeds; each feed runs, then
    * the query drains it. `result` is read before the query stops; the
    * checkpoint, the scratch files and the memory-sink view are gone on
    * return.
    */
  private def runReplay[R](parent: SparkSession, pin: Option[Int])(
      start: Replay => (DataStreamWriter[Row], Iterator[() => Unit]))(result: Replay => R): R = {
    val r = new Replay(pin.fold(parent)(pinnedShuffleSession(parent, _)))
    try {
      val (writer, feeds) = start(r)
      val q = writer.option("checkpointLocation", r.checkpoint).start()
      try {
        feeds.foreach { feed => feed(); q.processAllAvailable() }
        result(r)
      } finally q.stop()
    } finally r.close()
  }

  /** (src, dst, ts in µs) rows in ascending event time: the replay
    * order of the edge-stream harnesses. Sorted driver-side — a shuffle
    * sort just to feed the driver is wasted cluster work.
    */
  private def edgesByTs(edges: DataFrame): Array[(Long, Long, Long)] = {
    import edges.sparkSession.implicits._
    val rows = edges
      .select(col("src").cast("long"), col("dst").cast("long"),
        unix_micros(col("ts").cast("timestamp")))
      .as[(Long, Long, Long)].collect()
    rows.sortInPlaceBy(_._3)
    rows
  }

  /** The last row per key of an update-mode changelog: the one with the
    * largest `counter`, a running count that strictly increases per key.
    */
  private def lastUpdate(changelog: DataFrame, counter: String, keys: String*): DataFrame =
    changelog
      .withColumn("rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(counter).desc)))
      .where(col("rn") === 1).drop("rn")

  /** An exactly-once parquet sink for (a, b) id pairs in `r.scratch`
    * ([[graft.sources.Sources.idempotentBatchWriter]]). An empty batch
    * -1 anchors the schema, so zero pairs still read.
    */
  private def pairSink(r: Replay, a: String, b: String): (DataFrame, Long) => Unit = {
    val sink = graft.sources.Sources.idempotentBatchWriter(r.scratch)
    sink(r.session.createDataFrame(r.session.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField(a, LongType), StructField(b, LongType)))), -1L)
    sink
  }

  /** THE running-summary driver, for any summary aggregation `agg`.
    * Each input partition of the micro-batch folds its edges with
    * `initial`/`updateFun` into one partial (a partition with no rows
    * sends none); only those ≤P partials shuffle to the constant-keyed
    * stateful group, which merges them into the running summary with
    * `combineFun` and emits `emit(transform(summary))`. Partials and
    * state both travel in `agg.bufferEncoder` — the summary's
    * [[graft.summaries.SummaryCodecs]] format, not Java serialization —
    * so the state store's wire format is the aggregation's own, and a
    * checkpoint restores as long as that codec does not change.
    */
  private def runningSummary[B <: AnyRef, OUT, O: Encoder](edges: DataFrame,
      agg: GraphAggregation[B, OUT])(emit: OUT => Iterator[O]): Dataset[O] = {
    val spark = edges.sparkSession
    import spark.implicits._
    implicit val bufEnc: Encoder[B] = agg.bufferEncoder
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else Iterator.single(it.foldLeft(agg.initial) { case (b, (s, d)) => agg.updateFun(b, s, d) })
      }
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, partials: Iterator[B], state: GroupState[B]) =>
          val summary = partials.foldLeft(state.getOption.getOrElse(agg.initial))(agg.combineFun)
          state.update(summary)
          emit(agg.transform(summary))
      }
  }

  /** Continuously-refined connected components over a (possibly
    * streaming) edge DataFrame: the [[runningSummary]] of
    * [[ConnectedComponentsAgg]]. Emits the full (vertex, component)
    * assignment each trigger (update mode downstream). The merge replays
    * each partial's (vertex → root) pairs, which is exactly
    * [[DisjointSet.mergeFrom]] — associative and commutative, so partial
    * order never matters.
    */
  def runningConnectedComponents(edges: DataFrame): Dataset[(Long, Long)] = {
    import edges.sparkSession.implicits._
    runningSummary(edges, new ConnectedComponentsAgg)(_.iterator)
  }

  /** Continuously-refined bipartiteness over a (possibly streaming) edge
    * stream — the reference's BipartitenessCheck with its absorbing
    * not-bipartite state (GS/library/BipartitenessCheck.java:~40): the
    * [[runningSummary]] of [[BipartitenessAgg]]. Emits the current
    * verdict each trigger.
    */
  def runningBipartiteness(edges: DataFrame): Dataset[Boolean] = {
    import edges.sparkSession.implicits._
    runningSummary(edges, new BipartitenessAgg)(Iterator.single(_))
  }

  /** Each vertex's last-seen event time in micros, as the TTL'd folds
    * and merges keep it: the max over every stamp replayed for it. Both
    * TTL families keep their own summary beside it.
    */
  private final class LastSeen {
    private val at = scala.collection.mutable.LongMap.empty[Long]
    def isEmpty: Boolean = at.isEmpty
    def apply(id: Long): Long = at(id)
    def see(id: Long, micros: Long): Unit =
      if (at.getOrElse(id, Long.MinValue) < micros) at(id) = micros
    /** The ids last seen at or after `horizonMicros`, ascending. */
    def liveFrom(horizonMicros: Long): Array[Long] = {
      val live = scala.collection.mutable.ArrayBuffer.empty[Long]
      at.foreach { case (v, t) => if (t >= horizonMicros) live += v }
      val ids = live.toArray
      java.util.Arrays.sort(ids)
      ids
    }
  }

  /** One input partition's TTL'd fold: `add` sees every (src, dst) edge
    * and a [[LastSeen]] every endpoint's stamp. None for a partition with
    * no rows; else the stamps and the partition's max event time.
    */
  private def foldTimed(it: Iterator[(Long, Long, java.sql.Timestamp)])(
      add: (Long, Long) => Unit): Option[(LastSeen, java.sql.Timestamp)] = {
    val last = new LastSeen
    var maxMs = Long.MinValue
    it.foreach { case (s, d, t) =>
      val tu = t.getTime * 1000L
      add(s, d)
      last.see(s, tu); last.see(d, tu)
      if (t.getTime > maxMs) maxMs = t.getTime
    }
    if (last.isEmpty) None else Some((last, new java.sql.Timestamp(maxMs)))
  }

  /** (src, dst, ts) rows of an edge DataFrame, typed for [[foldTimed]]. */
  private def timedEdges(edges: DataFrame): Dataset[(Long, Long, java.sql.Timestamp)] = {
    import edges.sparkSession.implicits._
    edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col("ts").cast("timestamp").as("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
  }

  /** TTL'd union-find state: sorted vertex ids, each id's component
    * label (min LIVE member of its component) and last-seen event time
    * in micros — product-encoded primitive arrays (24 B/vertex), the
    * [[graft.summaries.SummaryCodecs]] wire-format discipline.
    */
  final case class TtlCcRows(ids: Array[Long], root: Array[Long], seen: Array[Long])

  /** One input partition's pre-folded contribution to the TTL'd running
    * CC: its union-find as (id, representative) pairs, per-vertex max
    * event time in micros, and the partition's max event TIMESTAMP —
    * the attribute the watermark is (re-)declared on after the fold
    * (the partition max is the only event-time fact the watermark
    * calculus needs: max over partials ≡ max over raw rows).
    */
  final case class TtlCcPartial(ids: Array[Long], root: Array[Long],
                                seen: Array[Long], maxTs: java.sql.Timestamp)

  /** [[runningConnectedComponents]] with WATERMARK-TTL state eviction —
    * the bounded-state variant the unbounded reference semantics
    * (GS/SimpleEdgeStream.java keyed first-seen state, which also never
    * expires) cannot give a production stream. State holds only vertices
    * seen within the watermark horizon (`ttl` is the watermark delay on
    * `ts`), so state size is bounded by the horizon's distinct-vertex
    * count instead of growing with the whole stream's. TTL state is
    * event-time-stamped, so it is not a [[GraphAggregation]] buffer; it
    * keeps [[runningSummary]]'s topology by hand.
    *
    * DIVERGENCE CONTRACT vs the unbounded sibling — what expiry loses:
    *  - An expired vertex stops being reported and, if it re-arrives,
    *    restarts as a singleton: its old merges are forgotten FOR IT.
    *  - Merges remain for surviving vertices even when witnessed through
    *    now-expired vertices (the union-find keeps transitive evidence
    *    as labels, not paths) — components never split on expiry.
    *  - Labels are the component's min LIVE vertex, so a component's
    *    label can move upward when its smallest member expires (the
    *    unbounded sibling's labels only move downward).
    * Eviction uses the watermark as of the PREVIOUS trigger (Spark
    * advances watermarks between micro-batches), so a vertex survives
    * one extra trigger past its horizon — never the reverse.
    *
    * Per-trigger SERIAL cost at the merger is O(state + Σ|partial|) —
    * partials are ≤ the batch's distinct touched vertices per partition,
    * never its raw rows; the raw-edge scan runs distributed in the
    * per-partition fold. At 100 TB / unbounded retention the unbounded
    * sibling's state melts and this one plateaus.
    */
  def runningConnectedComponentsTtl(edges: DataFrame, ttl: String): Dataset[(Long, Long)] = {
    val spark = edges.sparkSession
    import spark.implicits._
    implicit val encState: Encoder[TtlCcRows] = Encoders.product[TtlCcRows]
    implicit val encPartial: Encoder[TtlCcPartial] = Encoders.product[TtlCcPartial]
    timedEdges(edges)
      // distributed per-partition fold: one encoded partial per input
      // partition; only partials reach the single stateful group
      .mapPartitions { it =>
        val partial = new DisjointSet
        foldTimed(it)(partial.union).iterator.map { case (last, maxTs) =>
          val ids = last.liveFrom(Long.MinValue)
          TtlCcPartial(ids, ids.map(partial.find), ids.map(last(_)), maxTs)
        }
      }
      // the watermark is declared on the PARTIAL's max event time: the
      // watermark calculus only ever reads the batch max, and max over
      // partition maxima ≡ max over raw rows — identical watermark
      // values to tagging the raw ts. A watermark-tagged attribute must
      // reach the stateful operator itself (without one,
      // getCurrentWatermarkMs throws "watermark not set").
      //
      // LATE-DATA CONTRACT (spec-pinned by the out-of-order replays):
      // flatMapGroupsWithState under NoTimeout applies NO late-input
      // filter — Structured Streaming only late-filters stateful
      // operators that own event-time semantics (aggregations, dedup,
      // event-time-timeout state), so EVERY partial reaches the state
      // regardless of its maxTs vs the watermark. Late edges are
      // therefore always ABSORBED: an arbitrarily-late edge can union
      // two live vertices (or, in the parity sibling, close an odd
      // cycle — the absorbing flag observes it) within its arrival
      // trigger, while its endpoints' `seen` stamps stay old and
      // expire on schedule against the PREVIOUS trigger's watermark.
      // One-sided by construction: late data is admitted, fresh data
      // is never dropped. The watermark declared here exists to drive
      // the TTL eviction horizon, not to gate input. The replay oracle
      // feeds ascending-ts batches, where lateness cannot occur — this
      // contract governs out-of-order production streams.
      .withWatermark("maxTs", ttl)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, partials: Iterator[TtlCcPartial],
         state: GroupState[TtlCcRows]) =>
          // rebuild the union-find from surviving (id, label) pairs —
          // labels carry the transitive evidence, paths are not needed
          val ds = new DisjointSet
          val last = new LastSeen
          def replay(ids: Array[Long], root: Array[Long], seen: Array[Long]): Unit = {
            var i = 0
            while (i < ids.length) {
              ds.union(ids(i), root(i)); last.see(ids(i), seen(i)); i += 1
            }
          }
          state.getOption.foreach(r => replay(r.ids, r.root, r.seen))
          partials.foreach(p => replay(p.ids, p.root, p.seen))
          val ids = last.liveFrom(state.getCurrentWatermarkMs() * 1000L)
          // relabel to min LIVE member per component
          val minLive = scala.collection.mutable.LongMap.empty[Long]
          var i = 0
          while (i < ids.length) {
            val r = ds.find(ids(i))
            if (minLive.getOrElse(r, Long.MaxValue) > ids(i)) minLive(r) = ids(i)
            i += 1
          }
          val roots = ids.map(v => minLive(ds.find(v)))
          state.update(TtlCcRows(ids, roots, ids.map(last(_))))
          ids.iterator.zip(roots.iterator)
      }
  }

  /** The (src, dst, ts µs) replay stream of [[edgesByTs]] rows as an
    * edge stream with a timestamp `ts`.
    */
  private def microsToTs(in: DataFrame): DataFrame =
    in.toDF("src", "dst", "tsu")
      .select(col("src"), col("dst"), timestamp_micros(col("tsu")).as("ts"))

  /** Replay harness for the TTL'd running CC ([[replay]] in
    * ascending-ts order, one state partition like
    * [[replayConnectedComponents]]). Returns the LAST trigger's full
    * surviving (id, component) assignment — the state snapshot the
    * divergence contract talks about.
    */
  def replayConnectedComponentsTtl(edges: DataFrame, ttl: String,
                                   nBatches: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val last = new java.util.concurrent.atomic.AtomicReference[Array[(Long, Long)]](Array.empty)
    replay(spark, Some(1), edgesByTs(edges), nBatches) { (_, in) =>
      runningConnectedComponentsTtl(microsToTs(in), ttl)
        .toDF("id", "component")
        .writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          val snap = df.collect().map(r => (r.getLong(0), r.getLong(1)))
          if (snap.nonEmpty) last.set(snap)
        }
    } { _ => spark.createDataset(last.get.toIndexedSeq).toDF("id", "component") }
  }

  /** TTL'd parity union-find state: per live vertex its component
    * label, its 2-coloring parity RELATIVE TO that label's vertex, and
    * last-seen micros; plus the absorbing odd-cycle flag.
    */
  final case class TtlParityRows(ids: Array[Long], root: Array[Long],
                                 par: Array[Long], seen: Array[Long],
                                 conflict: Boolean)

  /** One input partition's pre-folded contribution to the TTL'd running
    * bipartiteness ([[TtlCcPartial]]'s shape plus the relative parity
    * per vertex and the partition-local odd-cycle flag).
    */
  final case class TtlParityPartial(ids: Array[Long], root: Array[Long],
                                    par: Array[Long], seen: Array[Long],
                                    conflict: Boolean, maxTs: java.sql.Timestamp)

  /** [[runningBipartiteness]] with WATERMARK-TTL state eviction — the
    * [[runningConnectedComponentsTtl]] pattern on the SECOND summary
    * family, showing the TTL design generalizes beyond plain union-find.
    * Emits the current verdict each trigger.
    *
    * DIVERGENCE CONTRACT: the odd-cycle flag is ABSORBING and is never
    * evicted — once an odd cycle has been OBSERVED, the stream stays
    * non-bipartite forever (the reference's semantics, which expiry
    * must not quietly undo). What expiry loses is parity EVIDENCE:
    * relative colorings witnessed only through expired vertices are
    * forgotten, so an odd cycle whose edges arrive entirely AFTER its
    * connecting vertices expired may be detected later than the
    * unbounded sibling would have — never earlier, never spuriously
    * (a conflict requires two contradictory parities actually held in
    * state). Labels/parities relabel to the min LIVE member per
    * component, like the CC sibling.
    */
  def runningBipartitenessTtl(edges: DataFrame, ttl: String): Dataset[Boolean] = {
    val spark = edges.sparkSession
    import spark.implicits._
    implicit val encState: Encoder[TtlParityRows] = Encoders.product[TtlParityRows]
    implicit val encPartial: Encoder[TtlParityPartial] = Encoders.product[TtlParityPartial]
    timedEdges(edges)
      // distributed per-partition fold (see runningConnectedComponentsTtl
      // for the watermark-on-partial-max discipline)
      .mapPartitions { it =>
        val partial = new ParityDisjointSet
        foldTimed(it)(partial.addEdge).iterator.map { case (last, maxTs) =>
          val ids = last.liveFrom(Long.MinValue)
          val found = ids.map(partial.find)
          TtlParityPartial(ids, found.map(_._1), found.map(_._2.toLong), ids.map(last(_)),
            partial.conflict, maxTs)
        }
      }
      .withWatermark("maxTs", ttl)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, partials: Iterator[TtlParityPartial],
         state: GroupState[TtlParityRows]) =>
          val ds = new ParityDisjointSet
          val last = new LastSeen
          var conflict = false
          // a label row (id == root) carries parity 0: only makeSet
          def replay(ids: Array[Long], root: Array[Long], par: Array[Long],
                     seen: Array[Long], odd: Boolean): Unit = {
            conflict ||= odd
            var i = 0
            while (i < ids.length) {
              if (ids(i) != root(i)) ds.unionWithParity(ids(i), root(i), par(i).toInt)
              else ds.makeSet(ids(i))
              last.see(ids(i), seen(i)); i += 1
            }
          }
          state.getOption.foreach(r => replay(r.ids, r.root, r.par, r.seen, r.conflict))
          partials.foreach(p => replay(p.ids, p.root, p.par, p.seen, p.conflict))
          conflict ||= !ds.isBipartite
          val ids = last.liveFrom(state.getCurrentWatermarkMs() * 1000L)
          // min LIVE member per component, and every live vertex's
          // parity re-expressed relative to that member
          val minLive = scala.collection.mutable.LongMap.empty[Long]
          var i = 0
          while (i < ids.length) {
            val (r, _) = ds.find(ids(i))
            if (minLive.getOrElse(r, Long.MaxValue) > ids(i)) minLive(r) = ids(i)
            i += 1
          }
          val roots = new Array[Long](ids.length)
          val pars = new Array[Long](ids.length)
          i = 0
          while (i < ids.length) {
            val (r, p) = ds.find(ids(i))
            val rep = minLive(r)
            val (_, repP) = ds.find(rep)
            roots(i) = rep; pars(i) = (p ^ repP).toLong
            i += 1
          }
          state.update(TtlParityRows(ids, roots, pars, ids.map(last(_)), conflict))
          Iterator.single(!conflict)
      }
  }

  /** Replay harness for the TTL'd bipartiteness (the
    * [[replayConnectedComponentsTtl]] replay): last trigger's verdict.
    */
  def replayBipartitenessTtl(edges: DataFrame, ttl: String,
                             nBatches: Int = 4): Boolean = {
    val spark = edges.sparkSession
    import spark.implicits._
    val last = new java.util.concurrent.atomic.AtomicBoolean(true)
    replay(spark, Some(1), edgesByTs(edges), nBatches) { (_, in) =>
      runningBipartitenessTtl(microsToTs(in), ttl)
        .toDF("ok")
        .writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          val snap = df.collect()
          if (snap.nonEmpty) last.set(snap.last.getBoolean(0))
        }
    } { _ => last.get() }
  }

  /** Correctness-gate harness for the running summary (the reference's
    * signature `transientState=false` behavior): [[replay]] a BATCH
    * edge table in ascending-ts order through [[runningConnectedComponents]]
    * and return the converged (id, component) assignment — which must
    * equal the one-shot batch answer (same oracle as q13a).
    */
  def replayConnectedComponents(edges: DataFrame, nBatches: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the merger is keyed by a constant (the reference's parallelism-1
    // merge), so >1 state partition only adds empty state-store commits
    // per trigger
    replay(spark, Some(1), edgesByTs(edges).map(e => (e._1, e._2)), nBatches) { (r, in) =>
      r.memory(runningConnectedComponents(in.toDF("src", "dst"))
        .toDF("id", "component"), "update")
    } { r =>
      // labels only merge downward, so min(component) per id over the
      // update-mode emissions is the converged assignment; it is tiny
      // (one row per vertex) — materialize via the driver rather than
      // spinning up checkpoint machinery on the ephemeral memory table
      val converged = r.table
        .groupBy("id").agg(min("component").as("component"))
        .as[(Long, Long)].collect()
      spark.createDataset(converged.toIndexedSeq).toDF("id", "component")
    }
  }

  /** One step of incremental exact triangle counting: given the
    * accumulated canonical (src<dst) edge set `acc` and a new batch,
    * return the deduped new edges and the number of triangles CLOSED by
    * this batch. Each triangle is counted exactly once, split by how many
    * of its edges are new:
    *
    *  - 1 new edge (u,v): old common neighbors — |N_acc(u) ∩ N_acc(v)|,
    *    the same intersect-on-arrival the reference does per edge
    *    (GS/example/ExactTriangleCount.java:~50–200)
    *  - 2 new edges: a wedge (x;y,z) inside the batch whose closing edge
    *    (y,z) is OLD — such a triangle has exactly one batch wedge
    *  - 3 new edges: the same wedge join with a NEW closing edge counts
    *    each all-new triangle exactly 3 times (once per wedge), so that
    *    tally divides by 3
    *
    * Both wedge terms come from ONE join of the batch's wedges against
    * the old/new-tagged edge set. Nothing ever self-joins the
    * accumulated set — a trigger costs O(|B| × degree), not O(|A|²).
    *
    * This is the STATE-STORE-FREE alternative (e.g. batch-incremental
    * pipelines over arriving files, where `acc` lives in a table): it
    * re-derives adjacency from `acc` each step, an O(|acc|) scan. The
    * shipped streaming operator is [[streamingTriangleEmissions]], which
    * holds adjacency in keyed state so a trigger touches only the
    * batch's vertices.
    */
  private[graft] def incrementalTriangleStep(acc: DataFrame, batch: DataFrame): (DataFrame, DataFrame) = {
    val b = batch.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") < col("dst")).distinct()
      .join(acc, Seq("src", "dst"), "left_anti")
      .localCheckpoint(true)
    // undirected adjacency of the accumulated graph, built per trigger —
    // a long-running deployment would hold this in keyed state; the join
    // shape (batch × adjacency) is the same either way
    val adjA = acc.select(col("src").as("x"), col("dst").as("n"))
      .unionAll(acc.select(col("dst").as("x"), col("src").as("n")))
      .groupBy("x").agg(collect_list(col("n")).as("nbrs"))
    // per-vertex deltas in thirds (w3): a 1-new-edge or old-closing-wedge
    // triangle appears once → each corner gets 3; an all-new triangle
    // appears as 3 wedge rows → each corner gets 1 three times. Every
    // triangle deposits exactly 9 units, 3 per corner.
    val t1 = b
      .join(adjA.toDF("src", "an"), Seq("src"))
      .join(adjA.toDF("dst", "bn"), Seq("dst"))
      .select(col("src").as("x"), col("dst").as("y"),
        explode(array_intersect(col("an"), col("bn"))).as("z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"), lit(3L).as("w3"))
    val bu = b.select(col("src").as("x"), col("dst").as("n"))
      .unionAll(b.select(col("dst").as("x"), col("src").as("n")))
    val closing = acc.toDF("y", "z").select(col("y"), col("z"), lit(3L).as("w"))
      .unionAll(b.toDF("y", "z").select(col("y"), col("z"), lit(1L).as("w")))
    val wedges = bu.toDF("x", "y").join(bu.toDF("x", "z"), Seq("x"))
      .where(col("y") < col("z"))
      .join(closing, Seq("y", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"), col("w").as("w3"))
    (b, t1.unionAll(wedges).groupBy("v").agg(sum(col("w3")).as("w3")))
  }

  /** THE production streaming-triangle operator: per-vertex adjacency
    * held in `flatMapGroupsWithState` KEYED STATE — the reference's own
    * shape (GS/example/ExactTriangleCount.java:~50 keeps a keyed
    * neighborhood per vertex). Each new edge (u,v) routes to both
    * endpoints' groups; a group adds its batch-new neighbors to state
    * and emits, per new edge, its end-of-trigger neighbor list with the
    * batch-new ones tagged. Per-trigger cost is therefore
    * O(touched state + |B| × degree) — INDEPENDENT of the accumulated
    * graph size, unlike a per-trigger adjacency rebuild, and the state
    * store checkpoints/restores it for free.
    *
    * Output rows `(a, b, side, old_n, new_n)`: canonical edge a<b, one
    * row per endpoint (side 0 = a's neighborhood, 1 = b's), `old_n` the
    * pre-batch neighbors, `new_n` the batch-new ones minus the partner.
    * Feed to [[triangleDeltas]] (e.g. in `foreachBatch`) for exact
    * per-vertex count deltas.
    */
  def streamingTriangleEmissions(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
      .select(explode(array(
        struct(col("src").as("x"), col("dst").as("n")),
        struct(col("dst").as("x"), col("src").as("n")))).as("e"))
      .select(col("e.x"), col("e.n"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (x: Long, it: Iterator[(Long, Long)], state: GroupState[Array[Long]]) =>
          val old = state.getOption.getOrElse(Array.emptyLongArray)
          val oldSet = old.toSet
          // set semantics: duplicates within the batch and edges already
          // in state are dropped — symmetric on both endpoints, so the
          // two sides always agree on what is "new"
          val fresh = it.map(_._2).filter(n => !oldSet.contains(n)).toSet.toArray.sorted
          if (fresh.isEmpty) Iterator.empty
          else {
            state.update((old ++ fresh).sorted)
            fresh.iterator.map { v =>
              val a = math.min(x, v); val b = math.max(x, v)
              (a, b, if (x == a) 0 else 1, old, fresh.filter(_ != v))
            }
          }
      }.toDF("a", "b", "side", "old_n", "new_n")
  }

  /** Exact per-vertex triangle-count deltas from one trigger's
    * [[streamingTriangleEmissions]] batch (plain batch ops — run it in
    * `foreachBatch` or over a collected micro-batch). Each new edge's
    * two emissions join 1:1 on the canonical key; a triangle closed by
    * this batch is discovered once per NEW edge it contains, so each
    * discovery deposits `6 / nNew` units per corner (∈ {6,3,2}, exact
    * integers) and every triangle ends up with exactly 6 units per
    * corner: `triangles(v) = w6(v) / 6`. The same 1/2/3-new-edge
    * decomposition as [[incrementalTriangleStep]], but resolved from the
    * old/new tags instead of a wedge join.
    */
  private[graft] def triangleDeltas(em: DataFrame): DataFrame = {
    val s0 = em.where(col("side") === 0)
      .select(col("a"), col("b"), col("old_n").as("o0"), col("new_n").as("n0"))
    val s1 = em.where(col("side") === 1)
      .select(col("a"), col("b"), col("old_n").as("o1"), col("new_n").as("n1"))
    s0.join(s1, Seq("a", "b"))
      .select(col("a"), col("b"), col("n0"), col("n1"),
        explode(array_intersect(concat(col("o0"), col("n0")),
          concat(col("o1"), col("n1")))).as("w"))
      .select(explode(array(col("a"), col("b"), col("w"))).as("v"),
        (lit(6L) / (lit(1) + array_contains(col("n0"), col("w")).cast("int")
          + array_contains(col("n1"), col("w")).cast("int"))).cast("long").as("w6"))
      .groupBy("v").agg(sum(col("w6")).as("w6"))
  }

  /** Correctness-gate harness for incremental triangle counting — the
    * reference's flagship streaming example (ExactTriangleCount emits
    * global AND per-vertex counts): [[replay]] a BATCH canonical edge
    * set through the keyed-state pipeline
    * ([[streamingTriangleEmissions]] → [[triangleDeltas]] in
    * `foreachBatch`). After the last trigger the merged deltas must
    * equal the one-shot batch per-vertex answer (q15-shaped oracle); the
    * global count is their sum / 3. Exact at every prefix, not just at
    * convergence.
    *
    * The driver-side delta merge is the SINK role (production upserts
    * deltas into a keyed store); deltas are ∝ triangles closed per
    * trigger, not graph size.
    */
  def replayTriangleCounts(edges: DataFrame, nBatches: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    rows.sortInPlaceBy(identity)
    val counts = new scala.collection.mutable.HashMap[Long, Long]()
    // vertex-keyed state: a handful of state partitions keeps per-trigger
    // state-store commit overhead proportional to real work at replay
    // scale (a cluster deployment raises it with the data)
    replay(spark, Some(8), rows, nBatches) { (_, in) =>
      streamingTriangleEmissions(in.toDF("src", "dst"))
        .writeStream.outputMode("append")
        .foreachBatch { (em: DataFrame, _: Long) =>
          // persist: triangleDeltas branches the batch twice (side 0 ⋈
          // side 1) — unpersisted, each branch would re-execute the
          // whole micro-batch including the stateful operator
          em.persist()
          try triangleDeltas(em).collect().foreach { r =>
            val v = r.getLong(0)
            counts(v) = counts.getOrElse(v, 0L) + r.getLong(1)
          } finally em.unpersist()
        }
    } { _ =>
      val fin = counts.iterator.filter(_._2 > 0)
        .map { case (v, w6) => (v, w6 / 6) }.toSeq
      spark.createDataset(fin).toDF("id", "triangles")
    }
  }

  /** Streaming exact dedup: first-seen-wins on the 128-bit normalized
    * content key via `dropDuplicates` keyed state — the streaming-ingest
    * form of [[graft.functions.Dedup.exactSurvivors]]. State is keyed by
    * (lang, h1, h2), 24 B per unique document regardless of text size —
    * the same shuffle-hashes-not-text design as the batch path. A
    * production deployment bounds state with
    * `withWatermark + dropDuplicatesWithinWatermark` (dedup horizon);
    * unbounded here to match the batch contract exactly.
    */
  def streamingExactDedup(docs: DataFrame): DataFrame = {
    val Seq(h1, h2) = graft.functions.Dedup.contentKey(col("text"))
    docs.select(col("doc_id"), col("lang"), h1.as("h1"), h2.as("h2"))
      .dropDuplicates("lang", "h1", "h2")
  }

  /** The production bounded-state form: dedup within a `horizon` of event
    * time. A key's state is evicted once the watermark passes its event
    * time + horizon, so state is bounded by the unique keys per horizon,
    * not per stream lifetime — a duplicate arriving after eviction is
    * re-emitted BY CONTRACT (the horizon IS the dedup guarantee). Input
    * must carry an event-time `ts` column. Eviction + within-horizon
    * suppression are spec-verified (StreamingSpec).
    */
  def streamingDedupWithinWatermark(docs: DataFrame, horizon: String): DataFrame = {
    val Seq(h1, h2) = graft.functions.Dedup.contentKey(col("text"))
    docs.select(col("doc_id"), col("ts"), col("lang"), h1.as("h1"), h2.as("h2"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("lang", "h1", "h2")
  }

  /** Correctness-gate harness: [[replay]] the documents table in
    * doc_id order through [[streamingExactDedup]], on the caller's
    * session; the per-language survivor counts must equal the one-shot
    * batch answer (q20's oracle). Duplicate copies split across triggers
    * exercise the cross-batch state path.
    */
  def replayExactDedup(docs: DataFrame, nBatches: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the replay feed carries the raw rows so the gate exercises the real
    // operator (hashing inside the stream)
    val rows = docs.select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
    rows.sortInPlaceBy(_._1)
    replay(spark, None, rows, nBatches) { (r, in) =>
      r.memory(streamingExactDedup(in.toDF("doc_id", "lang", "text")), "append")
    } { r =>
      val counts = r.table
        .groupBy("lang").agg(count("*").as("n_unique"))
        .as[(String, Long)].collect()
      spark.createDataset(counts.toIndexedSeq).toDF("lang", "n_unique")
    }
  }

  /** Per-key CDC state: the lexicographically-latest (event time, event
    * id) observation's value plus the running event count — 32 B/key
    * regardless of event volume, the compact-state discipline of the
    * other summaries.
    */
  final case class KeyLatest(tu: Long, eventId: Long, cents: Long, n: Long)

  /** CDC-style "latest value per key" (the materialized-upsert-view
    * primitive): keyed state holds each key's latest observation by
    * (event time, event id) lexicographic order — the id tiebreak makes
    * same-timestamp updates deterministic — plus the event count. Each
    * trigger emits one update row per TOUCHED key (update mode), so a
    * downstream sink sees an upsert changelog whose last row per key is
    * the current value. State is O(live keys), independent of stream
    * length; at scale the groupByKey shuffle is the only exchange and
    * keys spread uniformly unless the workload is single-key-hot (the
    * standard skew caveat). Input columns: (user_id, event_id, tu,
    * cents).
    */
  def streamingLatestPerKey(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("tu").cast("long"), col("cents").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[KeyLatest]) =>
          var st = state.getOption.getOrElse(
            KeyLatest(Long.MinValue, Long.MinValue, 0L, 0L))
          rows.foreach { case (_, eid, tu, cents) =>
            val newer = tu > st.tu || (tu == st.tu && eid > st.eventId)
            st =
              if (newer) KeyLatest(tu, eid, cents, st.n + 1)
              else st.copy(n = st.n + 1)
          }
          state.update(st)
          Iterator.single((user, st.tu, st.eventId, st.cents, st.n))
      }
      .toDF("user_id", "last_tu", "last_event_id", "last_cents", "n_events")
  }

  /** Correctness-gate harness: [[replay]] the events table in
    * EVENT-TIME order (the realistic CDC arrival order; the state logic
    * itself is arrival-order-independent) through
    * [[streamingLatestPerKey]]; the final update row per key must equal
    * the batch argmax-by-(ts, event_id) answer. Keys whose updates span
    * triggers exercise the cross-batch state path.
    */
  def replayLatestPerKey(events: DataFrame, nBatches: Int = 4): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        expr("ts_ns div 1000").as("tu"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)].collect()
    rows.sortInPlaceBy(r => (r._3, r._2))
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      r.memory(streamingLatestPerKey(in.toDF("user_id", "event_id", "tu", "cents")), "update")
    } { r =>
      val fin = lastUpdate(r.table, "n_events", "user_id")
        .as[(Long, Long, Long, Long, Long)].collect()
      spark.createDataset(fin.toIndexedSeq)
        .toDF("user_id", "last_tu", "last_event_id", "last_cents", "n_events")
    }
  }

  /** Per-key CDC state under an upsert/delete changelog: the latest
    * (event time, event id) observation's value, whether that latest
    * operation was a delete (`alive = false`), and the running operation
    * count — still a fixed ~33 B/key. A deleted key keeps its tombstone
    * state (so a later upsert resurrects it with correct ordering and
    * the count never resets), exactly how a compacted changelog topic
    * behaves.
    */
  final case class KeyCdc(tu: Long, eventId: Long, cents: Long,
                          alive: Boolean, n: Long)

  /** CDC latest-per-key WITH RETRACTIONS — the missing half of
    * [[streamingLatestPerKey]]'s upsert-only model: each event carries
    * `del` (1 = delete, 0 = upsert); the keyed state tracks the
    * (tu, event_id)-latest operation per key, and a key whose latest
    * operation is a delete reports `alive = 0` (its value columns hold
    * that delete's payload — deterministic, no nulls). Update-mode
    * emission per touched key, state O(live ∪ tombstoned keys). Input
    * columns: (user_id, event_id, tu, cents, del).
    */
  def streamingLatestPerKeyCdc(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("tu").cast("long"), col("cents").cast("long"), col("del").cast("long"))
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Long, Long)],
         state: GroupState[KeyCdc]) =>
          var st = state.getOption.getOrElse(
            KeyCdc(Long.MinValue, Long.MinValue, 0L, alive = false, 0L))
          rows.foreach { case (_, eid, tu, cents, del) =>
            val newer = tu > st.tu || (tu == st.tu && eid > st.eventId)
            st =
              if (newer) KeyCdc(tu, eid, cents, alive = del == 0L, st.n + 1)
              else st.copy(n = st.n + 1)
          }
          state.update(st)
          Iterator.single((user, st.tu, st.eventId, st.cents,
            if (st.alive) 1L else 0L, st.n))
      }
      .toDF("user_id", "last_tu", "last_event_id", "last_cents", "alive", "n_events")
  }

  /** Correctness-gate harness for [[streamingLatestPerKeyCdc]] — the
    * [[replayLatestPerKey]] replay with the delete op derived
    * deterministically from the data: `del = (event_id % 7 == 0)`.
    * The final changelog row per key must equal the batch
    * argmax-by-(ts, event_id) answer with its alive flag.
    */
  def replayLatestPerKeyCdc(events: DataFrame, nBatches: Int = 4): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        expr("ts_ns div 1000").as("tu"),
        round(col("value") * 100).cast("long").as("cents"),
        (col("event_id") % 7 === 0).cast("long").as("del"))
      .as[(Long, Long, Long, Long, Long)].collect()
    rows.sortInPlaceBy(r => (r._3, r._2))
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      r.memory(streamingLatestPerKeyCdc(
        in.toDF("user_id", "event_id", "tu", "cents", "del")), "update")
    } { r =>
      val fin = lastUpdate(r.table, "n_events", "user_id")
        .as[(Long, Long, Long, Long, Long, Long)].collect()
      spark.createDataset(fin.toIndexedSeq)
        .toDF("user_id", "last_tu", "last_event_id", "last_cents", "alive", "n_events")
    }
  }

  /** Per-EDGE CDC state — [[streamingLatestPerKeyCdc]]'s contract keyed
    * on the edge (src, dst): each op carries a strictly-ordering `seq`
    * and `del` (1 = tombstone, 0 = upsert); the keyed state keeps the
    * max-seq op per edge, so the FINAL state is independent of arrival
    * order and batch split by construction (latest-wins over a total
    * `seq` order is a max — commutative, associative, idempotent).
    * Emits (src, dst, alive, n_ops) per touched edge in update mode;
    * state is 17 B/edge. This is the changelog head a daily graph-
    * maintenance pass consumes: alive keys are the insert delta,
    * tombstoned keys the delete set.
    */
  final case class EdgeCdcState(seq: Long, alive: Boolean, n: Long)

  def streamingEdgeCdc(ops: DataFrame): DataFrame = {
    val spark = ops.sparkSession
    import spark.implicits._
    ops.select(col("src").cast("long"), col("dst").cast("long"),
        col("seq").cast("long"), col("del").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: (Long, Long), rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[EdgeCdcState]) =>
          var st = state.getOption.getOrElse(
            EdgeCdcState(Long.MinValue, alive = false, 0L))
          rows.foreach { case (_, _, seq, del) =>
            st =
              if (seq > st.seq) EdgeCdcState(seq, alive = del == 0L, st.n + 1)
              else st.copy(n = st.n + 1)
          }
          state.update(st)
          Iterator.single((k._1, k._2, if (st.alive) 1L else 0L, st.n))
      }
      .toDF("src", "dst", "alive", "n_ops")
  }

  /** Replay harness for [[streamingEdgeCdc]]: the changelog (src, dst,
    * seq, del) is [[replay]]ed in (seq, src, dst) order and the FINAL
    * per-edge state returns as a batch DataFrame on the PARENT session
    * — the bridge the q210/q211 CDC-driven maintenance queries consume.
    */
  def replayEdgeCdc(changelog: DataFrame, nBatches: Int = 4): DataFrame = {
    val spark = changelog.sparkSession
    import spark.implicits._
    val rows = changelog.select(col("src").cast("long"), col("dst").cast("long"),
        col("seq").cast("long"), col("del").cast("long"))
      .as[(Long, Long, Long, Long)].collect()
    rows.sortInPlaceBy(r => (r._3, r._1, r._2))
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      r.memory(streamingEdgeCdc(in.toDF("src", "dst", "seq", "del")), "update")
    } { r =>
      val fin = lastUpdate(r.table, "n_ops", "src", "dst")
        .as[(Long, Long, Long, Long)].collect()
      spark.createDataset(fin.toIndexedSeq)
        .toDF("src", "dst", "alive", "n_ops")
    }
  }

  /** THE streaming ingest loop behind the persisted-index harnesses
    * ([[replayPqIngest]], [[replayIvfIngest]], [[replayDedupIngest]],
    * [[replayPhashIngest]]): `feed` is collected, sorted by its first
    * (id) column and [[replay]]ed in `nBatches` triggers. Each trigger
    * ENCODES only its own batch through the index's frozen model or
    * persisted hash family — a per-batch BATCH computation
    * (foreachBatch hands over a plain DataFrame), exactly the bulk
    * build's pipeline; the model is never refit in-stream — and lands
    * the rows in its own `ingest_batch = batchId` partition of `base`'s
    * ingest table ([[graft.sources.IndexTables.ingestBatch]]).
    * foreachBatch is at-least-once under failure/retry, but a
    * re-delivered trigger REWRITES its own partition with identical
    * rows — the write is the commit, so the stored state is
    * EXACTLY-ONCE however many times a batch fires.
    */
  private def replayIndexIngest(base: String, feed: DataFrame, nBatches: Int)(
      encode: DataFrame => DataFrame): Unit = {
    val spark = feed.sparkSession
    implicit val rowEnc: Encoder[Row] = Encoders.row(feed.schema)
    val rows = feed.collect()
    rows.sortInPlaceBy(_.getLong(0))
    graft.sources.IndexTables.ensureIngest(spark, base)
    replay(spark, Some(8), rows, nBatches) { (_, in) =>
      in.writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          graft.sources.IndexTables.ingestBatch(encode(df), base, batchId)
        }
    } { _ => () }
  }

  /** (vec_id, embedding) rows of `vecs` — the vector indexes' feed. */
  private def vectorFeed(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>").as("embedding"))

  /** Streaming ingest into the PERSISTED PQ index — q193's streaming
    * ANN state taken to its deployment conclusion (build once, persist,
    * ingest continuously, serve from the reloaded table): new vectors
    * stream through the FROZEN codebooks ([[graft.functions.PQ.index]]'s
    * encode projection — the standard IVF/PQ ingest contract) into the
    * `<name>_codes_ingest` side table, exactly-once per trigger
    * ([[replayIndexIngest]]). Serving unions the side table through
    * [[graft.functions.PQ.load]]; [[graft.functions.PQ.compact]] and
    * [[graft.functions.PQ.delete]] fold it back into the bucketed base.
    */
  def replayPqIngest(newVecs: DataFrame, model: graft.functions.PQ.Model,
                     name: String, nBatches: Int = 3): Unit =
    replayIndexIngest(graft.functions.PQ.codesTable(name), vectorFeed(newVecs),
      nBatches)(graft.functions.PQ.index(_, model))

  /** Streaming ingest into the PERSISTED IVF index: new vectors stream
    * through the FROZEN centroids ([[graft.functions.IVF.index]]'s
    * shuffle-free assignment projection) into `<name>_cells_ingest`,
    * exactly-once per trigger ([[replayIndexIngest]]). Serving unions
    * the side table through [[graft.functions.IVF.load]];
    * [[graft.functions.IVF.compact]] folds it into the cells and
    * [[graft.functions.IVF.delete]] prunes it by batch.
    */
  def replayIvfIngest(newVecs: DataFrame, model: graft.functions.IVF.Model,
                      name: String, nBatches: Int = 3): Unit =
    replayIndexIngest(graft.functions.IVF.cells(name).base, vectorFeed(newVecs),
      nBatches)(graft.functions.IVF.index(_, model))

  /** Streaming ingest into the PERSISTED dedup index: new documents
    * stream in and each trigger encodes its batch through the index's
    * persisted hash family ([[graft.functions.DedupIndex.encode]] with
    * the `<name>_meta` parameters — a document's signature comes from
    * its own shingles only, exactly as the bulk build's) into
    * `<name>_buckets_ingest`, exactly-once per trigger
    * ([[replayIndexIngest]]). Serving unions the side table through
    * [[graft.functions.DedupIndex.loadBuckets]];
    * [[graft.functions.DedupIndex.compact]] folds it into the buckets.
    */
  def replayDedupIngest(newDocs: DataFrame, name: String,
                        nBatches: Int = 3): Unit = {
    val (n, bands, rowsPerBand) =
      graft.functions.DedupIndex.params(newDocs.sparkSession, name)
    replayIndexIngest(graft.functions.DedupIndex.buckets(name).base,
      newDocs.select(col("doc_id").cast("long"),
        coalesce(col("text"), lit("")).as("text")),
      nBatches)(graft.functions.DedupIndex.encode(_, n, bands, rowsPerBand))
  }

  /** Streaming ingest into the persisted perceptual-hash image index:
    * new image ids stream through; each trigger DECODES AND HASHES only
    * its own batch's images through the index's persisted chunking (the
    * payload bytes are touched exactly once, per-partition, never
    * shuffled) into `<name>_chunks_ingest`, exactly-once per trigger
    * ([[replayIndexIngest]]).
    */
  def replayPhashIngest(newDocs: DataFrame, name: String,
                        nBatches: Int = 3): Unit = {
    val maxHamming = graft.functions.PhashIndex.params(newDocs.sparkSession, name)
    replayIndexIngest(graft.functions.PhashIndex.chunks(name).base,
      newDocs.select(col("doc_id").cast("long")), nBatches) { df =>
      graft.functions.PhashIndex.encode(
        graft.operators.Multimodal.perceptualHashes(
          graft.operators.Multimodal.syntheticImages(df).toDF()),
        maxHamming)
    }
  }

  /** Streaming HLL++ distinct-count parity — the sketch-as-streaming-
    * state primitive: per-language `approx_count_distinct` maintained
    * across triggers in update mode. HLL registers merge by register-
    * wise MAX — commutative, associative, idempotent — so for a fixed
    * hash family the final estimate is IDENTICAL under any batch split,
    * including the one-shot batch: the replay's last row per language
    * must equal the batch estimate BIT-FOR-BIT, not within tolerance.
    * (Exact `countDistinct` is disallowed on streams — unbounded
    * distinct state; the sketch is precisely the streaming-legal
    * answer, carrying fixed-size registers per key.)
    *
    * Output: (lang, n_exact, within_tol, stream_eq_batch) — batch exact
    * count, the q57 5·rsd gate, and the streaming≡batch parity flag.
    */
  def replayHllDistinct(docs: DataFrame, nBatches: Int = 4,
                        rsd: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val batch = graft.functions.Sketches.hllDistinctGate(docs, rsd)
    val batchApprox = docs
      .select(col("lang"), explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy("lang").agg(approx_count_distinct(col("token"), rsd).as("n_approx_batch"))
    val rows = docs.select(col("doc_id").cast("long"), col("lang"),
        coalesce(col("text"), lit("")))
      .as[(Long, String, String)].collect()
    rows.sortInPlaceBy(_._1)
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      r.memory(in.toDF("doc_id", "lang", "text")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .where(col("token") =!= "")
        .groupBy("lang")
        .agg(approx_count_distinct(col("token"), rsd).as("n_approx"),
          count(lit(1)).as("n_tok")), "update")
    } { r =>
      val fin = lastUpdate(r.table, "n_tok", "lang")
        .select(col("lang"), col("n_approx"))
        .as[(String, Long)].collect()
      val streamed = spark.createDataset(fin.toIndexedSeq)
        .toDF("lang", "n_approx_stream")
      batch.join(batchApprox, Seq("lang"))
        .join(streamed, Seq("lang"))
        .select(col("lang"), col("n_exact"), col("within_tol"),
          (col("n_approx_stream") === col("n_approx_batch")).as("stream_eq_batch"))
    }
  }

  /** Streaming count-min-sketch parity — [[replayHllDistinct]]'s
    * pattern for the OTHER mergeable sketch: a global
    * `count_min_sketch` aggregate maintained in update-mode streaming
    * state. Counter addition commutes and associates, so for a fixed
    * seed the final sketch BYTES after any trigger split must equal
    * the one-shot batch sketch exactly — compared byte-for-byte, the
    * strongest possible parity. Output: q56's heavy-hitter gate rows
    * plus the parity flag — (token, exact_cnt, within_bound,
    * stream_eq_batch).
    */
  def replayCmsHeavyHitters(docs: DataFrame, k: Int = 10, eps: Double = 0.001,
                            nBatches: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE tokenize + ONE sketch aggregation serves both the gate rows
    // and the parity reference (it is the identical sketch by
    // construction — same eps/confidence/seed)
    val (gate, batchBytes) = graft.functions.Sketches.cmsGateWithSketch(docs, k, eps)
    val cmsAgg = s"count_min_sketch(token, cast($eps as double), cast(0.99 as double), 42)"
    val rows = docs.select(col("doc_id").cast("long"), coalesce(col("text"), lit("")))
      .as[(Long, String)].collect()
    rows.sortInPlaceBy(_._1)
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      r.memory(in.toDF("doc_id", "text")
        .select(explode(split(col("text"), " ")).as("token"))
        .where(col("token") =!= "")
        .agg(expr(cmsAgg).as("sketch"), count(lit(1)).as("n_tok")), "update")
    } { r =>
      // a token-less corpus produces no sink rows: the parity claim is
      // vacuously true (and the gate side is empty anyway)
      val sinkRows = r.table.orderBy(col("n_tok").desc).limit(1).collect()
      val eq = sinkRows.isEmpty ||
        java.util.Arrays.equals(batchBytes, sinkRows(0).getAs[Array[Byte]](0))
      gate.withColumn("stream_eq_batch", lit(eq))
    }
  }

  /** Streaming top-k by running count, COMPLETE output mode — the one
    * mode where Structured Streaming permits a global sort + limit over
    * a streaming aggregate, so the sink holds the FULL current ranking
    * after every trigger (the live-leaderboard primitive; contrast
    * [[streamingLatestPerKey]]'s update-mode changelog, which never
    * ranks). State is the per-key running count (16 B/key); the
    * ranking itself is recomputed from state each trigger — complete
    * mode's rewrite-the-result contract, priced for dashboards whose
    * result is k rows, not for unbounded sinks. Ties break by smaller
    * key, so the ranking is deterministic under any trigger split.
    */
  def replayTopKByCount(events: DataFrame, k: Int = 5,
                        nBatches: Int = 4): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.where(col("event_type") === "purchase")
      .select(col("user_id").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long)].collect()
    rows.sortInPlaceBy(_._2)
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      r.memory(in.toDF("user_id", "event_id")
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_events").desc, col("user_id").asc)
        .limit(k), "complete")
    } { r =>
      // complete mode REPLACES the sink table each trigger — it already
      // holds exactly the final ranking; stamp ranks on the k rows
      val fin = r.table
        .orderBy(col("n_events").desc, col("user_id").asc)
        .as[(Long, Long)].collect()
      spark.createDataset(fin.toIndexedSeq.zipWithIndex
          .map { case ((u, n), i) => (u, (i + 1).toLong, n) })
        .toDF("user_id", "rnk", "n_events")
    }
  }

  /** Stateless per-document MinHash banding projection: the kernel
    * [[graft.functions.Dedup.banded]] that [[graft.functions.Dedup.minhashPairs]]
    * and [[graft.functions.DedupIndex]] band with, so a document's band
    * keys are the batch path's by construction. A pure projection — it
    * runs in append mode on an unbounded stream with no shuffle and no
    * state. Output: one row per (band, key, doc_id).
    */
  private[graft] def minhashBandRows(docs: DataFrame, n: Int,
                                     bands: Int, rowsPerBand: Int): DataFrame =
    graft.functions.Dedup.banded(
      docs.select(col("doc_id").cast("long").as("doc_id"), col("text")),
      n, bands, rowsPerBand).select("band", "key", "doc_id")

  /** THE streaming near-dup candidate operator: LSH bucket membership
    * held in `flatMapGroupsWithState` KEYED STATE, keyed by (band, band
    * key). Each trigger adds its batch-new doc_ids to the bucket and
    * emits exactly the candidate pairs those new docs close — against
    * the bucket's accumulated members and among themselves. After ANY
    * prefix of the stream, the union of emitted pairs equals the batch
    * banding candidate set of the documents seen so far (pairs sharing
    * ≥1 band bucket), so a downstream exact-Jaccard verify yields the
    * batch [[graft.functions.Dedup.minhashPairs]] answer exactly.
    *
    * Per-trigger cost is O(touched buckets + emitted pairs) —
    * independent of stream length; bucket state is doc_ids only (8 B
    * per member), never text. Duplicate doc_ids re-arriving are
    * dropped (set semantics), so emissions never repeat a pair from
    * the same bucket; cross-band repeats are deduped by the verify.
    */
  def streamingMinhashCandidates(docs: DataFrame, n: Int = 2,
                                 bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    minhashBandRows(docs, n, bands, rowsPerBand).as[(Int, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), it: Iterator[(Int, Long, Long)], state: GroupState[Array[Long]]) =>
          val old = state.getOption.getOrElse(Array.emptyLongArray)
          val oldSet = old.toSet
          val fresh = it.map(_._3).filter(d => !oldSet.contains(d)).toSet.toArray.sorted
          if (fresh.isEmpty) Iterator.empty
          else {
            state.update((old ++ fresh).sorted)
            val out = Array.newBuilder[(Long, Long)]
            var i = 0
            while (i < fresh.length) {
              val d = fresh(i)
              old.foreach(o => out += ((math.min(o, d), math.max(o, d))))
              var j = i + 1
              while (j < fresh.length) { out += ((d, fresh(j))); j += 1 }
              i += 1
            }
            out.result().iterator
          }
      }.toDF("doc_a", "doc_b")
  }

  /** Correctness-gate harness for streaming near-dup — the highest-value
    * pipeline operator's streaming story: [[replay]] the documents in
    * doc_id order through [[streamingMinhashCandidates]] (duplicate
    * groups split across triggers exercise the cross-batch bucket
    * state), then batch-verify the accumulated candidates with
    * exact Jaccard. The result must equal the one-shot batch
    * [[graft.functions.Dedup.minhashPairs]] answer — and therefore
    * hash-check against q30's exact-Jaccard DuckDB oracle. Only the
    * (tiny) candidate set crosses the driver between the streaming and
    * batch halves.
    */
  def replayMinhashPairs(docs: DataFrame, n: Int = 2, threshold: Double = 0.5,
                         nBatches: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    rows.sortInPlaceBy(_._1)
    // bucket-keyed state: a handful of state partitions keeps per-trigger
    // commit overhead proportional to real work at replay scale
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      // q193's sink discipline: a pair colliding in several of the 8
      // bands is emitted once PER BAND (state is (band, key)-keyed), so
      // candidates sink executor-side to tmpfs parquet instead of
      // accumulating multiplied on the driver memory sink + collect; the
      // caller session reads the PATH (no cross-session table, no collect)
      streamingMinhashCandidates(in.toDF("doc_id", "text"), n)
        .writeStream.outputMode("append")
        .foreachBatch(pairSink(r, "doc_a", "doc_b"))
    } { r =>
      // checkpointed off the files, which the driver deletes on return
      val candsDF = spark.read.parquet(r.scratch)
        .select(col("doc_a"), col("doc_b")).distinct()
        .localCheckpoint(true)
      val sh = graft.functions.Dedup.shingles(docs, n).localCheckpoint(true)
      val counts = sh.groupBy(col("doc_id")).agg(count("*").as("n_sh"))
      graft.functions.Dedup.jaccardOfPairs(candsDF, sh, counts, threshold)
    }
  }

  /** THE streaming ANN-index-maintenance operator: random-hyperplane
    * LSH bucket membership held in `flatMapGroupsWithState` keyed
    * state — [[streamingMinhashCandidates]]'s machinery generalized
    * from MinHash band buckets to embedding hyperplane tables, closing
    * the "index the stream as it arrives" story for the batch PQ/IVF/
    * LSH family. Each arriving vector lands in its `nTables` signature
    * buckets (the signature projection is pure per-row codegen — no
    * shuffle before the bucket key); each trigger emits exactly the
    * candidate pairs its batch-new vectors close, against the bucket's
    * accumulated members and among themselves. After ANY stream prefix
    * the emitted union equals the batch candidate set of
    * [[graft.functions.Similarity.cosinePairsBucketed]] at the same
    * (planes, tables, dim) — same seed-42+t plane family — so a
    * downstream exact-cosine verify reproduces the batch answer
    * exactly. Bucket state is vec_ids only (8 B/member), never vectors.
    */
  def streamingLshCandidates(vecs: DataFrame, nTables: Int, nPlanes: Int,
                             dim: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col("vec_id").cast("long").as("vec_id"),
        posexplode(graft.functions.Similarity.signatures(
          col("embedding").cast("array<double>"), nTables, nPlanes, dim)))
      .toDF("vec_id", "tbl", "sig")
      .as[(Long, Int, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), it: Iterator[(Long, Int, Long)], state: GroupState[Array[Long]]) =>
          val old = state.getOption.getOrElse(Array.emptyLongArray)
          val oldSet = old.toSet
          val fresh = it.map(_._1).filter(d => !oldSet.contains(d)).toSet.toArray.sorted
          if (fresh.isEmpty) Iterator.empty
          else {
            state.update((old ++ fresh).sorted)
            val out = Array.newBuilder[(Long, Long)]
            var i = 0
            while (i < fresh.length) {
              val d = fresh(i)
              old.foreach(o => out += ((math.min(o, d), math.max(o, d))))
              var j = i + 1
              while (j < fresh.length) { out += ((d, fresh(j))); j += 1 }
              i += 1
            }
            out.result().iterator
          }
      }.toDF("vec_a", "vec_b")
  }

  /** Correctness-gate harness for streaming ANN maintenance: [[replay]]
    * the embeddings in vec_id order through [[streamingLshCandidates]]
    * (near-dup pairs split across triggers
    * exercise the cross-batch bucket state), sized exactly as the batch
    * operator sizes itself ([[graft.functions.Similarity.lshSizing]] at
    * the same row count and threshold), then batch-verify the
    * accumulated candidates with exact cosine at the same 6-dp
    * rounding. The result must equal the one-shot batch
    * [[graft.functions.Similarity.cosinePairsBucketed]] answer — and
    * therefore pass q122's recall gate against the exact all-pairs
    * audit. Only the (tiny) candidate id set crosses the driver between
    * the streaming and batch halves.
    */
  def replayLshPairs(corpus: DataFrame, threshold: Double,
                     nBatches: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.functions.Similarity
    val rows = corpus.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    rows.sortInPlaceBy(_._1)
    val dim = rows.collectFirst { case (_, e) if e != null => e.length }.getOrElse(1)
    val (nPlanes, nTables) = Similarity.lshSizing(rows.length.toLong, threshold)
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      // candidates sink to tmpfs parquet via foreachBatch, NOT the driver
      // memory sink: a pair colliding in several of the ~dozens of tables
      // is emitted once PER TABLE (state is keyed (tbl, sig) — cross-table
      // dedup can't happen in state), so the memory sink used to
      // accumulate the multiplied stream on the driver and the final
      // distinct().collect() hauled it all back again — measured as
      // nearly all of q193's wall. Executor-side per-batch OVERWRITE
      // directories (exactly-once under retry) + a path-based re-read
      // keep every pair off the driver; the caller session reads the
      // path directly (no cross-session table, no collect)
      streamingLshCandidates(in.toDF("vec_id", "embedding"), nTables, nPlanes, dim)
        .writeStream.outputMode("append")
        .foreachBatch(pairSink(r, "vec_a", "vec_b"))
    } { r =>
      // verify on the CALLER's session with the exact formula —
      // candidates ∝ true near-dups, tiny by design; checkpointed off
      // the files, which the driver deletes on return
      val candsDF = spark.read.parquet(r.scratch)
        .select(col("vec_a"), col("vec_b")).distinct()
        .localCheckpoint(true)
      val vecs = corpus.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .withColumn("nrm", Similarity.norm(col("e")))
        .localCheckpoint(true)
      candsDF
        .join(vecs.toDF("vec_a", "ea", "na"), Seq("vec_a"))
        .join(vecs.toDF("vec_b", "eb", "nb"), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("sim"))
        .where(col("sim") >= threshold)
    }
  }

  /** STREAMING HyperBall register maintenance (radius-1) —
    * [[replayHllDistinct]]'s pattern for the GRAPH sketch: the t = 1
    * ball registers of vertex v are the element-wise max of the
    * single-element sketches of {v} ∪ N(v), and register max is
    * associative/commutative/idempotent — so an update-mode streaming
    * max-aggregation over the edge stream's per-endpoint contributions
    * (u ← sketch(v), u ← sketch(u), both directions) maintains EXACTLY
    * the batch registers regardless of trigger split or duplicate
    * delivery (max absorbs replays — the at-least-once-safe class).
    * The emitted (id, est) rows must therefore hash-equal the batch
    * [[graft.operators.HyperBall.ballSizes]] t = 1 slice, which is
    * what the q227 oracle checks (the batch SQL's g1 round). A
    * DECREMENTAL variant is impossible by construction — max cannot
    * retract (the known HLL limitation); deletions require a register
    * rebuild of the touched vertices.
    */
  def replayHyperballT1(edges: DataFrame, nBatches: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    rows.sortInPlaceBy(identity)
    val regNames = (0 until 16).map(j => s"r$j")
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      val e = in.toDF("src", "dst").where(col("src") =!= col("dst"))
      val contrib = e.select(col("src").as("id"), col("dst").as("n"))
        .unionByName(e.select(col("dst").as("id"), col("src").as("n")))
        .unionByName(e.select(col("src").as("id"), col("src").as("n")))
        .unionByName(e.select(col("dst").as("id"), col("dst").as("n")))
      val withRegs = contrib.select(
        col("id") +: graft.operators.HyperBall.regColsOf(col("n")): _*)
      r.memory(withRegs.groupBy("id")
        .agg(max(col("r0")).as("r0"),
          regNames.tail.map(c => max(col(c)).as(c)) :+ count(lit(1)).as("nc"): _*), "update")
    } { r =>
      val fin = lastUpdate(r.table, "nc", "id")
        .select(col("id"),
          graft.operators.HyperBall.estimator.as("est"))
        .as[(Long, Long)].collect()
      spark.createDataset(fin.toIndexedSeq).toDF("id", "est")
    }
  }

  /** STREAMING HyperBall beyond radius 1 — the honest lifecycle for
    * radii the update-mode max-agg cannot carry ([[replayHyperballT1]]
    * maintains t = 1 because a NEW edge's contribution is local; a t ≥ 2
    * register depends on NEIGHBORS' t−1 registers, which later edges
    * keep growing — no per-row contribution stream can express that):
    * REGISTER TABLES ARE THE STATE. Each trigger's foreachBatch
    *   1. appends its edge chunk to the accumulated edge table
    *      (idempotent per-batch overwrite directory — the exactly-once
    *      writer's layout, a replayed batch rewrites its own dir),
    *   2. folds ONLY the new edges' endpoint/self sketches into the
    *      persisted t=1 register table (register max is monotone, so
    *      R1 maintenance is incremental — one small-side union + max),
    *   3. runs the periodic BATCH rounds t = 2..k against the current
    *      R1 and the full accumulated edge set, persisting each radius'
    *      register table.
    * Because R1 is complete after the final trigger and rounds 2..k are
    * recomputed FROM it there, the final tables equal the batch
    * [[graft.operators.HyperBall.ballSizes]] registers exactly — the
    * q234 oracle replays the batch g1..gk rounds. At 100 TB the step-3
    * recompute is the knob: run it every N triggers (the tables are
    * persistent, so staleness is bounded and visible), while step 2
    * stays per-trigger cheap.
    *
    * Output: (id, t, est) for t = 1..k from the final persisted
    * register tables. The registers never touch the driver.
    */
  def replayHyperballRounds(edges: DataFrame, k: Int = 2,
                            nBatches: Int = 4): DataFrame = {
    require(k >= 1 && k <= 16, s"hyperball k=$k out of the sane 1..16 range")
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    rows.sortInPlaceBy(identity)
    // empty stream: no trigger ever fires, so no register table exists —
    // the batch sibling's empty-graph answer, not a missing-path crash
    // (review finding r11)
    if (rows.isEmpty)
      return spark.emptyDataset[(Long, Long, Long)].toDF("id", "t", "est")
    val regNames = (0 until 16).map(j => s"r$j")
    // latest persisted register-table paths, advanced per trigger —
    // deployment state lives in a catalog; the paths are its harness twin
    @volatile var latest: Map[Int, String] = Map.empty
    replay(spark, Some(8), rows, nBatches) { (r, in) =>
      val stateRoot = r.scratch
      in.toDF("src", "dst")
        .writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val ss = df.sparkSession
          val e = df.where(col("src") =!= col("dst"))
            .select(col("src").as("u"), col("dst").as("v")).distinct()
            .localCheckpoint(true)
          // 1. exactly-once edge append: per-batch overwrite dir
          e.write.mode("overwrite").parquet(s"$stateRoot/acc/batch=$batchId")
          // 2. incremental R1 fold: new edges' contributions only
          val contrib = e.select(col("u").as("id"), col("v").as("n"))
            .unionByName(e.select(col("v").as("id"), col("u").as("n")))
            .unionByName(e.select(col("u").as("id"), col("u").as("n")))
            .unionByName(e.select(col("v").as("id"), col("v").as("n")))
            .select(col("id") +:
              graft.operators.HyperBall.regColsOf(col("n")): _*)
          val r1 = latest.get(1)
            .map(p => ss.read.parquet(p).unionByName(contrib))
            .getOrElse(contrib)
            .groupBy("id")
            .agg(max(col("r0")).as("r0"),
              regNames.tail.map(c => max(col(c)).as(c)): _*)
            .localCheckpoint(true)
          r1.write.mode("overwrite").parquet(s"$stateRoot/regs1/batch=$batchId")
          latest += 1 -> s"$stateRoot/regs1/batch=$batchId"
          // 3. periodic batch rounds 2..k from the maintained R1 over the
          // accumulated edge set
          val acc = ss.read.parquet(s"$stateRoot/acc")
            .select(col("u"), col("v"))
          val accSym = acc.unionByName(acc.select(col("v").as("u"), col("u").as("v")))
            .distinct().localCheckpoint(true)
          var state = r1
          (2 to k).foreach { t =>
            val pulled = accSym.join(state, accSym("v") === state("id"))
              .select(col("u").as("id") +: regNames.map(col): _*)
            state = state.unionByName(pulled)
              .groupBy("id")
              .agg(max(col("r0")).as("r0"),
                regNames.tail.map(c => max(col(c)).as(c)): _*)
              .localCheckpoint(true)
            state.write.mode("overwrite")
              .parquet(s"$stateRoot/regs$t/batch=$batchId")
            latest += t -> s"$stateRoot/regs$t/batch=$batchId"
          }
          ()
        }
    } { r =>
      val fin = (1 to k).map { t =>
        r.session.read.parquet(latest(t))
          .select(col("id"), lit(t.toLong).as("t"),
            graft.operators.HyperBall.estimator.as("est"))
      }.reduce(_ unionByName _)
        .as[(Long, Long, Long)].collect()
      spark.createDataset(fin.toIndexedSeq).toDF("id", "t", "est")
    }
  }

  /** Correctness-gate harness for the continuous globalAggregate (O15):
    * [[replay]] the ascending edge VALUES, on the caller's session,
    * through the complete-mode running histogram; the final table must
    * equal the one-shot batch answer (q18's oracle).
    */
  def replayHistogram(edges: DataFrame, nBatches: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = edges.select(col("value").cast("double")).as[Double].collect()
    java.util.Arrays.sort(rows)
    replay(spark, None, rows, nBatches) { (r, in) =>
      r.memory(in.toDF("value")
        .groupBy((floor(col("value") / 5) * 5).cast("long").as("bin"))
        .agg(count("*").as("cnt")), "complete")
    } { r =>
      val fin = r.table.as[(Long, Long)].collect()
      spark.createDataset(fin.toIndexedSeq).toDF("bin", "cnt")
    }
  }

  /** Correctness-gate harness for stream-stream interval joins: replay
    * clicks and purchases (from the events table, µs timestamps) through
    * TWO MemoryStreams in time-aligned chunks (its own feed to
    * [[runReplay]], not [[replay]]'s row chunks), join them on user within
    * a [-10 min, 0] event-time interval under watermark 0, and return
    * per-click purchase counts and cent-exact sums — which must equal
    * the one-shot batch join. Chunks share global time boundaries so
    * neither side's watermark can drop the other side's in-flight rows.
    * Purchase values are rounded to integer cents BEFORE the sum, so
    * the aggregate is order-independent (the fixed-point rule).
    */
  def replayIntervalJoin(events: DataFrame, nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), expr("ts_ns div 1000").as("tu"),
        round(col("value") * 100).cast("long").as("cents"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tu"))
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("tu"), col("cents"))
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    // global time boundaries shared by both feeds (empty input => no
    // cuts, a single empty trigger, empty result)
    val allTs = (clicks.map(_._3) ++ purchases.map(_._2)).sorted
    val cuts =
      if (allTs.isEmpty) Seq.empty[Long]
      else (1 until nBatches).map(i => allTs(i * allTs.length / nBatches))

    // a trigger commits every state-store partition of every stateful
    // operator (two watermarks + both join sides): 32 shuffle partitions
    // × 3 triggers is pure commit overhead at replay scale — pin to 8
    // (production raises it with the data)
    runReplay(spark, Some(8)) { r =>
      val msC = r.stream[(Long, Long, Long)]
      val msP = r.stream[(Long, Long, Long)]
      val cDf = msC.toDF().toDF("event_id", "c_user", "c_tu")
        .withColumn("c_ts", timestamp_micros(col("c_tu")))
        .withWatermark("c_ts", "0 seconds")
      val pDf = msP.toDF().toDF("p_user", "p_tu", "cents")
        .withColumn("p_ts", timestamp_micros(col("p_tu")))
        .withWatermark("p_ts", "0 seconds")
      val joined = cDf.join(pDf,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("interval 10 minutes") &&
          col("p_ts") <= col("c_ts"))
      // one trigger per cut: both sides' rows up to the cut
      var (loC, loP) = (0, 0)
      def feedBelow(hi: Long): Unit = {
        val hiC = clicks.indexWhere(_._3 >= hi, loC) match { case -1 => clicks.length; case i => i }
        val hiP = purchases.indexWhere(_._2 >= hi, loP) match { case -1 => purchases.length; case i => i }
        msC.addData(clicks.slice(loC, hiC).toSeq)
        msP.addData(purchases.slice(loP, hiP).toSeq)
        loC = hiC; loP = hiP
      }
      (r.memory(joined.select(col("event_id"), col("cents")), "append"),
        (cuts :+ Long.MaxValue).iterator.map(hi => () => feedBelow(hi)))
    } { r =>
      val out = r.table
        .groupBy("event_id")
        .agg(count("*").as("n_purchases"), sum("cents").as("sum_cents"))
        .as[(Long, Long, Long)].collect()
      spark.createDataset(out.toIndexedSeq).toDF("event_id", "n_purchases", "sum_cents")
    }
  }

  /** Running degree table (update mode): identical plan to the batch
    * `getDegrees` — Structured Streaming keeps the per-key counts in the
    * state store and emits changed rows per trigger.
    */
  def runningDegrees(gs: GraphStream): DataFrame = gs.getDegrees

  /** Per-window neighborhood aggregation with watermark-driven append
    * emission; `delay = "0 seconds"` matches the reference's
    * ascending-timestamp assumption.
    */
  def windowedDegrees(gs: GraphStream, size: String, delay: String = "0 seconds"): DataFrame =
    gs.withWatermark(delay)
      .slice(size, graft.EdgeDirection.All)
      .foldNeighbors(count("*").as("degree"))

  /** O20 with `transientState=true` on a stream: an independent
    * connected-components summary per tumbling event-time window,
    * emitted on window close (append mode). The same call works on a
    * batch DataFrame (the watermark is a no-op there).
    * Output: (win, id, component) with `win` = epoch second of window
    * start.
    */
  def windowedConnectedComponents(edges: DataFrame, size: String,
                                  delay: String = "0 seconds"): DataFrame =
    SummaryAggregations.connectedComponentsPerWindow(
        edges.withWatermark("ts", delay), window(col("ts"), size))
      .withColumn("win", unix_timestamp(col("win.start")))
}
