package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Lineage.CutOps
import graft.model.{GraphFixtures, Tables}
import graft.operators.{ConnectedComponents, Multimodal, SpanningForest, SummaryAggregations, Traversals, Triangles}
import graft.functions.{Dedup, Similarity, TextStats}

/** Driver contract (SURVEY §2.9): every `queries` entry that also has an
  * `oracleSql` entry is hash-matched against DuckDB on the same parquet
  * tables; entries without SQL get a rows-only check (order-sensitive or
  * hash-family-dependent operators per SURVEY §2.9's exclusion list).
  *
  * Conventions shared by both sides: window ids are epoch seconds of the
  * tumbling-window start (epoch-aligned); money-ish double sums are
  * pre-rounded (2dp for price sums, 6dp elsewhere) so both engines hash
  * identically under the driver's 6dp canonicalization; every aggregate
  * column is aliased identically in the Spark plan and the SQL.
  */
object SparkEntry {

  /** Shared round/depth budgets — the Scala operator registration AND
    * its DuckDB oracle unroll derive from the SAME constant, so both
    * sides hit their fail-loud sentinel at the same input depth. A
    * deeper graph then fails symmetrically (clear errors on both
    * engines) instead of surfacing as an opaque hash mismatch when one
    * side's budget outlives the other's (ADVICE r5).
    */
  private val CentralityDepth = 10 // q118/q125/q128 BFS layer budget
  private val MatchingRounds = 12 // q132/q134 handshake round budget
  // q147 oracle unroll: h-index convergence measured at 46 rounds on
  // sf0.01 C10 (long few-vertex tail on chain-like regions); 64 = 1.4x
  // margin, and the oracle's last-two-rounds sentinel still fails loud
  // past it. The Spark side iterates to the (unique) fixpoint with its
  // own fail-loud cap, so neither side can silently truncate.
  private val CorenessRounds = 64

  /** Flagship: revenue-per-nation joins (broadcast dims) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    revenuePerNation(spark, "/root/testdata/sf0.001")

  private def E(s: SparkSession, dir: String) = GraphStream(GraphFixtures.edgeStream(s, dir))

  /** Session-scoped memo of the co-purchase oriented+adjacency relation —
    * q14 and q15 are two statistics over one relation, so in a verify or
    * bench session the build (degrees, orientation, adjacency lists) runs
    * once and the second query reads the checkpoint. Keyed by session
    * identity so independent sessions never share plans; one entry per
    * (session, dir), dropped with the session.
    *
    * The memoized checkpoint's RDD is recorded in [[pinnedRddIds]]:
    * [[releaseBetweenQueries]] unpersists all other persistent RDDs
    * between queries, and a locally-checkpointed RDD cannot be
    * recomputed after unpersist. Build intermediates are
    * released immediately; only the final relation stays pinned.
    */
  // pins are keyed by (session identity, rdd id): RDD ids restart per
  // SparkContext, so a stale id from a stopped session must never shield
  // an unrelated RDD in a later one (ADVICE r3)
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int)]()

  /** RDD ids whose blocks back THIS session's cross-query memos. */
  private def pinnedRddIds(s: SparkSession): java.util.Set[Integer] = {
    val sid = System.identityHashCode(s)
    val out = new java.util.HashSet[Integer]()
    pinned.forEach(t => if (t._1 == sid) out.add(t._2))
    out
  }

  /** The release between two queries of a harness run: queries are
    * standalone, so every persistent RDD except this session's pinned
    * memos is unpersisted (blocks accumulated from earlier queries
    * otherwise GC-thrash later ones: measured 3× inflation at sf0.1),
    * the SQL cache is cleared, and a GC runs, because ContextCleaner
    * reaps dead shuffles and broadcasts only after one and with a large
    * heap none happens by itself between queries.
    */
  def releaseBetweenQueries(s: SparkSession): Unit = {
    val keep = pinnedRddIds(s)
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(Int.box(id))) rdd.unpersist(false)
    }
    s.catalog.clearCache()
    System.gc()
  }

  /** Generic session-scoped cross-query memo with the pin/sweep
    * discipline documented above: `build` runs once per (session, dir),
    * the result is eagerly checkpointed and PINNED against the
    * harness's between-query unpersist sweep, and after `maxUses`
    * consumers have built their plans the pin is dropped so the sweep
    * reclaims the blocks (a memo left resident GC-pressures every later
    * query — measured on q50: 5.8 s isolated vs 16.5 s with a resident
    * memo).
    *
    * SEQUENCING CONTRACT (review finding r11): the deferred-retire
    * unpersist assumes the expiring (maxUses-th) consumer fully
    * EXECUTES its plan before any later apply() for the same key
    * triggers a rebuild — true for the strictly sequential
    * Verify/Bench harnesses this serves. Keep one use of SLACK when
    * sizing maxUses for small memos (the pin then outlives the last
    * consumer until app end, which a ~MB-scale memo can afford) so an
    * added consumer can never land exactly on the retire edge.
    */
  private final class CrossQueryMemo(maxUses: Int,
      build: (SparkSession, String) => DataFrame) {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(Int, String), (DataFrame, Int)]()
    private val uses =
      new java.util.concurrent.ConcurrentHashMap[(Int, String), Integer]()
    // checkpoints retired by maxUses expiry whose blocks a NON-sweeping
    // harness would otherwise leak until app end (ADVICE r10): the
    // unpersist is deferred to the next rebuild for the same key — the
    // expiring consumer's plan still reads the blocks, so an immediate
    // unpersist would break it — bounding the leak to ONE retired
    // checkpoint per key instead of one per expiry
    private val retired =
      new java.util.concurrent.ConcurrentHashMap[(Int, String), Integer]()
    // belt-and-braces on the SEQUENCING CONTRACT (ADVICE r11): the
    // deferred-retire unpersist is only safe when each key is used by
    // exactly one strictly-sequential caller. Record the first thread
    // to touch a key; if any OTHER thread ever touches it, taint the
    // key — a tainted key's retired checkpoint is left resident (a
    // bounded one-checkpoint leak) instead of being yanked from under
    // a concurrent consumer whose plan may not have executed yet.
    private val owner =
      new java.util.concurrent.ConcurrentHashMap[(Int, String), Thread]()
    private val tainted =
      java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()

    def apply(s: SparkSession, dir: String): DataFrame = {
      val sid = System.identityHashCode(s)
      val key = (sid, dir)
      val prevOwner = owner.putIfAbsent(key, Thread.currentThread())
      if (prevOwner != null && (prevOwner ne Thread.currentThread()) &&
          tainted.add(key))
        System.err.println(
          "[graft] CrossQueryMemo: concurrent use observed for key " +
            s"$key — deferred-retire unpersist disabled for it " +
            "(bounded leak chosen over a possibly-broken reader)")
      val (df, cpId) = cache.computeIfAbsent(key, _ => {
        Option(retired.remove(key)).foreach(old =>
          if (!tainted.contains(key))
            s.sparkContext.getPersistentRDDs.get(old.intValue)
              .foreach(_.unpersist(false)))
        val before = s.sparkContext.getPersistentRDDs.keySet
        val cp = build(s, dir).localCheckpoint(true)
        // pin the checkpoint's OWN rdd, read off its LogicalRDD plan — no
        // diff-the-global-set heuristic that concurrent persists could
        // misdirect at an unrecomputable block (ADVICE r3)
        val id = org.apache.spark.sql.graftbridge.PlanBridge.checkpointRddId(cp)
          .getOrElse(sys.error("eager localCheckpoint did not produce a LogicalRDD plan"))
        pinned.add((sid, id))
        // release the build's internal checkpoints. The sweep set is
        // snapshot-diffed, so under concurrency it can contain OTHER
        // threads' blocks — filter it against the global pin set (all
        // sessions'), because a concurrent thread's eager localCheckpoint
        // is unrecomputable and must never be swept; what remains is
        // recomputable and a redundant unpersist is harmless
        val pinnedNow = new java.util.HashSet[Int]()
        pinned.forEach(t => pinnedNow.add(t._2))
        (s.sparkContext.getPersistentRDDs.keySet -- before - id)
          .filterNot(pinnedNow.contains)
          .foreach(i =>
            s.sparkContext.getPersistentRDDs.get(i).foreach(_.unpersist(false)))
        // a memo orphaned by an unpaired run (e.g. SPARK_GRAFT_ONLY=q14
        // alone) is dropped when its context stops, releasing the pin
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            cache.remove(key); uses.remove(key); pinned.remove((sid, id))
            retired.remove(key)
          }
        })
        (cp, id)
      })
      if (uses.merge(key, Int.box(1),
          (a: Integer, b: Integer) => Int.box(a.intValue + b.intValue))
          .intValue >= maxUses) {
        cache.remove(key)
        uses.remove(key)
        pinned.remove((sid, cpId))
        retired.put(key, Int.box(cpId))
      }
      df
    }
  }

  // THE shared graph fixture: ~40 heavy graph queries all start from
  // the same canonical C10 co-purchase edge set (lineitem self-join +
  // distinct, measured ~0.85 s/build at sf0.1 — ~34 s of pure fixture
  // rebuild across the bench). One eager checkpoint (~2 MB at sf0.1),
  // every consumer reads blocks; at 100 TB this is the shared staging
  // table a pipeline materializes once per day, not a bench trick.
  // maxUses generously covers the consumer count; the app-end listener
  // releases an over-pinned memo.
  private val c10Memo = new CrossQueryMemo(64,
    (s, dir) => GraphFixtures.coPurchase10(s, dir))
  private def c10Fixture(s: SparkSession, dir: String): DataFrame =
    c10Memo(s, dir)

  // q225 + q226 + q230 + q236 (+1 slack per the sequencing contract):
  // the landmark distance index is built once (build-once/query-many —
  // q212's discipline for distances)
  private val landmarkMemo = new CrossQueryMemo(5, (s, dir) =>
    graft.operators.Traversals.landmarkDistances(c10Fixture(s, dir), 8)
      .coalesce(s.sparkContext.defaultParallelism))

  // q231 + q239 (+1 slack): the BASE-graph (tag ≠ 8) landmark index is
  // the shared starting point of both insert-maintenance legs — the
  // ad-hoc-delta one and the changelog-driven one
  private val baseLandmarkMemo = new CrossQueryMemo(3, (s, dir) => {
    val e = c10Fixture(s, dir).withColumn("tag", edgeTag).cutLineage()
    graft.operators.Traversals.landmarkDistances(
      e.where(col("tag") =!= 8).select("src", "dst"), 8)
      .coalesce(s.sparkContext.defaultParallelism)
  })

  // q14/q15 (through the adjacency memo's build) + q17 + q76 + q90:
  // FOUR consumers of the one canonical full co-purchase pair set —
  // the lineitem self-join + distinct was paid per consumer before
  // (r13, guide §2.4: share the exchange, compute the upstream once)
  private val coPurchasePairsMemo = new CrossQueryMemo(4,
    (s, dir) => GraphFixtures.coPurchase(s, dir))

  // q14 + q15: two statistics over one oriented+adjacency relation
  private val c10AdjMemo = new CrossQueryMemo(2,
    (s, dir) => Triangles.adjacency(coPurchasePairsMemo(s, dir)))
  // q163 + q164: the condensation re-reads q163's SCC decomposition.
  // The decomposition is a union of ~|outer rounds| per-round checkpoint
  // frames — coalesce before the memo's eager checkpoint so the pinned
  // copy is a handful of blocks, not hundreds of near-empty partitions
  private val directedSccMemo = new CrossQueryMemo(2,
    (s, dir) => graft.operators.Scc.stronglyConnectedComponents(
      GraphFixtures.directedParts(s, dir))
      .coalesce(s.sparkContext.defaultParallelism))

  // q188 + q189 + q209: three consumers of ONE Borůvka forest of the
  // weighted C10 graph (structure summary, single-linkage cut, and the
  // decremental update's old forest respectively) — the forest is
  // ≤|V|−1 rows and a union of per-round checkpoint frames, so coalesce
  // before the memo's eager checkpoint (q163/q164's rule)
  private val msfMemo = new CrossQueryMemo(3, (s, dir) => {
    val ew = c10Fixture(s, dir)
      .select(col("src"), col("dst"), edgeWeight.as("weight"))
    SpanningForest.boruvka(ew).coalesce(s.sparkContext.defaultParallelism)
  })

  private def c10Adjacency(s: SparkSession, dir: String): DataFrame =
    c10AdjMemo(s, dir)

  // q232 + q237 + q238 + q241 + q242 + q248 + q255 + q256 + q257 +
  // q258 (+1 slack): the maintenance carve-outs and the
  // component-local operators consult the SAME supergraph
  // decomposition (base ∪ alive-inserts = the full C10 — the
  // stored-labels production path the operators' `labels` param
  // exists for, the q209 msfMemo discipline)
  private val c10SuperLabelsMemo = new CrossQueryMemo(11, (s, dir) =>
    ConnectedComponents.auto(c10Fixture(s, dir))
      .coalesce(s.sparkContext.defaultParallelism))

  // q211 + q215 + q232 + q237 + q238 + q239 + q242 + q248 + q253 +
  // q254 + q255 + q256 + q257 + q258 + q264 + q265 (+1 slack per the
  // sequencing contract): all resolve the IDENTICAL changelog over
  // the tagged C10 edge set (cdcChangelog reads only src/dst/tag) —
  // ONE 4-trigger keyed-state replay, sixteen maintenance consumers
  // (triangles, MSF, coreness, trussness, communities, landmarks,
  // densest, bipartiteness, warm PageRank, warm HITS, HyperBall,
  // distance distribution, harmonic, clustering, assortativity,
  // transitivity)
  private val c10CdcMemo = new CrossQueryMemo(17, (s, dir) =>
    graft.streaming.StreamingOps.replayEdgeCdc(cdcChangelog(
      c10Fixture(s, dir).withColumn("tag", edgeTag))))

  /** The shared changelog-resolution preamble of the C10 maintenance
    * family (q211/q232/q237): (base, inserts, deletes) per the
    * q210/q215 identity — base = tag ≠ 8 edges, the resolved
    * changelog's alive keys insert, its tombstoned keys delete. ONE
    * definition so the convention can never silently diverge across
    * consumers (review finding r11).
    */
  private def c10CdcSplits(s: SparkSession,
                           dir: String): (DataFrame, DataFrame, DataFrame) = {
    val te = c10Fixture(s, dir).withColumn("tag", edgeTag).cutLineage()
    val fin = c10CdcMemo(s, dir)
    (te.where(col("tag") =!= 8).select("src", "dst"),
      fin.where(col("alive") === 1).select("src", "dst"),
      fin.where(col("alive") === 0).select("src", "dst"))
  }

  /** THE multiplicative edge hash (q191's family) — the one definition
    * every weighted/tagged fixture derives from, so the cross-query
    * and cross-engine agreement (msfMemo weights ≡ q209's deletion
    * selector ≡ the oracle strings) is structural, not five hand-kept
    * copies.
    */
  private def edgeWeight: org.apache.spark.sql.Column = {
    val t31 = lit(2147483648L)
    pmod(pmod(col("src") % t31 * 31 + col("dst"), t31)
      * lit(2654435761L), t31)
  }

  /** q191's deterministic edge tag (0..9), replayable cross-engine. */
  private def edgeTag: org.apache.spark.sql.Column = edgeWeight % 10

  /** CDC changelog fixture over a tag-annotated edge set (shared by
    * q210/q211): tag 3 → tombstone (final dead); tag 4 → upsert then
    * tombstone (final dead); tag 8 → upsert of a NEW edge (final
    * alive); tag 9 → tombstone then upsert (RESURRECTION — final
    * alive, net no-op on the graph). Tags 0–7∖{3,4} never appear in
    * the changelog. `seq` strictly orders the ops per edge, so the
    * streamed latest-wins state is batch-split independent.
    */
  private def cdcChangelog(tagged: DataFrame): DataFrame = {
    def ops(t: Long, seq: Long, del: Long) =
      tagged.where(col("tag") === t).select(col("src"), col("dst"),
        lit(seq).as("seq"), lit(del).as("del"))
    ops(3, 1, 1)
      .unionByName(ops(4, 1, 0)).unionByName(ops(4, 2, 1))
      .unionByName(ops(8, 1, 0))
      .unionByName(ops(9, 1, 1)).unionByName(ops(9, 2, 0))
  }

  /** Deterministic provenance URLs for the documents fixture (it ships
    * a `source` tag but no URL): every 10th doc gets an uppercase
    * scheme + userinfo + explicit port variant so the host extractor's
    * full grammar is exercised, the rest a plain https URL. Both
    * branches normalize to the same lowercase host per (source, lang),
    * and the DuckDB oracles rebuild the identical strings.
    */
  /** The oracle-side twin of [[withProvenanceUrls]] / [[Corpus.urlHost]]
    * — ONE definition each, interpolated into every domain-curation
    * oracle (the CentralityDepth shared-constant discipline: if the
    * Spark side changes, these change with it or the hashes go red).
    */
  private val provenanceUrlSql: String =
    "CASE WHEN doc_id % 10 = 0 THEN 'HTTPS://user:pw@' || UPPER(source) || '.' || lang || " +
      "'.example.org:8443/a/' || CAST(doc_id AS VARCHAR) " +
      "ELSE 'https://' || source || '.' || lang || " +
      "'.example.org/d/' || CAST(doc_id AS VARCHAR) END"
  private val hostExtractSql: String =
    "LOWER(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1))"

  private def withProvenanceUrls(docs: DataFrame): DataFrame =
    docs.withColumn("url",
      when(col("doc_id") % 10 === 0,
        concat(lit("HTTPS://user:pw@"), upper(col("source")), lit("."),
          col("lang"), lit(".example.org:8443/a/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("https://"), col("source"), lit("."),
          col("lang"), lit(".example.org/d/"), col("doc_id").cast("string"))))

  /** Deterministic planted PII for the documents fixture (the synthetic
    * text carries none): every 5th doc gains an email, every 7th an
    * IPv4 literal, every 11th an international-format phone — built
    * from (doc_id, source, lang) so the DuckDB oracle rebuilds the
    * identical strings. Overlaps (doc_id divisible by several) stack,
    * so multi-class documents are exercised too.
    */
  private def withPlantedPii(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" contact "), col("source"), lit("@mail-"), col("lang"),
          lit(".example.com"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" from 10."), (col("doc_id") % 200).cast("string"), lit("."),
          (col("doc_id") % 250).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call +"), (lit(100) + col("doc_id") % 900).cast("string"),
          lit("-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))))

  /** Deterministic WITHIN-document repeats for the documents fixture
    * (its natural text repeats across documents, not within one):
    * every 6th doc appends a doc-specific 6-token phrase three times,
    * so each period-offset-0/1 5-gram occurs exactly 3 times inside
    * that one document (nd = 1 — invisible to the cross-document
    * criterion, the capability q160 exists to pin). Tokens embed the
    * doc_id, so planted phrases never collide across documents.
    */
  private def withSelfRepeats(docs: DataFrame): DataFrame = {
    val ph = concat_ws(" ", Seq("a", "b", "c", "d", "e", "f").map(sfx =>
      concat(lit("sr"), col("doc_id").cast("string"), lit(sfx))): _*)
    docs.withColumn("text",
      when(col("doc_id") % 6 === 0, concat_ws(" ", col("text"), ph, ph, ph))
        .otherwise(col("text")))
  }

  /** The oracle-side twin of [[withSelfRepeats]] (shared-constant
    * discipline, see [[provenanceUrlSql]]).
    */
  private val selfRepeatSql: String = {
    val ph = Seq("a", "b", "c", "d", "e", "f")
      .map(s => s"'sr' || CAST(doc_id AS VARCHAR) || '$s'")
      .mkString(" || ' ' || ")
    s"CASE WHEN doc_id % 6 = 0 THEN text || ' ' || $ph || ' ' || $ph || ' ' || $ph " +
      "ELSE text END"
  }

  /** The oracle-side twin of [[withPlantedPii]] (shared-constant
    * discipline, see [[provenanceUrlSql]]).
    */
  private val plantedPiiSql: String =
    "text || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ' contact ' || source || '@mail-' || lang || " +
      "'.example.com' ELSE '' END) || " +
      "(CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || " +
      "CAST(doc_id % 250 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END) || " +
      "(CASE WHEN doc_id % 11 = 0 THEN ' call +' || CAST(100 + doc_id % 900 AS VARCHAR) || " +
      "'-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)"

  /** [[withPlantedPii]] extended with the r8 classes: every 13th doc a
    * Luhn-VALID card (separator varies by parity — the public 4111…
    * test number), every 19th a Luhn-INVALID card-shaped 16-digit run
    * (counts must skip it, redaction must still take it), every 17th an
    * SSN-shaped id built from doc_id. The DuckDB oracle rebuilds the
    * identical strings.
    */
  private def withPlantedPiiWide(docs: DataFrame): DataFrame =
    withPlantedPii(docs).withColumn("text", concat(col("text"),
      when(col("doc_id") % 13 === 0,
        when(col("doc_id") % 2 === 0, lit(" pay 4111 1111 1111 1111 now"))
          .otherwise(lit(" pay 4111-1111-1111-1111 now"))).otherwise(lit("")),
      when(col("doc_id") % 19 === 0, lit(" ref 1234 5678 9012 3456 x"))
        .otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        concat(lit(" ssn "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))))

  /** The oracle-side twin of [[withPlantedPiiWide]]. */
  private val plantedPiiWideSql: String =
    s"($plantedPiiSql) || " +
      "(CASE WHEN doc_id % 13 = 0 THEN (CASE WHEN doc_id % 2 = 0 " +
      "THEN ' pay 4111 1111 1111 1111 now' ELSE ' pay 4111-1111-1111-1111 now' END) " +
      "ELSE '' END) || " +
      "(CASE WHEN doc_id % 19 = 0 THEN ' ref 1234 5678 9012 3456 x' ELSE '' END) || " +
      "(CASE WHEN doc_id % 17 = 0 THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') " +
      "|| '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') " +
      "|| '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)"

  /** vec_id MEMBERSHIP equality — the deletion gates' completeness
    * check (q229/q235). A row-count comparison would accept
    * compensating errors (one surviving tombstone + one dropped
    * survivor nets to equal counts — review finding r11); the marker
    * full-outer catches any asymmetry.
    */
  private def idSetEq(a: DataFrame, b: DataFrame): Boolean =
    a.select(col("vec_id")).withColumn("l", lit(1))
      .join(b.select(col("vec_id")).withColumn("r", lit(1)),
        Seq("vec_id"), "full")
      .where(col("l").isNull || col("r").isNull)
      .isEmpty

  /** Driver-visible recall gate for ANN operators whose raw top-k output
    * is hash-family-dependent: computes recall of `approx` against the
    * exact result inside the query and emits ONE deterministic row the
    * DuckDB oracle can predict. A recall collapse (broken signatures,
    * broken cell probing) flips `recall_ok` and the driver hash goes red.
    */
  private def recallGate(exact: DataFrame, approx: DataFrame, bound: Double): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    e.join(a, Seq("query_id", "neighbor_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count("*").as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count("*") >= bound)
          .as("recall_ok"))
  }

  /** Recall/precision gate for bucketed PAIR operators (near-dup): the
    * approx path's verify step applies the exact formula, so its pairs
    * must be a subset of the exact audit's (n_false_pos is 0 BY
    * CONSTRUCTION and the oracle hard-codes it); a recall collapse
    * (broken signatures, broken banding) flips `recall_ok` and the
    * driver hash goes red. Empty exact set → trivially ok.
    */
  private def pairRecallGate(exact: DataFrame, approx: DataFrame,
                             keys: Seq[String], bound: Double): DataFrame = {
    val e = exact.select(keys.map(col): _*).withColumn("ex", lit(1))
    val a = approx.select(keys.map(col): _*).withColumn("ap", lit(1))
    e.join(a, keys, "full_outer")
      .agg(sum(coalesce(col("ex"), lit(0))).cast("long").as("n_exact"),
        sum(when(col("ex").isNull, 1).otherwise(0)).cast("long").as("n_false_pos"),
        coalesce(
          sum(when(col("ex").isNotNull && col("ap").isNotNull, 1).otherwise(0))
            .cast("double") / sum(coalesce(col("ex"), lit(0))) >= bound,
          lit(true)).as("recall_ok"))
  }

  /** Cluster-level parity gate (q122's recall gate one level up): the
    * approx clustering's pair source is a SUBSET of the exact one, so
    * every approx cluster must sit inside exactly one exact cluster
    * (refinement_ok — structural, a violation means broken CC) and the
    * per-vector label agreement tracks pair recall (agreement_ok). One
    * deterministic row the DuckDB oracle predicts from the vec count.
    */
  private def clusterParityGate(exact: DataFrame, approx: DataFrame,
                                bound: Double): DataFrame = {
    val e = exact.select(col("vec_id"), col("cluster").as("c_exact"))
    val a = approx.select(col("vec_id"), col("cluster").as("c_approx"))
    val joined = e.join(a, Seq("vec_id"))
    val agree = joined.agg(count(lit(1)).as("n_vecs"),
      coalesce(avg(when(col("c_exact") === col("c_approx"), 1.0).otherwise(0.0))
        >= bound, lit(true)).as("agreement_ok"))
    val refine = joined.groupBy("c_approx")
      .agg(countDistinct(col("c_exact")).as("nx"))
      .agg(coalesce(max(col("nx")) <= 1, lit(true)).as("refinement_ok"))
    agree.crossJoin(refine)
  }

  private def revenuePerNation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val cst = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val nat = Tables.nation(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(cst, o("o_custkey") === cst("c_custkey"))
      .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey") &&
        sup("s_nationkey") === cst("c_nationkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .withColumnRenamed("n_name", "nation")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- core graph-stream operators (O2–O15) over E ----
    "q01_vertices" -> ((s, dir) => E(s, dir).getVertices),
    // one scan, one partial+final agg: endpoints exploded once, edge
    // count recovered as half the endpoint count
    "q02_counts" -> ((s, dir) =>
      E(s, dir).edges
        .select(explode(array(col("src"), col("dst"))).as("id"))
        .agg(count_distinct(col("id")).as("n_vertices"),
          (count(lit(1)) / 2).cast("long").as("n_edges"))),
    "q03_degrees" -> ((s, dir) => E(s, dir).getDegrees),
    // the skew-safe two-phase variant must be value-identical to q03
    "q91_salted_degrees" -> ((s, dir) =>
      graft.operators.Salting.saltedDegrees(GraphFixtures.edgeStream(s, dir))),
    // generic-K ingest with COMPOSITE keys: line ids (orderkey,
    // linenumber) ↔ part-supplier pairs (partkey, suppkey) dictionary-
    // encoded to dense Longs, degrees computed on the encoded graph,
    // decoded back to the raw keys — the full ingest→operate→decode
    // loop. The two endpoint sets are DIFFERENT entity spaces, so they
    // carry distinct domain tags: (orderkey=1, linenumber=1) and
    // (partkey=1, suppkey=1) must stay two vertices (ADVICE r3)
    "q92_composite_key" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      val (enc, dict) = graft.sources.Sources.dictionaryEncodeComposite(
        li, Seq("l_orderkey", "l_linenumber"), Seq("l_partkey", "l_suppkey"),
        domains = Some(("line", "ps")))
      graft.sources.Sources.decodeKeys(GraphStream(enc).getDegrees, dict, "id")
        .select(col("key.dom").as("dom"), col("key.k0").as("k0"),
          col("key.k1").as("k1"), col("degree"))
    }),
    "q04_inout_degrees" -> ((s, dir) => {
      val gs = E(s, dir)
      gs.getOutDegrees.join(gs.getInDegrees, Seq("id"), "full_outer")
        .na.fill(0, Seq("out_degree", "in_degree"))
    }),
    "q05_map_edges" -> ((s, dir) =>
      E(s, dir).mapEdges(col("value") * (lit(1) - col("discount")))
        .edges.groupBy("src").agg(round(sum("value"), 6).as("total"))),
    "q06_filter_edges" -> ((s, dir) =>
      E(s, dir).filterEdges(col("value") > 25)
        .edges.agg(count("*").as("n_edges"), round(sum("value"), 6).as("sum_value"))),
    "q07_filter_vertices" -> ((s, dir) =>
      E(s, dir).filterVertices(id => id % 10 =!= 0).numberOfEdges),
    "q08_distinct" -> ((s, dir) => E(s, dir).distinct.numberOfEdges),
    "q09_undirected_degrees" -> ((s, dir) => E(s, dir).undirected.getDegrees),
    "q10_union_degrees" -> ((s, dir) => {
      val split = lit("1998-07-01").cast("timestamp")
      val e = GraphFixtures.edgeStream(s, dir)
      GraphStream(e.filter(col("ts") < split))
        .union(GraphStream(e.filter(col("ts") >= split)))
        .getDegrees
    }),
    // ---- windows (O17/O18) ----
    "q11_window_max" -> ((s, dir) =>
      E(s, dir).slice("30 days", EdgeDirection.Out)
        .reduceOnEdges(max(col("value")).as("max_value"))
        .withColumnRenamed("vid", "src")),
    "q12_window_fold" -> ((s, dir) =>
      E(s, dir).slice("30 days", EdgeDirection.Out)
        .foldNeighbors(count("*").as("cnt"), sum(col("value")).as("sum_value"))
        .withColumnRenamed("vid", "src")),
    // ---- summary aggregations (O19–O22) ----
    "q13a_cc_e" -> ((s, dir) =>
      SummaryAggregations.connectedComponents(GraphFixtures.edgeStream(s, dir))),
    "q13b_cc_c10" -> ((s, dir) =>
      SummaryAggregations.connectedComponents(c10Fixture(s, dir))),
    "q17_bipartite" -> ((s, dir) => {
      val bC = SummaryAggregations.bipartiteness(coPurchasePairsMemo(s, dir))
        .withColumn("graph", lit("C"))
      val bE = SummaryAggregations.bipartiteness(GraphFixtures.edgeStream(s, dir))
        .withColumn("graph", lit("E"))
      bC.unionByName(bE).select("graph", "bipartite")
    }),
    // the fully-partitioned iterative path (no single-task summary) must
    // reach the same verdicts on the same two graphs — q17's oracle.
    // Fused (g, id)-keyed propagation over both graphs at once: measured
    // equal to two separate runs at sf0.1 (13.6 vs 14.1 s isolated —
    // E's shallow diameter limits the round saving on THIS pair) with
    // half the driver actions; the fused form's real win is many small
    // graphs per call (see its SummarySpec test)
    "q90_bipartite_iterative" -> ((s, dir) => {
      val tagged = coPurchasePairsMemo(s, dir)
        .select(lit("C").as("g"), col("src"), col("dst"))
        .unionByName(GraphFixtures.edgeStream(s, dir)
          .select(lit("E").as("g"), col("src"), col("dst")))
      graft.operators.Bipartiteness.iterativeByGroup(tagged)
        .toDF("graph", "bipartite")
    }),
    // ---- triangles (O24/O25) ----
    // q14 and q15 consume the SAME oriented+adjacency relation; in one
    // session (the bench/verify shape) the degree/orient/adjacency build
    // runs once and the second query reuses its checkpoint
    "q14_triangles" -> ((s, dir) =>
      Triangles.globalCountFrom(c10Adjacency(s, dir))),
    "q15_triangles_per_vertex" -> ((s, dir) =>
      Triangles.perVertexCountsFrom(c10Adjacency(s, dir))),
    "q16_window_triangles" -> ((s, dir) =>
      Triangles.countPerWindow(GraphFixtures.coPurchaseWindowed(s, dir, 5184000L))),
    // butterfly (2x2 biclique) count on the BIPARTITE part-supplier
    // graph — the bipartite cohesion motif (triangles cannot cross a
    // bipartition); wedges pivot on PARTS, the small-degree side
    // (Sum deg^2 is 10x smaller than pivoting on hub suppliers —
    // measured 113 s vs seconds at sf0.1)
    "q149_butterflies" -> ((s, dir) =>
      Triangles.butterflies(
        Tables.lineitem(s, dir)
          .select(col("l_partkey").as("src"), col("l_suppkey").as("dst")),
        "left")),
    // per-supplier butterfly participation (the bipartite cohesion /
    // burst-account signal): supplier s's degree = sum over other
    // suppliers of C(common parts, 2); same part-side wedge pivot
    "q150_butterfly_degrees" -> ((s, dir) =>
      Triangles.butterflyDegrees(
        Tables.lineitem(s, dir)
          .select(col("l_partkey").as("src"), col("l_suppkey").as("dst")),
        "left")),
    // ---- global aggregate (O15) ----
    "q18_histogram" -> ((s, dir) =>
      E(s, dir).edges
        .groupBy((floor(col("value") / 5) * 5).cast("long").as("bin"))
        .agg(count("*").as("cnt"))),
    // ---- LLM-pipeline extensions ----
    "q19_similarity_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") <= 9), 5)
    }),
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exactCountsByLang(Tables.documents(s, dir))),
    "q21_text_tokens" -> ((s, dir) =>
      TextStats.topTokens(Tables.documents(s, dir), 10)),
    "q22_events_windows" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          (expr("ts_ns div 3600000000000") * 3600).cast("long").as("win"))
        .agg(count("*").as("cnt"), round(sum(col("value")), 6).as("sum_value"),
          max(get_json_object(col("props"), "$.k").cast("long")).as("max_k"))),
    "q23_tpch_q1" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count("*").as("cnt"))),
    "q24_revenue_nation" -> ((s, dir) => revenuePerNation(s, dir)),
    "q25_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), 2, 0.5)),
    "q26_embedding_neardup" -> ((s, dir) =>
      Similarity.cosinePairs(Tables.embeddings(s, dir), 0.3)),
    // the 100 TB sibling of q26: LSH-bucketed candidates + exact-cosine
    // verify, gated in-query against the exact all-pairs audit (the
    // q33/q36 recall-gate pattern) — the scale-safe plan is the
    // oracle-checked one, the crossJoin audit is its in-query referee
    "q122_neardup_bucketed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      pairRecallGate(
        Similarity.cosinePairs(emb, 0.3),
        Similarity.cosinePairsBucketed(emb, 0.3),
        Seq("vec_a", "vec_b"), 0.4)
    }),
    // semantic dedup end-to-end: CC cluster labels + canonical survivors
    // over the verified cosine-pair graph (q50's shape on the embedding
    // side; pair source pluggable — bucketed at scale, exact audit here)
    "q131_semantic_clusters" -> ((s, dir) =>
      Similarity.semanticClusters(Tables.embeddings(s, dir), 0.3)),
    // q131's SCALE sibling (q122's gate pattern one level up): the green
    // path is clustersFromPairs over the fence-free BUCKETED pair source
    // (adaptive LSH sizing), refereed in-query against the audit-path
    // clustering. Bucketed pairs ⊆ exact pairs ⇒ bucketed clusters
    // REFINE the exact ones (refinement_ok is structural); agreement
    // tracks pair recall (≥99.9% by the sizing calculus, bound at 0.9)
    "q137_semantic_clusters_bucketed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      clusterParityGate(
        Similarity.semanticClusters(emb, 0.3),
        Similarity.clustersFromPairs(emb, Similarity.cosinePairsBucketed(emb, 0.3)),
        0.9)
    }),
    "q27_text_quality" -> ((s, dir) =>
      TextStats.qualityStats(Tables.documents(s, dir))),
    // C4-style cleaning audit: digit-mask + whitespace-collapse + trim,
    // raw/clean lengths and cleaned token count per doc
    "q96_text_clean" -> ((s, dir) =>
      TextStats.cleaningStats(Tables.documents(s, dir))),
    // temperature mixture (T=2): per-source keep quotas ∝ sqrt, the
    // largest source at 80%, smaller sources upsampled toward flat
    "q107_temperature_mix" -> ((s, dir) =>
      graft.functions.Corpus.temperatureMix(Tables.documents(s, dir), maxKeep = 0.8)),
    // exact-k stratified sample under the engine-portable priority hash
    "q97_stratified_sample" -> ((s, dir) =>
      graft.functions.Corpus.stratifiedSample(Tables.documents(s, dir), 5)),
    // embedding-level decontamination: bench side = vec_id <= 9 (the q19
    // query convention), threshold at the q26 near-dup cut
    "q98_embedding_decontam" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // one id space sliced in two → self-pairs must not count as hits
      graft.functions.Corpus.embeddingContamination(
        emb.where(col("vec_id") > 9), emb.where(col("vec_id") <= 9), 0.3,
        excludeSameId = true)
    }),
    // ---- scalable CC path, same oracle as q13b ----
    "q28_cc_iterative" -> ((s, dir) =>
      ConnectedComponents.iterative(c10Fixture(s, dir))),
    // ---- hash-family-sensitive operators: oracle-checked via portable
    // hashes (q29), exact-pair parity (q30), engine-replayable fixed-point
    // scoring (q32) or recall-gate rows (q33/q36); q31/q35/q40 stay
    // rows-only (simhash values, insertion-order spanner, float pagerank)
    "q29_fingerprints" -> ((s, dir) =>
      TextStats.fingerprints(Tables.documents(s, dir))),
    // winnowing (MOSS) fingerprint digest — portable polynomial k-gram
    // hashes, window-min selection, order-free integer digest
    "q101_winnowing" -> ((s, dir) =>
      TextStats.winnowStats(Tables.documents(s, dir))),
    // winnow-set Jaccard pairs over df-capped (stop-fingerprint-free)
    // selected sets — winnowing's dedup payoff, deterministic end to end
    "q102_winnow_pairs" -> ((s, dir) =>
      TextStats.winnowJaccardPairs(Tables.documents(s, dir), 0.5, dfCap = 10)),
    "q30_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(Tables.documents(s, dir), 2, 0.5)),
    "q31_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), 3)),
    "q32_langid" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextStats.LangId.predict(docs, TextStats.LangId.fit(docs))
    }),
    // multi-probe (Hamming-1) lshTopK: the query-side fanout lifts
    // wide-angle recall without more tables — measured 0.98 → 1.0 at
    // sf0.001 (spec) — so the in-query gate rises 0.4 → 0.7
    "q33_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") <= 9)
      recallGate(Similarity.bruteForceTopK(emb, q, 5),
        Similarity.lshTopK(emb, q, 5, probeHamming1 = true), 0.7)
    }),
    "q34_multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.syntheticMedia(Tables.documents(s, dir)))
        .toDF().select(col("id"), col("kind"), col("n_bytes"))),
    "q35_spanner" -> ((s, dir) =>
      SummaryAggregations.spanner(c10Fixture(s, dir), 3)),
    "q36_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") <= 9)
      recallGate(Similarity.bruteForceTopK(emb, q, 5),
        graft.functions.IVF.annTopK(emb, q, 5), 0.4)
    }),
    // product-quantized ANN (Jégou et al. 2011): the searched index is
    // M=8 small ints per vector (16-64x footprint cut vs raw floats),
    // ADC scoring = 8 table lookups per pair, exact re-rank of the
    // top-64 shortlist; gate bound 0.5 measured with margin on the
    // ADVERSARIAL uniform-random fixture (real corpora cluster)
    "q162_ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") <= 9)
      recallGate(Similarity.bruteForceTopK(emb, q, 5),
        graft.functions.PQ.annTopK(emb, q, 5, shortlist = 64), 0.5)
    }),
    // O20 transientState=true: per-window summary aggregation
    "q37_window_cc" -> ((s, dir) =>
      SummaryAggregations.connectedComponentsPerWindow(
        GraphFixtures.coPurchaseWindowed(s, dir, 7776000L, orderMod = 10L))),
    // gap-based sessionization over the event stream (30-min idle gap)
    // retention cohorts: users grouped by signup week, counted in every
    // later week they were active — integer epoch-weeks (µs div week)
    // so both engines bucket identically, no calendar semantics
    "q119_retention_cohorts" -> ((s, dir) => {
      val wk = expr("ts_ns div 1000 div 604800000000").as("wk")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), wk)
      val cohort = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      ev.join(cohort, Seq("user_id"))
        .where(col("wk") >= col("cohort_wk"))
        .groupBy(col("cohort_wk"), col("wk").as("activity_wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),
    "q38_sessions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ns")
      Tables.events(s, dir)
        .withColumn("prev", lag(col("ts_ns"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("ts_ns") - col("prev") > 1800000000000L, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id")
        .agg(countDistinct("sid").as("n_sessions"), count("*").as("n_events"))
    }),
    // temporal wedges: ordered pairs of edge EVENTS at one supplier
    // within a 7-day horizon (0 < Δt ≤ 7d) — the temporal-motif
    // primitive. The time predicate is a RANGE join, executed scalably
    // as a bucketed equi-join: the earlier edge explodes into its own
    // and the next horizon bucket, partners join on (vertex, bucket),
    // the exact window filters after — pair volume tracks per-bucket
    // co-activity (Σ deg_bucket²), never global Σ deg² (SCALE.md row)
    "q121_temporal_wedges" -> ((s, dir) => {
      val h = 7L * 86400
      val e = GraphFixtures.edgeStream(s, dir)
        .select(col("dst").as("v"), unix_timestamp(col("ts")).as("t"))
      val e1 = e.select(col("v"), col("t").as("t1"),
        explode(array(expr(s"t div $h"), expr(s"t div $h + 1"))).as("bk"))
      val e2 = e.select(col("v"), col("t").as("t2"), expr(s"t div $h").as("bk"))
      e1.join(e2, Seq("v", "bk"))
        .where(col("t2") > col("t1") && col("t2") - col("t1") <= h)
        .groupBy(col("v").as("supplier"))
        .agg(count(lit(1)).as("n_wedges"))
    }),
    // δ-constrained 3-edge temporal triangle motifs over the temporal
    // co-purchase events (δ = 90 days): two bucketed range joins — the
    // q121 wedge primitive chained to closure, never Σ deg² globally
    "q123_temporal_triangles" -> ((s, dir) =>
      Triangles.temporalTriangles(
        GraphFixtures.coPurchaseTemporal(s, dir), 7776000L)),
    // sequence analytics over sessions: per (from, to) event-type
    // transition counts between CONSECUTIVE events inside one session
    // (q38's 30-minute gap contract) — the Markov-bigram table path
    // analysis starts from; (ts, event_id) ordering keeps ties exact
    "q120_event_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts_ns"), 1).over(w))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_ts").isNotNull &&
          col("ts_ns") - col("prev_ts") <= 1800000000000L)
        .groupBy(col("prev_type").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
    }),
    // 2-hop ego-network sizes for the sampled starts
    "q106_ego_sizes" -> ((s, dir) => {
      val e = GraphFixtures.edgeStream(s, dir)
      val starts = e.select(col("src").as("id")).where(col("id") % 100 === 0).distinct()
      Traversals.egoSizes(e, starts, 2)
    }),
    // deterministic hash walks (node2vec-style sampling, engine-
    // reproducible): 3 hops from every part vertex divisible by 100
    "q105_hash_walks" -> ((s, dir) => {
      val e = GraphFixtures.edgeStream(s, dir)
      val starts = e.select(col("src").as("id")).where(col("id") % 100 === 0).distinct()
      Traversals.hashWalks(e, starts, 3)
    }),
    // temporal snapshot diff: per-vertex degree before/after a split
    // time, in ONE scan + ONE agg shuffle (conditional sums — no
    // per-window scan, no join of the two snapshots)
    "q104_snapshot_diff" -> ((s, dir) => {
      val split = lit("1997-01-01").cast("timestamp")
      GraphFixtures.edgeStream(s, dir)
        .select(col("ts"), explode(array(col("src"), col("dst"))).as("id"))
        .groupBy("id").agg(
          sum(when(col("ts") < split, 1L).otherwise(0L)).as("deg_before"),
          sum(when(col("ts") >= split, 1L).otherwise(0L)).as("deg_after"))
        .select(col("id"), col("deg_before"), col("deg_after"),
          (col("deg_after") - col("deg_before")).as("delta"))
    }),
    // deterministic synchronous label-propagation communities (3 rounds,
    // smallest-label tie-break) on the C10 co-purchase graph
    "q110_label_propagation" -> ((s, dir) =>
      graft.operators.Communities.labelPropagation(
        c10Fixture(s, dir), 3)),
    // exact modularity ingredients per q110 community
    "q111_community_stats" -> ((s, dir) => {
      val c10 = c10Fixture(s, dir)
      graft.operators.Communities.communityStats(c10,
        graft.operators.Communities.labelPropagation(c10, 3))
    }),
    // Louvain level-1: one synchronous greedy modularity-gain pass over
    // the q110 LPA labeling, exact-integer monotonicity gate — emitted
    // as the refined communities' modularity ingredients (q111's shape)
    "q112_louvain_refine" -> ((s, dir) => {
      val c10 = c10Fixture(s, dir)
      graft.operators.Communities.communityStats(c10,
        graft.operators.Communities.modularityRefine(c10,
          graft.operators.Communities.labelPropagation(c10, 3)))
    }),
    // FULL multi-level Louvain (2 levels × 2 parity-alternating gated
    // move passes + coarsening), emitted as the final communities'
    // exact-integer modularity ingredients — the oracle replays every
    // pass and the coarsening step for step
    "q124_louvain_multilevel" -> ((s, dir) => {
      val c10 = c10Fixture(s, dir)
      graft.operators.Communities.communityStats(c10,
        graft.operators.Communities.louvain(c10, 2, 2)
          .toDF("id", "label"))
    }),
    // WEIGHTED multi-level Louvain: level 1 starts on integer edge
    // weights (parallel co-purchases summed) instead of the unit
    // multiset — the move passes and gates were always weighted, this
    // exercises them from the first level; same stats output as q124
    "q148_louvain_weighted" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).where(col("l_orderkey") % 10 === 0)
      val pairs = li.select(col("l_orderkey").as("ok"), col("l_partkey"))
      val weighted = pairs.toDF("ok", "src").join(pairs.toDF("ok", "dst"), Seq("ok"))
        .where(col("src") < col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("weight"))
      graft.operators.Communities.communityStats(
        c10Fixture(s, dir),
        graft.operators.Communities.louvainWeighted(weighted, 2, 2)
          .toDF("id", "label"))
    }),
    // Louvain + Leiden connectivity refinement: after each level's
    // gated passes, every community is split into its connected parts
    // (min-member-id names) before coarsening — final communities are
    // internally connected by construction; same exact-integer replay
    "q141_louvain_leiden" -> ((s, dir) => {
      val c10 = c10Fixture(s, dir)
      graft.operators.Communities.communityStats(c10,
        graft.operators.Communities.louvainLeiden(c10, 2, 2)
          .toDF("id", "label"))
    }),
    // 7-day moving revenue window (RANGE frame over event time) — exact
    // integer cents so the frame sums are order-free in any engine
    "q108_moving_window" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("day_cents"),
          count(lit(1)).as("n"))
        .withColumn("day_s", unix_timestamp(col("day")))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("day_s")).rangeBetween(-6L * 86400L, 0L)
      daily.select(col("day_s").as("day"), col("day_cents"),
        sum(col("day_cents")).over(w).as("ma7_cents"),
        sum(col("n")).over(w).as("ma7_orders"))
    }),
    // JSON property extraction over the event stream (the dynamic-schema
    // path: props stays a JSON string until the query pulls a field)
    "q109_json_props" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("k").as("max_k"))),
    // ordered conversion funnel signup → click → purchase: stage k
    // requires an event strictly after the user's stage-(k−1) time.
    // Three user-keyed aggs — one shuffle partitioning reused throughout
    "q103_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts_ns"))
      val s1 = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_ns").as("t1"))
      val s2 = ev.where(col("event_type") === "click").join(s1, "user_id")
        .where(col("ts_ns") > col("t1"))
        .groupBy("user_id").agg(min("ts_ns").as("t2"))
      val s3 = ev.where(col("event_type") === "purchase").join(s2, "user_id")
        .where(col("ts_ns") > col("t2"))
        .groupBy("user_id").agg(min("ts_ns").as("t3"))
      s1.join(s2.select(col("user_id"), lit(1).as("h2")), Seq("user_id"), "left")
        .join(s3.select(col("user_id"), lit(1).as("h3")), Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1) + coalesce(col("h2"), lit(0)) + coalesce(col("h3"), lit(0)))
            .cast("long").as("stage"))
    }),
    // top-3 longest docs per language (rank-per-group)
    "q39_top_docs_per_lang" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_tokens").desc, col("doc_id").asc)
      docs.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select("lang", "rnk", "doc_id", "n_tokens")
    }),
    // snapshot PageRank via the GraphX bridge (rows-only)
    "q40_pagerank" -> ((s, dir) =>
      graft.operators.Snapshots.pageRank(c10Fixture(s, dir))
        .select(col("id"), round(col("rank"), 6).as("rank"))),
    // deterministic integer fixed-point PageRank (oracle-checkable, unlike
    // q40's float ranks): 10 rounds on symmetrized C10
    "q54_pagerank_fixed" -> ((s, dir) => {
      val c = c10Fixture(s, dir)
      val sym = c.unionByName(c.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.PageRank.fixedPoint(sym, 10)
    }),
    // sliding-window neighborhoods: 60-day windows every 30 days — each
    // edge lands in exactly two windows via the window generator (no
    // self-join); completes the slice() surface beyond the reference's
    // tumbling-only windows
    "q55_sliding_windows" -> ((s, dir) =>
      E(s, dir).slice("60 days", "30 days", EdgeDirection.Out)
        .foldNeighbors(count("*").as("cnt"), max(col("value")).as("max_value"))
        .withColumnRenamed("vid", "src")),
    // count-min-sketch heavy hitters, gated against exact counts (the
    // sketch-as-mergeable-summary pattern; order-independent counters)
    "q56_cms_heavy_hitters" -> ((s, dir) =>
      graft.functions.Sketches.cmsHeavyHitters(Tables.documents(s, dir))),
    // HLL++ distinct-count gate per language
    "q57_hll_distinct" -> ((s, dir) =>
      graft.functions.Sketches.hllDistinctGate(Tables.documents(s, dir))),
    // local clustering coefficient = triangles ∘ degrees composition
    "q58_clustering_coeff" -> ((s, dir) =>
      Triangles.clusteringCoefficients(c10Fixture(s, dir))),
    // single-source BFS distances from C10's min vertex id (frontier
    // expansion, one join per round — the distributed-BFS cost model)
    "q59_bfs" -> ((s, dir) => {
      val c = c10Fixture(s, dir)
      val source = c.agg(min(col("src"))).head().getLong(0)
      graft.operators.Traversals.bfsDepths(c, source)
    }),
    // sampled stress centrality: exact integer shortest-path counting
    // through each vertex (forward σ DP + backward DAG path counts) from
    // the 3 smallest vertex ids
    "q118_stress_centrality" -> ((s, dir) => {
      val c10 = c10Fixture(s, dir)
      val srcs = c10.select(explode(array(col("src"), col("dst"))).as("id"))
        .distinct().orderBy("id").limit(3).collect().map(_.getLong(0)).toSeq
      graft.operators.Centrality.stressCentrality(c10, srcs, CentralityDepth)
    }),
    // sampled Brandes betweenness: same sources and forward σ layers as
    // q118, fractional dependency split carried in truncated micro-units
    // so the backward pass replays bit-exact in any engine
    "q125_betweenness" -> ((s, dir) => {
      val c10 = c10Fixture(s, dir)
      val srcs = c10.select(explode(array(col("src"), col("dst"))).as("id"))
        .distinct().orderBy("id").limit(3).collect().map(_.getLong(0)).toSeq
      graft.operators.Centrality.betweennessCentrality(c10, srcs, CentralityDepth)
    }),
    // HITS hubs & authorities on directed C10: L-infinity (max) normalized
    // mutual reinforcement in integer micro-units (q54's exact-replay
    // contract — truncating division, no driver action inside the loop;
    // L1 was removed after the tier-2 smoke showed it underflows at scale)
    "q127_hits" -> ((s, dir) =>
      graft.operators.Hits.fixedPoint(c10Fixture(s, dir), 5)),
    // sampled harmonic closeness from the 3 smallest vertices: scale div d
    // summed over first-reach BFS layers (shares q118/q125's forward
    // machinery; harmonic form so unreachable pairs contribute 0)
    "q128_harmonic_closeness" -> ((s, dir) => {
      val c10 = c10Fixture(s, dir)
      val srcs = c10.select(explode(array(col("src"), col("dst"))).as("id"))
        .distinct().orderBy("id").limit(3).collect().map(_.getLong(0)).toSeq
      graft.operators.Centrality.harmonicCloseness(c10, srcs, CentralityDepth)
    }),
    // deterministic maximal matching: local-min handshake rounds (the
    // multilevel-coarsening primitive; ½-approx to maximum matching)
    "q132_maximal_matching" -> ((s, dir) =>
      graft.operators.Matching.maximalMatching(
        c10Fixture(s, dir), MatchingRounds)),
    // per-edge embeddedness (tie strength): common neighbors via the
    // k-truss support join, union size in exact integers, micro-unit
    // Jaccard; cn = 0 flags local bridges
    "q133_edge_embeddedness" -> ((s, dir) =>
      graft.operators.LinkPrediction.edgeEmbeddedness(c10Fixture(s, dir))),
    // one multilevel-coarsening step: contract the q132 matching,
    // aggregate parallel edges into weights, drop self-loops
    "q134_matching_coarsen" -> ((s, dir) => {
      val c10 = c10Fixture(s, dir)
      graft.operators.Matching.coarsen(c10,
        graft.operators.Matching.maximalMatching(c10, MatchingRounds))
    }),
    // k-core decomposition (k=6): iterative peel to fixpoint
    "q60_kcore" -> ((s, dir) =>
      graft.operators.Traversals.kcore(c10Fixture(s, dir), 6)),
    // per-edge truss class (trussness capped at 6 = "6+"): successive
    // hybrid peels on the shrinking edge set — the edge analogue of
    // q147's coreness
    "q152_trussness" -> ((s, dir) =>
      Triangles.trussness(c10Fixture(s, dir), 6)),
    // 4-clique participation per vertex: each clique enumerated once
    // from its orientation-minimal triangle + a 3-way out-list
    // intersection — never a 4-way edge self-join
    "q159_four_cliques" -> ((s, dir) =>
      Triangles.fourCliqueCounts(c10Fixture(s, dir))),
    // strongly connected components over the DIRECTED fixture (per-order
    // part cycles + customer order chains): trim + fused fwd/bwd
    // min-label peeling — the directed sibling of q28's iterative CC
    "q163_scc" -> ((s, dir) => directedSccMemo(s, dir)),
    // condensation DAG of the SCC decomposition: per-component size and
    // longest-path level (the scheduling depth of the component); reads
    // q163's decomposition from the session memo instead of re-peeling
    "q164_condensation" -> ((s, dir) =>
      graft.operators.Scc.condensationLevelsFrom(
        GraphFixtures.directedParts(s, dir), directedSccMemo(s, dir))),
    // directed triad census: reciprocity numerator + 3-cycles vs
    // feed-forward triangles — direction-aware motifs the undirected
    // triangle family cannot distinguish
    "q165_directed_triads" -> ((s, dir) =>
      Triangles.directedTriadCensus(GraphFixtures.directedParts(s, dir))),
    // substring-level dedup (Lee et al. 2021 capability): maximal
    // cross-document repeated ≥5-token spans — the boilerplate-
    // contamination class document-level MinHash cannot see
    "q153_substring_repeats" -> ((s, dir) =>
      Dedup.repeatedSpans(Tables.documents(s, dir), 5)),
    // the dedup ACTION: strip covered tokens and rebuild each document
    // (clean_text hash-checked verbatim against the SQL rebuild)
    "q154_substring_dedup" -> ((s, dir) =>
      Dedup.stripRepeatedSpans(Tables.documents(s, dir), 5)),
    // WITHIN-document repeated spans: the occurrence-count criterion
    // (≥3 occurrences anywhere) over planted self-repeats — the
    // scraped-page-chrome class the cross-document criterion (nd ≥ 2)
    // cannot see; both criteria ride the same fingerprint aggregation
    "q160_selfrepeat_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(withSelfRepeats(Tables.documents(s, dir)), 5,
        minDocs = 2, minOccurs = 3)),
    // domain-level curation: deterministic provenance URLs (mixed-case
    // scheme/host, userinfo+port variants exercise the real extractor),
    // host extraction, and a per-domain cap of 3 docs in portable
    // priority order
    "q155_domain_caps" -> ((s, dir) =>
      graft.functions.Corpus.domainCap(withProvenanceUrls(Tables.documents(s, dir)), 3)),
    // domain-rebalanced temperature mixing: the q107 quota calculus
    // keyed by extracted host instead of the source tag
    "q156_domain_mix" -> ((s, dir) =>
      graft.functions.Corpus.temperatureMix(
        withProvenanceUrls(Tables.documents(s, dir))
          .withColumn("host", graft.functions.Corpus.urlHost(col("url"))),
        maxKeep = 0.8, keyCol = "host")),
    // PII detection + redaction over deterministically-planted PII
    // (the synthetic corpus carries none): counts per class + the
    // sentinel-redacted text, hash-checked verbatim
    "q157_pii_redaction" -> ((s, dir) =>
      graft.functions.Corpus.piiRedact(withPlantedPii(Tables.documents(s, dir)))),
    // widened PII pass: Luhn-checked cards (count = valid only, redact
    // = every card shape) + SSN national-ID class over planted
    // valid/invalid fixtures — the checksum runs as a higher-order
    // aggregate the DuckDB oracle replays as list_sum/list_transform
    "q161_pii_wide" -> ((s, dir) =>
      graft.functions.Corpus.piiRedactWide(withPlantedPiiWide(Tables.documents(s, dir)))),
    // FULL core decomposition: per-vertex coreness via the h-index
    // fixed point (converges to the exact coreness; fail-loud if the
    // unroll budget is outlived — shared constant with the oracle)
    "q147_coreness" -> ((s, dir) =>
      graft.operators.Traversals.coreness(c10Fixture(s, dir))),
    // link prediction: common-neighbor + fixed-point Adamic–Adar scores
    // for distance-2 pairs (wedge-join shape, never all-pairs)
    "q61_adamic_adar" -> ((s, dir) =>
      graft.operators.LinkPrediction.adamicAdar(c10Fixture(s, dir), 3)),
    // global transitivity: 3·triangles / wedges from exact integer moments
    "q62_transitivity" -> ((s, dir) =>
      Triangles.transitivity(c10Fixture(s, dir))),
    // sessionization via the NATIVE session_window operator (vs q38's
    // manual lag/cumsum form — different plan, same capability; note
    // session_window starts a new session at gap >= 30min, half-open)
    "q78_session_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("t", timestamp_micros(expr("ts_ns div 1000")))
      ev.groupBy(col("user_id"), session_window(col("t"), "30 minutes").as("sw"))
        .agg(count("*").as("cnt"))
        .groupBy("user_id")
        .agg(count("*").as("n_sessions"), sum("cnt").as("n_events"))
    }),
    // top-3 TF-IDF terms per doc (fixed-point idf => order-independent)
    "q77_tfidf" -> ((s, dir) =>
      TextStats.tfidfTopK(Tables.documents(s, dir))),
    // CCNet-style bigram LM quality score: mean next-token conditional
    // probability in micro-units, self-trained on the corpus's own
    // bigram counts — every step truncating integer arithmetic
    "q129_bigram_lm" -> ((s, dir) =>
      TextStats.bigramLmScore(Tables.documents(s, dir))),
    // tokenizer-vocab coverage: top-16 vocabulary (count desc, token asc)
    // and per-doc out-of-vocabulary occurrence rate in micro-units
    "q130_oov_rate" -> ((s, dir) =>
      TextStats.oovStats(Tables.documents(s, dir))),
    // deterministic BPE: 10 learned merges (count desc, pair asc — the
    // q130 vocabulary determinism pattern applied to subword pairs);
    // the oracle replays learning as an unrolled string-replace chain
    "q138_bpe_vocab" -> ((s, dir) =>
      graft.functions.Bpe.learnedVocab(s, Tables.documents(s, dir), 10)),
    // per-doc SUBWORD token counts under the learned merges — one
    // corpus pass against the broadcast word→tokens dictionary
    "q139_bpe_tokens" -> ((s, dir) =>
      graft.functions.Bpe.docTokenCounts(Tables.documents(s, dir), 10)),
    // q136 re-based on BPE tokens: the budget counts what a training
    // run actually consumes, not whitespace words
    "q140_bpe_token_budget" -> ((s, dir) =>
      graft.functions.Bpe.tokenBudgetSampleBpe(Tables.documents(s, dir), 10, 3000L)),
    // O15 streaming form: the continuous globalAggregate (value
    // histogram) replayed over a stream converges to q18's batch answer
    "q80_streaming_histogram" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayHistogram(
        GraphFixtures.edgeStream(s, dir))),
    // stream-stream interval join gate: clicks x purchases within
    // [-10 min, 0] event time over two watermarked streams, converging
    // to the batch join (cent-exact integer sums)
    "q84_stream_join" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayIntervalJoin(Tables.events(s, dir))),
    // benchmark decontamination: train docs sharing a 5-gram with the
    // held-out benchmark slice (doc_id % 10 == 7) are flagged
    "q83_decontamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Corpus.contaminationHits(
        docs.where(col("doc_id") % 10 =!= 7),
        docs.where(col("doc_id") % 10 === 7))
    }),
    // weighted PageRank on E (quantity-weighted transitions; integer
    // shares => deterministic). E is directed part->supplier; the
    // min-weight symmetrized view gives a strongly-connected-ish chain
    "q82_weighted_pagerank" -> ((s, dir) => {
      val e = GraphFixtures.edgeStream(s, dir)
        .select(col("src"), col("dst"), col("value"))
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst"), col("value")))
        .groupBy("src", "dst").agg(min(col("value")).as("value"))
      graft.operators.PageRank.weightedFixedPoint(sym, 10)
    }),
    // k-truss (k=5): edges in >= 3 triangles after iterative peel
    "q81_ktruss" -> ((s, dir) =>
      Triangles.ktruss(c10Fixture(s, dir), 5)),
    // deterministic greedy (Jones-Plassmann) coloring under the
    // portable priority order — the parallel-scheduling primitive
    // (conflict-free update batches); equals the sequential greedy in
    // priority order, so the oracle unrolls the rounds exactly
    "q158_graph_coloring" -> ((s, dir) =>
      graft.operators.Communities.greedyColoring(c10Fixture(s, dir))),
    // Luby-style maximal independent set with fixed hash priorities
    "q79_mis" -> ((s, dir) =>
      graft.operators.Traversals.maximalIndependentSet(
        c10Fixture(s, dir))),
    // DOULION sparsified triangle estimate: deterministic hash-threshold
    // edge sampling at p=0.5, gated against the exact count (±20%)
    "q76_triangle_estimate" -> ((s, dir) =>
      Triangles.sparsifiedEstimateGate(coPurchasePairsMemo(s, dir))),
    // Newman degree assortativity from exact integer moments
    "q63_assortativity" -> ((s, dir) =>
      graft.operators.DegreeMetrics.assortativity(c10Fixture(s, dir))),
    // weighted SSSP (Bellman–Ford) on E from its min part vertex,
    // weight = l_quantity as integer (exact, engine-deterministic)
    "q64_sssp" -> ((s, dir) => {
      val e = GraphFixtures.edgeStream(s, dir)
      val source = e.agg(min(col("src"))).head().getLong(0)
      graft.operators.Traversals.sssp(e, source)
    }),
    // double-sweep diameter estimation: two composed BFS runs, exact
    // eccentricity of the start + the classic diameter lower bound
    "q74_diameter" -> ((s, dir) => {
      val c = c10Fixture(s, dir)
      val source = c.agg(min(col("src"))).head().getLong(0)
      graft.operators.Traversals.doubleSweepDiameter(c, source)
    }),
    // multimodal frame sampling: every 4th 64-byte frame of each video
    // payload through the iterator pipeline; per-id sampled counts/bytes
    "q75_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.syntheticMedia(Tables.documents(s, dir)), 4)
        .toDF()
        .groupBy(col("id"))
        .agg(count("*").as("n_sampled"),
          sum(length(col("frame"))).as("sampled_bytes"))),
    // REAL video keyframes: PNG-concat containers walked by a real chunk
    // parser (signature + length/type/CRC stream until IEND), every 2nd
    // member frame decoded via javax.imageio to exact pixel stats — the
    // oracle recomputes the per-frame pixel formula directly
    "q142_video_keyframes" -> ((s, dir) =>
      Multimodal.keyframeStats(
        Multimodal.sampleKeyframes(
          Multimodal.syntheticVideos(Tables.documents(s, dir)).toDF(), 2))),
    // REAL audio codec: RIFF/WAVE containers parsed by a real chunk
    // walker (skips unknown chunks by size), 16-bit PCM decoded to
    // exact integer signal stats the oracle recomputes from the sample
    // formula — the third and last modality off the stub path
    "q144_audio_decode" -> ((s, dir) =>
      Multimodal.audioStats(
        Multimodal.syntheticAudio(Tables.documents(s, dir)).toDF())),
    // video-level near-dup: per-keyframe aHash through the real
    // container walk + decoder, videos paired when every sampled frame
    // hash matches positionally — one (frame_no, hash) equi-join,
    // candidates ∝ true collisions (the multimodal dedup loop closed)
    "q145_video_twins" -> ((s, dir) =>
      Multimodal.videoTwins(
        Multimodal.keyframeHashes(
          Multimodal.sampleKeyframes(
            Multimodal.syntheticVideos(Tables.documents(s, dir)).toDF(), 2)))),
    // exact per-group quantiles (sort-based percentile, linear interp)
    "q65_quantiles" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("returnflag"))
        .agg(round(percentile(col("l_quantity"), lit(0.25)), 6).as("p25"),
          round(percentile(col("l_quantity"), lit(0.5)), 6).as("p50"),
          round(percentile(col("l_quantity"), lit(0.75)), 6).as("p75"))),
    // approx-percentile accuracy gate: the sketch answer must land within
    // the exact p25/p75 bracket and within 10% relative error of the
    // exact median — the q33/q36 gate pattern for a sketch whose raw
    // output is algorithm-specific (Spark GK vs any other engine)
    "q99_approx_quantile_gate" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.25)).as("e25"),
          percentile(col("l_quantity"), lit(0.5)).as("e50"),
          percentile(col("l_quantity"), lit(0.75)).as("e75"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("a50"))
        .select(col("returnflag"),
          (col("a50") >= col("e25") && col("a50") <= col("e75") &&
            abs(col("a50") - col("e50")) <= col("e50") * 0.1).as("approx_ok"))),
    // HLL++ distinct-count accuracy gate (q99's pattern for sketches
    // whose raw output is engine-specific): per source, the exact
    // distinct doc count plus a boolean that approx_count_distinct at
    // 1% target rsd landed within 5% relative error — the exact value
    // hashes cross-engine, the sketch is certified in-query. At 100 TB
    // the sketch IS the operator (one pass, ~kB of state per group vs
    // the exact path's distinct shuffle); the exact column here doubles
    // as the certification baseline the same way q76's DOULION gate
    // runs both sides
    "q146_hll_distinct_gate" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("exact_distinct"),
          approx_count_distinct(col("doc_id"), 0.01).as("a"))
        .select(col("source"), col("exact_distinct"),
          (abs(col("a") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("approx_ok"))),
    // TPC-H Q10 shape: top-20 returned-item customers by revenue over a
    // quarter — 3-table join (broadcast nation), cent-exact integer
    // revenue so the top-k ordering is engine-exact, ties by custkey
    "q113_tpch_q10" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("cents"))
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cst = Tables.customer(s, dir)
      val nat = Tables.nation(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cst, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation"))
        .agg(sum(col("cents")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
        .limit(20)
    }),
    // TPC-H Q19 shape: disjunctive brand/size/quantity predicate over
    // the part⋈lineitem join — the OR-of-ANDs plan Catalyst must split
    // into a pushable common filter + residual join condition
    "q114_tpch_q19" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 35)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 50)))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
    }),
    // TPC-H Q16 shape adapted to the schema: distinct suppliers per
    // (brand, type-prefix) observed in lineitem — distinct-agg over a
    // broadcast dim join, excluding one brand like Q16's NOT clauses
    "q115_brand_suppliers" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
      val p = Tables.part(s, dir)
        .where(col("p_brand") =!= "Brand#5")
        .select(col("p_partkey"), col("p_brand"),
          substring(col("p_type"), 1, 6).as("type_prefix"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "type_prefix")
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"))
    }),
    // TPC-H Q1 in EXACT decimal money arithmetic: sums carried as
    // DECIMAL(12,2)/(14,4) — order-independent exactness the double
    // variant (q23) only gets from pre-rounding
    "q100_tpch_q1_decimal" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .cast("decimal(16,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("cnt"))),
    // explicit GROUPING SETS (beyond rollup/cube: an arbitrary set list)
    "q66_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count("*").as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("cnt"))),
    // distribution window functions: quartile bucket + exact rank stats
    // per nation (total order => engine-deterministic)
    "q67_window_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_nationkey").as("nationkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(cume_dist().over(w), 6).as("cd"),
          round(percent_rank().over(w), 6).as("pr"))
    }),
    // streaming exact dedup: first-seen-wins keyed state over a replayed
    // document stream — per-lang survivor counts converge to q20's answer
    "q73_streaming_dedup" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayExactDedup(Tables.documents(s, dir))),
    // streaming near-dup parity: keyed-state LSH bucket candidates over a
    // replayed document stream, batch-verified with exact Jaccard — must
    // equal the one-shot minhashPairs answer (q30's oracle)
    "q126_streaming_minhash" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayMinhashPairs(Tables.documents(s, dir))),
    // Gopher-style repetition metrics (boilerplate / degenerate-text
    // detection): pure projection pass, no shuffle
    "q69_repetition" -> ((s, dir) =>
      graft.functions.Corpus.repetitionStats(Tables.documents(s, dir))),
    // composite C4/Gopher quality gate per language
    "q70_quality_gate" -> ((s, dir) =>
      graft.functions.Corpus.qualityGate(Tables.documents(s, dir))),
    // deterministic mixture sampling: per-source keep quotas via id mod
    "q71_source_sampling" -> ((s, dir) =>
      graft.functions.Corpus.sampleBySource(Tables.documents(s, dir),
        (0 until 32).map(k => s"src$k" -> (100 + (k % 7) * 100)).toMap)),
    // sequence packing: running-sum binning into 256-token bins per shard
    "q72_packing" -> ((s, dir) =>
      graft.functions.Corpus.packSequences(Tables.documents(s, dir), 256)),
    // personalized PageRank (random walk with restart) from C10's min
    // vertex — same integer fixed-point contract as q54
    "q68_ppr" -> ((s, dir) => {
      val c = c10Fixture(s, dir)
      val sym = c.unionByName(c.select(col("dst").as("src"), col("src").as("dst")))
      val source = c.agg(min(col("src"))).head().getLong(0)
      graft.operators.PageRank.personalized(sym, Seq(source), 10)
    }),
    // rollup with ALL markers instead of NULLs (engine-portable hashing)
    // CUBE: all grouping-set combinations (completes the §2.2 grouping row)
    "q52_cube_quantity" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count("*").as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("cnt"))),
    // set operations over derived vertex sets: parts seen early INTERSECT
    // parts seen late, and early EXCEPT late (completes the §2.2 set-ops row)
    "q53_set_ops" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val early = li.where(col("l_shipdate") < lit("1998-07-01").cast("timestamp"))
        .select(col("l_partkey").as("id"))
      val late = li.where(col("l_shipdate") >= lit("1998-07-01").cast("timestamp"))
        .select(col("l_partkey").as("id"))
      early.intersect(late).withColumn("op", lit("both"))
        .unionByName(early.except(late).withColumn("op", lit("early_only")))
    }),
    "q41_rollup_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count("*").as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("revenue"), col("cnt"))),
    // TPC-H Q3-style: top-10 open orders by revenue at a cutoff date
    "q42_tpch_q3" -> ((s, dir) => {
      val cutoff = lit("1998-01-01").cast("timestamp")
      val o = Tables.orders(s, dir).where(col("o_orderdate") < cutoff)
      val li = Tables.lineitem(s, dir).where(col("l_shipdate") >= cutoff)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(col("l_orderkey").as("orderkey"),
          unix_timestamp(col("o_orderdate")).as("orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("orderkey").asc)
        .limit(10)
    }),
    // REAL image codec round-trip: deterministic 16×16 PNGs decoded back
    // to pixels via javax.imageio; exact integer pixel stats
    "q88_image_decode" -> ((s, dir) =>
      Multimodal.imageStats(
        Multimodal.syntheticImages(Tables.documents(s, dir)).toDF())),
    // REAL resize: decode → 8×8 nearest-neighbor resample → re-encode →
    // re-decode; stats must equal the subsampled pixel formula
    "q89_image_resize" -> ((s, dir) =>
      Multimodal.imageStats(
        Multimodal.resizeDecoded(
          Multimodal.syntheticImages(Tables.documents(s, dir)).toDF(), 8, 8).toDF())),
    // perceptual image hash (aHash) through the REAL decoder: 8×8 NN
    // resample + integer mean threshold, packed as two u32 halves the
    // formula oracle recomputes bit-for-bit
    "q116_image_phash" -> ((s, dir) =>
      Multimodal.perceptualHashes(
        Multimodal.syntheticImages(Tables.documents(s, dir)).toDF())),
    // image near-dup pairs by Hamming distance over the aHashes, via
    // pigeonhole banding (5 chunks for hamming ≤ 4: any qualifying pair
    // agrees exactly on ≥1 chunk) + exact-popcount verify — bit-identical
    // to the all-pairs audit but with candidate work ∝ true near-dups;
    // the corpus plants true twins (ids 256 apart render identical
    // pixels), which must surface at hamming 0
    "q117_phash_pairs" -> ((s, dir) =>
      Multimodal.phashPairsBanded(
        Multimodal.perceptualHashes(
          Multimodal.syntheticImages(Tables.documents(s, dir)).toDF()), 4)),
    // multimodal resize plumbing: image payloads truncate to the byte
    // budget (stub for pixel resampling), others pass through untouched
    "q87_resize" -> ((s, dir) =>
      Multimodal.resizeImages(
        Multimodal.syntheticMedia(Tables.documents(s, dir)), budget = 256)
        .toDF()
        .select(col("id"), col("kind"), length(col("content")).cast("long").as("n_bytes"))),
    // TPC-H Q4 shape: EXISTS → left-semi join (no dedup relation ever
    // materializes); both filters push to their scans
    "q93_tpch_q4" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      val li = Tables.lineitem(s, dir).where(col("l_returnflag") === "R")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
    }),
    // TPC-H Q14: promo revenue share — one broadcast dim join, one
    // conditional agg; the ratio divides two already-reduced scalars
    "q94_tpch_q14" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
      li.join(broadcast(Tables.part(s, dir)), li("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0))) /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("promo_revenue"))
    }),
    // TPC-H Q18: large-volume customers — agg-then-join (the HAVING
    // reduces lineitem to qualifying orders BEFORE any join), customer
    // dim broadcast; quantities are integral so the sums are exact
    "q95_tpch_q18" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
        .where(col("q") > 150)
      big.join(Tables.orders(s, dir), big("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey").as("orderkey"),
          unix_timestamp(col("o_orderdate")).as("orderdate"),
          col("o_totalprice").as("totalprice"),
          col("q").cast("long").as("sum_qty"))
    }),
    // TPC-H Q6: forecast revenue change — every predicate pushes to the
    // scan, one partial+final agg, zero joins
    "q86_tpch_q6" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))),
    // TPC-H Q5 proper: local-supplier revenue per nation, region-filtered
    // and date-windowed (dims broadcast; the date filter pushes to the
    // orders scan)
    "q85_tpch_q5" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
      val cst = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir).where(col("r_name") === "ASIA")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(cst, o("o_custkey") === cst("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey") &&
          cst("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }),
    // O20 transientState=false: the running summary replayed over a real
    // stream must converge to the one-shot batch answer (q13a's oracle)
    "q45_streaming_cc" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayConnectedComponents(
        GraphFixtures.edgeStream(s, dir))),
    // the watermark-TTL'd running summary at an infinite horizon must
    // equal the unbounded sibling's converged assignment (q13a's
    // oracle) — certifies the eviction path's bookkeeping is lossless
    // when nothing is evicted; the bounded-horizon divergence contract
    // is spec-checked (StreamingSpec)
    "q143_streaming_cc_ttl" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayConnectedComponentsTtl(
        GraphFixtures.edgeStream(s, dir), "3650 days")),
    // TTL'd running bipartiteness at an infinite horizon ≡ the batch
    // verdict; absorbing-conflict and evidence-expiry divergence are
    // spec-checked (StreamingSpec)
    "q151_streaming_bip_ttl" -> ((s, dir) => {
      import s.implicits._
      Seq(graft.streaming.StreamingOps.replayBipartitenessTtl(
        GraphFixtures.edgeStream(s, dir), "3650 days")).toDF("bipartite")
    }),
    // O24 streaming form: incremental exact triangles over a replayed
    // edge stream — per-vertex running counts are exact at every prefix
    // and must end equal to the one-shot batch answer on the same graph
    "q48_streaming_triangles" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayTriangleCounts(
        c10Fixture(s, dir))),
    // the end-to-end near-dup pipeline: MinHash candidates → exact verify
    // → CC over the pair graph → per-doc cluster label
    "q50_dedup_pipeline" -> ((s, dir) =>
      Dedup.nearDupClusters(Tables.documents(s, dir), 2, 0.5)),
    // leakage-free split: near-dup clusters land atomically in train or
    // val by the portable hash of the cluster label — no val doc has a
    // near-duplicate in train
    "q135_leakage_safe_split" -> ((s, dir) =>
      Dedup.leakageSafeSplit(Tables.documents(s, dir), 2, 0.5)),
    // per-source token-budgeted sampling: admit docs in portable-priority
    // order while the running token count stays within 2000 tokens
    "q136_token_budget" -> ((s, dir) =>
      graft.functions.Corpus.tokenBudgetSample(Tables.documents(s, dir), 2000L)),
    // as-of join: each click gets the user's latest purchase value at or
    // before it (null when none) — one windowed pass, no range explosion
    "q51_asof_join" -> ((s, dir) => {
      // micro-second timestamps on BOTH sides: DuckDB TIMESTAMP is µs, so
      // an ns-precision comparison could order a boundary pair differently
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts_us")
        .agg(max_by(col("value"), col("event_id")).as("p_value"))
      graft.operators.AsOfJoin(clicks, purchases, "user_id", "ts_us", Seq("p_value"))
    }),
    // O18c applyOnNeighbors: arbitrary Scala over a materialized windowed
    // neighborhood (here: distinct-neighbor count, chosen because the
    // oracle can replay it in SQL while the Spark side genuinely runs the
    // buffered-neighborhood code path)
    "q47_apply_neighbors" -> ((s, dir) => {
      import s.implicits._
      E(s, dir).slice("30 days", EdgeDirection.Out)
        .applyOnNeighbors[(Long, Long, Long)]((win, vid, nbrs) =>
          Iterator.single((win, vid, nbrs.map(_._1).distinct.size.toLong)))
        .toDF("win", "src", "n_distinct_nbrs")
    }),
    // string-keyed ingest: dictionary-encode, run a Long-keyed operator,
    // decode back — output is in key space, so it oracle-checks directly
    "q46_string_keys" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val strEdges = li.select(
        concat(lit("P"), col("l_partkey")).as("src"),
        concat(lit("S"), col("l_suppkey")).as("dst"),
        col("l_quantity").as("value"),
        col("l_shipdate").as("ts"))
      val (enc, dict) = graft.sources.Sources.dictionaryEncode(strEdges)
      graft.sources.Sources.decodeKeys(GraphStream(enc).getDegrees, dict, "id", "key")
        .select("key", "degree")
    }),
    // per-source corpus stats (source dimension of documents)
    "q43_source_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count("*").as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          round(avg(col("n_chars")), 6).as("avg_chars"))),
    // BPE-ish pre-tokenizer counts per language
    "q44_regex_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(sum(size(TextStats.regexTokens(col("text")))).as("n_subwords"),
          sum(size(split(col("text"), " "))).as("n_words"))),
    // TPC-H Q2 shape (reduced schema: lineitem stands in for partsupp;
    // supply cost = min observed price in exact cents). The correlated
    // MIN becomes agg-then-join; the filtered part set and the per-part
    // minima are both small -> broadcast, so only the cost aggregation
    // shuffles (once, on (supplier, part))
    "q166_tpch_q2" -> ((s, dir) => {
      val cost = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("cost_cents"))
      val p = Tables.part(s, dir)
        .where(col("p_size").between(10, 20) && col("p_type") === "LARGE")
        .select("p_partkey")
      val offers = cost.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val minCost = offers.groupBy(col("p_partkey").as("mk"))
        .agg(min("cost_cents").as("min_cost"))
      offers.join(broadcast(minCost),
          col("p_partkey") === col("mk") && col("cost_cents") === col("min_cost"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("p_partkey").as("partkey"), col("s_name"), col("s_acctbal"),
          col("n_name").as("nation"), col("cost_cents"))
    }),
    // TPC-H Q13: order-count distribution — the priority filter lives
    // IN the left-join condition so zero-order customers survive with
    // c_count = 0; two shuffles total (join key, then the tiny
    // count-of-counts regroup)
    "q167_tpch_q13" -> ((s, dir) => {
      val ords = Tables.orders(s, dir)
        .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select("o_custkey", "o_orderkey")
      Tables.customer(s, dir).select("c_custkey")
        .join(ords, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count("*").as("custdist"))
    }),
    // TPC-H Q21 shape (reduced schema: 'kept waiting' = sole supplier
    // with a returned lineitem on a multi-supplier order): the EXISTS
    // is a left-semi and the NOT EXISTS a left-anti, both shuffling on
    // l_orderkey only; supplier dim broadcast
    "q168_tpch_q21" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_returnflag")
      val l1 = li.where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey").distinct()
      val others = li.select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val hasOther = l1.join(others,
        col("l_orderkey") === col("ok") && col("l_suppkey") =!= col("sk"), "left_semi")
      val othersR = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2")).distinct()
      hasOther.join(othersR,
          col("l_orderkey") === col("ok2") && col("l_suppkey") =!= col("sk2"), "left_anti")
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count("*").as("numwait"))
    }),
    // TPC-H Q22 shape: the scalar-average threshold is compared EXACTLY
    // in integer cents (bal·n_pos > s_pos — no engine-specific float
    // averaging at the boundary); the one-row aggregate broadcasts and
    // the order probe is a left-anti on o_custkey
    "q169_tpch_q22" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .withColumn("bal_cents", round(col("c_acctbal") * 100).cast("long"))
      val thr = cust.where(col("c_acctbal") > 0)
        .agg(sum("bal_cents").as("s_pos"), count("*").as("n_pos"))
      val urgent = Tables.orders(s, dir)
        .where(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      cust.crossJoin(broadcast(thr))
        .where(col("bal_cents") * col("n_pos") > col("s_pos"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count("*").as("numcust"),
          (sum("bal_cents") / 100.0).as("totacctbal"))
    }),
    // TPC-H Q16 shape: supplier-count distribution per part attribute;
    // the NOT IN exclusion is a broadcast left-anti (6 rows), the part
    // dim a broadcast join — the only shuffle is the distinct pair agg
    "q170_tpch_q16" -> ((s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .select("l_partkey", "l_suppkey").distinct()
      val p = Tables.part(s, dir)
        .where(col("p_brand") =!= "Brand#15" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
      val bad = Tables.supplier(s, dir)
        .where(col("s_acctbal") < 0).select("s_suppkey")
      ps.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
    }),
    // TPC-H Q7: volume shipping between a nation pair (both directions).
    // Fact-side joins shuffle on l_orderkey then o_custkey; supplier and
    // both nation role dims broadcast; revenue in exact cents
    "q171_tpch_q7" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .withColumn("cents",
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "cents")
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
      li.join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_8") ||
          (col("supp_nation") === "NATION_8" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum("cents").as("revenue_cents"))
    }),
    // TPC-H Q8: national market share inside a region's market per year.
    // The share is reported in exact integer ppm (numerator*1e6 div
    // denominator) plus both cent sums — no float averaging anywhere
    "q172_tpch_q8" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("cents",
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
        .select("l_orderkey", "l_partkey", "l_suppkey", "cents")
      val p = Tables.part(s, dir).where(col("p_type") === "PROMO").select("p_partkey")
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val custAsia = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA").select("c_custkey")
      val sn = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .select("s_suppkey", "supp_nation")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", col("cents")).otherwise(0L))
            .as("nation_cents"),
          sum("cents").as("total_cents"))
        .withColumn("share_ppm",
          expr("nation_cents * 1000000L div total_cents"))
    }),
    // TPC-H Q9 shape (reduced schema: p_retailprice stands in for
    // ps_supplycost, l_shipdate's year for o_year): per-row profit in
    // exact cents, part + supplier + nation dims all broadcast — the
    // only shuffle is the final (nation, year) aggregation
    "q173_tpch_q9" -> ((s, dir) => {
      val p = Tables.part(s, dir).where(col("p_name").contains("widget"))
        .withColumn("cost_cents", round(col("p_retailprice") * 100).cast("long"))
        .select("p_partkey", "cost_cents")
      val sn = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .withColumn("profit_cents",
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long") -
            col("cost_cents") * col("l_quantity").cast("long"))
        .groupBy(col("nation"), year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(sum("profit_cents").as("sum_profit_cents"))
    }),
    // TPC-H Q11 shape (scale-free threshold: parts whose value exceeds
    // the AVERAGE part value — value*n_parts > total, exact integers —
    // instead of the SF-pinned 0.0001 fraction): per-part value from
    // suppliers in one region, one-row global aggregate broadcast
    "q174_tpch_q11" -> ((s, dir) => {
      val regSupp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "AFRICA").select("s_suppkey")
      val value = Tables.lineitem(s, dir)
        .join(broadcast(regSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("value_cents"))
      val tot = value.agg(sum("value_cents").as("total_cents"),
        count("*").as("n_parts"))
      value.crossJoin(broadcast(tot))
        .where(col("value_cents") * col("n_parts") > col("total_cents"))
        .select("partkey", "value_cents")
    }),
    // TPC-H Q12 shape (no l_shipmode — l_linestatus stands in): per
    // mode, high- vs low-priority lineitem counts for a shipping year;
    // one join shuffle on l_orderkey, then a two-row regroup
    "q175_tpch_q12" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linestatus")
      li.join(Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus").as("linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count"))
    }),
    // TPC-H Q15: top supplier(s) by quarterly revenue — the revenue view
    // is one grouped agg, the scalar MAX broadcasts back as a one-row
    // join, equality is exact on integer cents
    "q176_tpch_q15" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("total_revenue_cents"))
      val mx = rev.agg(max("total_revenue_cents").as("max_cents"))
      rev.crossJoin(broadcast(mx))
        .where(col("total_revenue_cents") === col("max_cents"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey").as("suppkey"), col("s_name"), col("total_revenue_cents"))
    }),
    // TPC-H Q17: small-quantity-order revenue for one brand — the
    // correlated per-part AVG becomes an agg-then-broadcast-join and the
    // 0.2·avg comparison is exact on integers (qty·5·cnt < sum_qty);
    // the single output row divides cents by the constant 700.0 only at
    // the edge
    "q177_tpch_q17" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .where(col("p_brand") === "Brand#3" && col("p_size") <= 10)
        .select("p_partkey")
      val li = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val avgq = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum("qty").as("sum_qty"), count("*").as("cnt"))
      li.join(broadcast(avgq), col("l_partkey") === col("pk"))
        .where(col("qty") * 5 * col("cnt") < col("sum_qty"))
        .agg(sum("cents").as("total_cents"))
        .withColumn("avg_yearly", col("total_cents") / 700.0)
    }),
    // TPC-H Q20 shape (no partsupp availqty — a supplier "has excess
    // stock" when it is the STRICT top shipper, by quantity, of a
    // promoted part): two nested aggregations and two windows sharing
    // ONE shuffle key (partkey); argmax + uniqueness exact on integer
    // quantities
    "q178_tpch_q20" -> ((s, dir) => {
      val p = Tables.part(s, dir).where(col("p_name").startsWith("large"))
        .select("p_partkey")
      val perSupp = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("supp_qty"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      perSupp.withColumn("max_qty", max("supp_qty").over(w))
        .where(col("supp_qty") === col("max_qty"))
        .withColumn("n_at_max", count(lit(1)).over(w))
        .where(col("n_at_max") === 1)
        .select("l_suppkey").distinct()
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
    }),
    // fixed-length audio segmentation through the REAL RIFF/WAVE decoder
    // (the VAD / ASR-chunking primitive): whole 128-frame chunks with
    // exact integer energy stats — per-partition decode, no shuffle
    "q179_audio_chunks" -> ((s, dir) =>
      Multimodal.audioChunks(
        Multimodal.syntheticAudio(Tables.documents(s, dir)).toDF(), 128)),
    // shot-boundary detection: consecutive sampled keyframes through the
    // REAL container walk + decoder, exact aHash Hamming jumps ≥ 16 bits
    // flagged as cuts; every consecutive pair emitted with its distance
    "q180_shot_boundaries" -> ((s, dir) =>
      Multimodal.shotBoundaries(
        Multimodal.keyframeHashes(
          Multimodal.sampleKeyframes(
            Multimodal.syntheticVideos(Tables.documents(s, dir)).toDF(), 2)), 16)),
    // CDC latest-value-per-key parity: keyed 32 B/key state replayed over
    // an event-time-ordered stream in update mode — the changelog's last
    // row per key must equal the batch argmax-by-(ts, event_id) answer
    "q181_latest_per_key" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayLatestPerKey(Tables.events(s, dir))),
    // fastText-shape model-based quality scoring: hashed unigram+bigram
    // feature buckets, exact integer linear score, sign threshold —
    // pure codegen'd HOF projection, no explode/shuffle/UDF
    "q182_quality_model" -> ((s, dir) =>
      graft.functions.Corpus.qualityModelScores(Tables.documents(s, dir))),
    // q39's answer through the k-BOUNDED top-k Aggregator instead of the
    // window: map-side combine caps the exchange at O(parts×groups×k)
    // rows — the scale path as the oracle-checked path (q137's pattern)
    "q183_topk_bounded" -> ((s, dir) =>
      graft.functions.TopK.perGroup(
        Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "lang", "n_tokens", "doc_id", 3)
        .select("lang", "rnk", "doc_id", "n_tokens")),
    // streaming leaderboard: COMPLETE-mode sort+limit over a running
    // count — the sink holds the full current top-5 after every trigger;
    // final ranking ≡ the batch answer, ties by smaller user id
    "q184_streaming_topk" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayTopKByCount(Tables.events(s, dir), 5)),
    // EXACT-integer Lloyd's k-means (k=4, 3 iterations): micro-unit
    // quantization, literal-broadcast centroids, argmin ties by smaller
    // cid, truncating integer centroid means — bit-replayable clustering
    // (the value-checked sibling of the recall-gated IVF/PQ k-means)
    "q185_kmeans_exact" -> ((s, dir) =>
      graft.functions.KMeans.clusterExact(Tables.embeddings(s, dir))),
    // incremental CC (the daily-update path): labels of the old 90% of
    // the graph + a 10% edge delta → labels of the FULL graph without
    // touching old edges — cost ∝ |V| + |delta|, not |E|; the oracle is
    // the full-graph CC, so the equivalence itself is hash-checked
    "q186_incremental_cc" -> ((s, dir) => {
      val e = GraphFixtures.edgeStream(s, dir).select("src", "dst")
      val tag = pmod(xxhash64(col("src"), col("dst")), lit(10L))
      val labels = ConnectedComponents.auto(e.where(tag =!= 7))
      ConnectedComponents.incremental(labels, e.where(tag === 7))
    }),
    // incremental triangle maintenance: triangles CREATED by a 10% edge
    // delta, found by wedge-closing each new edge through the grown
    // graph (work ∝ Σ_delta deg) — the oracle recounts the full graph,
    // so n_old + n_new ≡ full count is the hash-checked identity. The
    // split tag is integer arithmetic, replayable cross-engine
    "q187_delta_triangles" -> ((s, dir) => {
      val e = c10Fixture(s, dir)
      val t31 = lit(2147483648L)
      val tag = pmod(pmod(pmod(col("src"), t31) * 31 + col("dst"), t31)
        * lit(2654435761L), t31) % 10
      Triangles.deltaTriangles(e.where(tag =!= 7), e.where(tag === 7))
    }),
    // Borůvka minimum spanning forest — STRUCTURE check: per component
    // of the co-purchase graph, the MSF must contribute exactly
    // n_vertices − 1 edges touching every vertex (spanning + acyclic +
    // component-correct, all hash-checked against the CC oracle);
    // minimality itself is spec-pinned ≡ in-JVM Kruskal and
    // hash-checked by q189's threshold identity
    "q188_msf_structure" -> ((s, dir) => {
      val e = c10Fixture(s, dir)
      val msf = msfMemo(s, dir)
      val cc = ConnectedComponents.auto(e)
      val nv = cc.groupBy("component").agg(count("*").as("n_vertices"))
      val me = msf.join(cc, msf("u") === cc("id"))
        .groupBy("component").agg(count("*").as("e_cnt"))
      val mv = msf.select(explode(array(col("u"), col("v"))).as("id"))
        .join(cc, Seq("id"))
        .groupBy("component").agg(countDistinct(col("id")).as("v_cnt"))
      nv.join(me, Seq("component"), "left").join(mv, Seq("component"), "left")
        .select(col("component"), col("n_vertices"),
          coalesce(col("e_cnt"), lit(0L)).as("n_msf_edges"),
          coalesce(col("v_cnt"), lit(0L)).as("n_msf_vertices"))
    }),
    // single-linkage clustering at τ through the MSF: clusters of
    // "merge at weight ≤ τ" ≡ CC of the ORIGINAL edges with w ≤ τ —
    // the defining connectivity-at-every-threshold property of a
    // minimum spanning forest, so the oracle (which never sees the
    // forest) hash-checks the MSF's CONTENT, not just its shape
    "q189_single_linkage" -> ((s, dir) => {
      // the edges arg supplies only the vertex set; the weights live in
      // the memoized forest
      SpanningForest.singleLinkage(
        c10Fixture(s, dir), msfMemo(s, dir), 1073741824L)
    }),
    // INCREMENTAL MSF (q186's pattern for the forest): Borůvka over the
    // old 90%'s forest ∪ the 10% delta — MSF(G∪Δ) = MSF(MSF(G)∪Δ), one
    // pass over ≤|V|−1+|Δ| edges instead of |E|. The output is the
    // single-linkage cut of the INCREMENTALLY-built forest at a fresh
    // τ, so the oracle (CC of the weight-filtered FULL edge set, which
    // never sees any forest) hash-checks the composed forest's CONTENT
    // — a dropped or displaced forest edge flips connectivity at τ
    "q190_incremental_msf" -> ((s, dir) => {
      val e = c10Fixture(s, dir)
      val ew = e.select(col("src"), col("dst"), edgeWeight.as("weight"))
      val tag = edgeTag
      val oldForest = SpanningForest.boruvka(ew.where(tag =!= 7))
      val forest = SpanningForest.boruvkaDelta(oldForest, ew.where(tag === 7))
      SpanningForest.singleLinkage(e, forest, 536870912L)
    }),
    // DECREMENTAL CC (the retraction half of q186): labels of the full
    // graph + a 10% edge DELETION → labels of the shrunk graph,
    // recomputing only the affected components; vertices isolated by
    // the deletion keep themselves. The oracle is the full CC over
    // E∖D with the full vertex set — the equivalence IS the hash check
    "q191_decremental_cc" -> ((s, dir) => {
      val e = GraphFixtures.edgeStream(s, dir).select("src", "dst")
      val tag = edgeTag
      val labels = ConnectedComponents.auto(e)
      ConnectedComponents.decremental(labels, e, e.where(tag === 3))
    }),
    // TRAINED quality classifier (the missing half of q182's stub
    // weights): exact-integer BATCH perceptron over md5-bucketed
    // unigram+bigram features, 4 epochs, label = (lang = 'en') — the
    // DuckDB oracle replays the ENTIRE training loop epoch by epoch
    // (q138's unrolled-merge pattern applied to learning)
    "q192_perceptron_quality" -> ((s, dir) =>
      graft.functions.Corpus.perceptronQualityScores(Tables.documents(s, dir))),
    // AVERAGED perceptron (Freund & Schapire 1999): same training
    // trajectory, scores under the integer SUM of the epoch weight
    // snapshots — sign-equivalent to the average, so it replays with
    // no division; the classic variance reduction when epochs
    // oscillate on non-separable data
    "q195_perceptron_averaged" -> ((s, dir) =>
      graft.functions.Corpus.perceptronQualityScores(Tables.documents(s, dir),
        averaged = true)),
    // decremental triangle maintenance (q187's retraction half):
    // triangles DESTROYED by a 10% edge deletion, found by wedge-
    // closing each deleted edge through the OLD graph (work ∝ Σ_del
    // deg); the oracle recounts old and surviving sets, so
    // n_old − n_destroyed ≡ count(E∖D) is the hash-checked identity
    "q194_decremental_triangles" -> ((s, dir) => {
      val e = c10Fixture(s, dir)
      val t31 = lit(2147483648L)
      val tag = pmod(pmod(pmod(col("src"), t31) * 31 + col("dst"), t31)
        * lit(2654435761L), t31) % 10
      Triangles.decrementalTriangles(e, e.where(tag === 3))
    }),
    // streaming ANN index maintenance: LSH bucket membership in keyed
    // state (q126's machinery on hyperplane signatures), replayed over
    // 4 triggers, accumulated candidates batch-verified by exact
    // cosine — must equal the one-shot bucketed answer and therefore
    // pass q122's recall gate against the exact all-pairs audit
    "q193_streaming_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      pairRecallGate(
        Similarity.cosinePairs(emb, 0.3),
        graft.streaming.StreamingOps.replayLshPairs(emb, 0.3),
        Seq("vec_a", "vec_b"), 0.4)
    }),
    // greedy densest-subgraph peel (Bahmani et al. 2012): drop every
    // vertex with deg ≤ (11/10)·avg per round — geometric shrink, ≤
    // log_{1.1} n rounds — and flag the round maximizing m/n by exact
    // cross-multiplied compare; the oracle replays every peel round
    "q196_densest_subgraph" -> ((s, dir) =>
      Traversals.densestSubgraph(c10Fixture(s, dir))),
    // CDC latest-per-key WITH RETRACTIONS (q181's missing delete half):
    // op = delete iff event_id % 7 == 0; keyed tombstone state replayed
    // over 4 triggers must equal the batch argmax with its alive flag
    "q197_cdc_tombstones" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayLatestPerKeyCdc(Tables.events(s, dir))),
    // exact-integer BM25 top-10 per fixed query (k1=6/5, b=3/4 →
    // micro-unit integer arithmetic after one idf ROUND, the q77
    // discipline); query terms broadcast-prune the postings first
    "q198_bm25_topk" -> ((s, dir) =>
      graft.functions.Bm25.topK(Tables.documents(s, dir))),
    // time-respecting earliest-arrival BFS over the temporal
    // co-purchase events from the minimum part id — static BFS is
    // WRONG on temporal graphs; rounds relax only improved frontiers
    "q199_temporal_bfs" -> ((s, dir) => {
      val te = GraphFixtures.coPurchaseTemporal(s, dir)
      val src = te.agg(min(col("src")).cast("long")).collect()(0).getLong(0)
      Traversals.temporalBfs(te, src)
    }),
    // bucketed point-in-interval range join: bin expansion turns the
    // O(|P|·|I|) BroadcastNestedLoop theta-join into one equi-join on
    // the bin key + an exact post-filter; 14-day promo windows from
    // every 20th order counting every 10th order's shipments
    "q200_range_join" -> ((s, dir) => {
      val iv = Tables.orders(s, dir).where(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey").cast("long").as("i_id"),
          unix_timestamp(col("o_orderdate")).as("lo"),
          (unix_timestamp(col("o_orderdate")) + 1209600L).as("hi"))
      val pts = Tables.lineitem(s, dir).where(col("l_orderkey") % 10 === 0)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("p_id"),
          unix_timestamp(col("l_shipdate")).as("p"))
      graft.operators.RangeJoin.countPerInterval(pts, iv, 1209600L)
    }),
    // directed reciprocity over the D fixture — fraction of arcs whose
    // reverse exists; one reversed-key self-semi-join, exact integers
    "q201_reciprocity" -> ((s, dir) =>
      graft.operators.DegreeMetrics.reciprocity(
        GraphFixtures.directedParts(s, dir))),
    // streaming HLL distinct parity: per-lang approx_count_distinct
    // maintained in update-mode state across 4 triggers — register
    // max-merge is split-invariant, so streaming must equal the batch
    // sketch BIT-FOR-BIT (plus q57's 5·rsd exact-count gate)
    "q202_streaming_hll" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayHllDistinct(Tables.documents(s, dir))),
    // bloom-gated decontamination: benchmark fingerprints become a
    // broadcast (word, bits) Bloom table; only might-contain train
    // shingles reach the exact verify — output EXACTLY the q83-style
    // anti-join survivors (Bloom has no false negatives)
    "q203_bloom_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Corpus.bloomDecontaminate(
        docs.where(col("doc_id") % 10 =!= 7),
        docs.where(col("doc_id") % 10 === 7))
    }),
    // aspect-ratio bucketing through the REAL decoder: variable-dim
    // PNGs (dims formula-recomputable) decode with ImageIO, bucket by
    // exact cross-multiplied ratio, pack into pixel-budget batches;
    // the oracle replays the dims formula — the decode round-trip IS
    // the check (q88's pattern)
    "q204_aspect_buckets" -> ((s, dir) =>
      Multimodal.aspectBuckets(
        Multimodal.syntheticImagesVar(Tables.documents(s, dir)).toDF())),
    // streaming count-min parity: the global CMS aggregate maintained
    // in update-mode state across 4 triggers — counter addition
    // commutes, so the streamed sketch BYTES must equal the one-shot
    // batch sketch exactly; q56's heavy-hitter gate rides along
    "q205_streaming_cms" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayCmsHeavyHitters(Tables.documents(s, dir))),
    // latest-departure temporal reachability (q199's dual): lt(v) =
    // latest time information may leave v and still reach the target
    // time-respectingly by the deadline — max-relax with the frontier
    // rule flipped; increases REOPEN previously-rejected edges
    "q206_temporal_departure" -> ((s, dir) => {
      val te = GraphFixtures.coPurchaseTemporal(s, dir)
      val tgt = te.agg(min(col("src")).cast("long")).collect()(0).getLong(0)
      Traversals.temporalDeparture(te, tgt, 4102444800L)
    }),
    // time-series gap-fill: per user, HOURLY event counts over the
    // user's own [first, last] activity span with EMPTY hours
    // materialized as zero rows (sequence+explode left-join — the
    // resampling primitive; a downstream model must see the silence,
    // not skip it); spans are per-user so no global dense grid
    "q207_gapfill" -> ((s, dir) => {
      val hours = Tables.events(s, dir)
        .groupBy(col("user_id"),
          expr("ts_ns div 3600000000000").cast("long").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val spans = hours.groupBy("user_id")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      spans.select(col("user_id"),
          explode(sequence(col("h0"), col("h1"))).as("h"))
        .join(hours, Seq("user_id", "h"), "left")
        .select(col("user_id"), (col("h") * 3600).as("win"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
    }),
    // trailing 3-hour moving average OVER THE GAP-FILLED series (the
    // zeros matter: a rolling mean over only-observed rows silently
    // skips the silence) — exact integer micro-units, short head
    // windows divide by their true length
    "q208_rolling_counts" -> ((s, dir) => {
      val filled = queries("q207_gapfill")(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("win").rowsBetween(-2, 0)
      filled.select(col("user_id"), col("win"), col("cnt"),
          sum(col("cnt")).over(w).as("c3"),
          count(lit(1)).over(w).as("n3"))
        .select(col("user_id"), col("win"), col("cnt"),
          expr("c3 * 1000000 div n3").as("ma_micro"))
    }),
    // DECREMENTAL MSF (q191's retraction pattern for the forest,
    // completing the maintenance matrix CC ✓✓ / triangles ✓✓ / MSF ✓✓):
    // the full graph's forest + a 10% edge DELETION → the shrunk
    // graph's forest, recomputing Borůvka only inside the components a
    // FOREST-edge deletion touches (non-forest deletions provably
    // change nothing — red rule). Output = single-linkage cut of the
    // decrementally-maintained forest at a fresh τ, so the oracle (CC
    // of the weight-filtered SURVIVING edge set, which never sees any
    // forest) hash-checks the maintained forest's CONTENT: a missing
    // replacement edge or a stale pass-through flips connectivity at τ
    "q209_decremental_msf" -> ((s, dir) => {
      val ew = c10Fixture(s, dir)
        .select(col("src"), col("dst"), edgeWeight.as("weight"))
      val deleted = ew.where(col("weight") % 10 === 3).select("src", "dst")
      val forest = SpanningForest.boruvkaDecremental(
        msfMemo(s, dir), ew, deleted)
      SpanningForest.singleLinkage(
        ew.where(col("weight") % 10 =!= 3), forest, 268435456L)
    }),
    // CDC-DRIVEN MAINTENANCE END-TO-END — the actual daily-refresh
    // pipeline the maintenance operators exist for: an edge changelog
    // (upserts, tombstones, a resurrection) replays through keyed CDC
    // state (q197's machinery keyed on the EDGE); the final state's
    // alive keys drive the INCREMENTAL insert path and its tombstoned
    // keys the DECREMENTAL delete path. The maintained labels must
    // hash-equal a full CC recompute of the final graph — the oracle
    // never sees the changelog, only the net edge set
    "q210_cdc_maintained_cc" -> ((s, dir) => {
      val te = GraphFixtures.edgeStream(s, dir).select("src", "dst")
        .distinct().withColumn("tag", edgeTag).cutLineage()
      val fin = graft.streaming.StreamingOps.replayEdgeCdc(cdcChangelog(te))
      val inserts = fin.where(col("alive") === 1).select("src", "dst")
      val deletes = fin.where(col("alive") === 0).select("src", "dst")
      val base = te.where(col("tag") =!= 8).select("src", "dst")
      val labels0 = ConnectedComponents.auto(base)
      val labels1 = ConnectedComponents.incremental(labels0, inserts)
      ConnectedComponents.decremental(labels1,
        base.unionByName(inserts), deletes)
    }),
    // the triangle twin of q210 over the co-purchase graph: the SAME
    // changelog-resolved insert/delete sets drive deltaTriangles
    // (wedge-close inserts through the grown graph) and
    // decrementalTriangles (wedge-close deletes through it); the
    // composed counts must hash-equal full recounts of the base,
    // grown, and final edge sets
    "q211_cdc_maintained_triangles" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      val grown = Triangles.deltaTriangles(base, inserts)
      val after = Triangles.decrementalTriangles(
        base.unionByName(inserts).distinct(), deletes)
      grown.select(col("n_old").as("n_base"), col("n_new").as("n_created"),
          col("n_total").as("n_grown"))
        .crossJoin(after.select(col("n_destroyed"),
          col("n_remaining").as("n_final")))
    }),
    // ANN INDEX LIFECYCLE — build once, query many (the shape a
    // 10⁹-vector deployment runs, closing q162's rebuild-per-query
    // gap): fit + encode, PERSIST codes as a vec_id-bucketed catalog
    // table and codebooks as a tiny table, then serve the SAME
    // recall-gated top-k from the index RELOADED IN A FRESH SESSION
    // (shared catalog) — the served plan scans the bucketed codes
    // table, never re-encodes the corpus (plan-asserted in the spec)
    "q212_ann_pq_persisted" -> ((s, dir) => {
      val model = graft.functions.PQ.fit(Tables.embeddings(s, dir))
      graft.functions.PQ.save(model,
        graft.functions.PQ.index(Tables.embeddings(s, dir), model),
        "graft_pq_idx")
      val fresh = s.newSession()
      val (m2, codes) = graft.functions.PQ.load(fresh, "graft_pq_idx")
      val emb = Tables.embeddings(fresh, dir)
      val q = emb.where(col("vec_id") <= 9)
      recallGate(Similarity.bruteForceTopK(emb, q, 5),
        graft.functions.PQ.topK(codes, emb, q, m2, 5, shortlist = 64), 0.5)
    }),
    // BYTE-LEVEL BPE (q138's GPT-2/LLaMA-class sibling): merges learned
    // over UTF-8 BYTES (2-hex-digit symbols, 256-value base vocab —
    // byte fallback by construction) on a fixture whose tail is
    // non-whitespace-delimited CJK glued to a per-doc digit and a
    // special token with NO surrounding whitespace — the fence splits
    // segments BEFORE word segmentation, so no merge crosses it; the
    // oracle replays learning as an unrolled hex-replace chain
    "q213_bpe_bytes_vocab" -> ((s, dir) =>
      graft.functions.Bpe.learnedVocabBytes(s, byteBpeDocs(s, dir), 10, "<EOD>")),
    // per-doc byte-level token counts under the learned merges (q139's
    // sibling): broadcast word→tokens dictionary, one corpus pass
    "q214_bpe_bytes_tokens" -> ((s, dir) =>
      graft.functions.Bpe.docTokenCountsBytes(byteBpeDocs(s, dir), 10, "<EOD>")),
    // the MSF leg of the CDC wiring — completing CDC × {CC, triangles,
    // MSF}: the same changelog resolution drives boruvkaDelta (alive
    // keys as the insert delta) then boruvkaDecremental (tombstoned
    // keys as the delete set); output = single-linkage cut of the
    // twice-maintained forest at a fresh τ, so the oracle (CC of the
    // weight-filtered NET edge set — q189's identity) hash-checks the
    // composed maintenance chain's CONTENT end to end
    "q215_cdc_maintained_msf" -> ((s, dir) => {
      val te = c10Fixture(s, dir)
        .select(col("src"), col("dst"), edgeWeight.as("weight"))
        .withColumn("tag", edgeTag).cutLineage()
      val fin = c10CdcMemo(s, dir)
      val wByKey = te.select(col("src"), col("dst"), col("weight"))
      val inserts = fin.where(col("alive") === 1).select("src", "dst")
        .join(wByKey, Seq("src", "dst"))
      val deletes = fin.where(col("alive") === 0).select("src", "dst")
      val base = te.where(col("tag") =!= 8)
        .select("src", "dst", "weight")
      val f1 = SpanningForest.boruvka(base)
      val f2 = SpanningForest.boruvkaDelta(f1, inserts)
      val f3 = SpanningForest.boruvkaDecremental(f2,
        base.unionByName(inserts), deletes)
      SpanningForest.singleLinkage(
        te.where(col("tag") =!= 3 && col("tag") =!= 4)
          .select("src", "dst", "weight"), f3, 429496729L)
    }),
    // IVF persisted-index lifecycle (q212's sibling for the
    // cell-probing family): cells persisted as a cid-PARTITIONED
    // catalog table (probe = partition-pruned read of nprobe/k of the
    // corpus), centroids as a tiny table; reloaded in a fresh session
    // and served through q36's recall gate
    "q216_ann_ivf_persisted" -> ((s, dir) => {
      val model = graft.functions.IVF.fit(Tables.embeddings(s, dir), 16)
      graft.functions.IVF.save(model,
        graft.functions.IVF.index(Tables.embeddings(s, dir), model),
        "graft_ivf_idx")
      val fresh = s.newSession()
      val (m2, cells) = graft.functions.IVF.load(fresh, "graft_ivf_idx")
      val emb = Tables.embeddings(fresh, dir)
      val q = emb.where(col("vec_id") <= 9)
      recallGate(Similarity.bruteForceTopK(emb, q, 5),
        graft.functions.IVF.topK(cells, q, m2, 5, nprobe = 4), 0.4)
    }),
    // deterministic random walks (DeepWalk corpus generation): 8 steps
    // from every C10 vertex, successor = argmin of the portable
    // step-keyed hash over neighbors — the oracle replays the walk
    // step by step, so every emitted (start, step, vertex) is pinned
    "q217_random_walks" -> ((s, dir) =>
      graft.operators.Walks.deterministicWalks(
        c10Fixture(s, dir), 8)),
    // STREAMING INGEST into the PERSISTED PQ index — the full index
    // lifecycle loop (build → persist → stream-append → reload →
    // serve): the model trains on the 90% base snapshot, its codes
    // persist as the bucketed catalog table, the remaining 10% streams
    // through the FROZEN codebooks appending per trigger, and a fresh
    // session serves the recall gate against the WHOLE corpus — with
    // completeness folded into the gate flag (a lost append shrinks
    // the reloaded index and flips recall_ok even if recall survives)
    "q219_ann_pq_stream_ingest" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.where(col("vec_id") % 10 =!= 7)
      val model = graft.functions.PQ.fit(base)
      graft.functions.PQ.save(model,
        graft.functions.PQ.index(base, model), "graft_pq_stream_idx")
      graft.streaming.StreamingOps.replayPqIngest(
        emb.where(col("vec_id") % 10 === 7), model, "graft_pq_stream_idx")
      val fresh = s.newSession()
      val (m2, codes) = graft.functions.PQ.load(fresh, "graft_pq_stream_idx")
      val all = Tables.embeddings(fresh, dir)
      val q = all.where(col("vec_id") <= 9)
      val complete = codes.count() == all.count()
      recallGate(Similarity.bruteForceTopK(all, q, 5),
          graft.functions.PQ.topK(codes, all, q, m2, 5, shortlist = 64), 0.5)
        .select(col("n_queries"), col("n_exact"),
          (col("recall_ok") && lit(complete)).as("recall_ok"))
    }),
    // BM25 INDEX MAINTENANCE (the maintenance matrix applied to the
    // retrieval index): remove every doc_id % 10 == 3, add shifted
    // copies of doc_id % 10 == 8 with ' spark merge' appended (so the
    // delta visibly moves the query-term scores); the maintained
    // compact (doc, token, tf) table — one anti-join + a tokenize of
    // the ADDED docs only, the old text never re-scanned — must serve
    // scores bit-equal to a full rebuild of the final corpus
    "q218_bm25_maintained" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val removed = docs.where(col("doc_id") % 10 === 3).select("doc_id")
      val added = docs.where(col("doc_id") % 10 === 8)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(coalesce(col("text"), lit("")), lit(" spark merge")).as("text"))
      graft.functions.Bm25.topKFrom(
        graft.functions.Bm25.maintain(
          graft.functions.Bm25.index(docs), added, removed))
    }),
    // HyperBall (Boldi & Vigna 2013): per-vertex ball-size estimates
    // |B(v,t)| for t=1..3 from mergeable HLL registers in exact
    // integer arithmetic — the 100 TB distance-distribution /
    // effective-diameter primitive (q74's double-sweep bounds ONE
    // eccentricity; this estimates ALL of them in k register rounds).
    // The oracle replays hash, rank, 3 register-max rounds, and the
    // floor-division estimator bit-for-bit
    "q220_hyperball" -> ((s, dir) =>
      graft.operators.HyperBall.ballSizes(c10Fixture(s, dir), 3)),
    // node2vec-biased walks (q217's second-order sibling): successor
    // argmin over hash·factor with the factor picked by d(prev, n) ∈
    // {0,1,2} — the return/stay/move-away classification is one join
    // against the edge list per step; the oracle unrolls all 8 steps
    // with the identical CASE
    "q221_node2vec_walks" -> ((s, dir) =>
      graft.operators.Walks.biasedWalks(c10Fixture(s, dir), 8)),
    // layout quality: exact replication factor + edge balance of 1D
    // hash vs 2D grid edge partitioning at P=64 — the numbers that
    // pick the physical layout before any iterative operator runs
    "q222_partition_quality" -> ((s, dir) =>
      graft.operators.Partitioning.layoutQuality(
        c10Fixture(s, dir), 64)),
    // systematic PPS sampling: 200 token-weighted draws via the
    // two-level distributed prefix sum; Σ n_hits = 200 exactly
    "q223_pps_sample" -> ((s, dir) =>
      graft.functions.Corpus.ppsSample(Tables.documents(s, dir), 200)),
    // approximate harmonic centrality FROM the HyperBall registers —
    // the application the algorithm exists for: first-reached-at-t
    // vertices count 1/t, estimated from ball-size differences in
    // exact integer micro-units (q128's exact harmonic closeness is
    // the small-graph reference; this is its 100 TB path)
    "q224_hyperball_closeness" -> ((s, dir) =>
      graft.operators.HyperBall.harmonicCentrality(c10Fixture(s, dir), 3)),
    // landmark distance index: ONE multi-source BFS from the 8
    // highest-degree vertices — all landmark trees advance in the same
    // round (one frontier join per round total); the index is what a
    // 100 TB deployment precomputes instead of per-query BFS
    "q225_landmark_index" -> ((s, dir) => landmarkMemo(s, dir)),
    // distance estimates SERVED from the index: d̂(a,b) = min over
    // landmarks of d(a,lm)+d(lm,b) for a deterministic hash-class pair
    // sample — two index joins + a min, no BFS at query time
    "q226_landmark_distances" -> ((s, dir) => {
      val e = c10Fixture(s, dir)
      val verts = e.select(col("src").as("id")).union(e.select(col("dst")))
        .distinct()
      val cls = graft.Portable.prio31(col("id")) % 29
      graft.operators.Traversals.landmarkEstimates(landmarkMemo(s, dir),
        verts.where(cls === 1).select(col("id").as("a"))
          .crossJoin(verts.where(cls === 2).select(col("id").as("b"))))
    }),
    // STREAMING HyperBall register maintenance: update-mode max-agg
    // over per-endpoint sketch contributions across 4 triggers — max
    // is split-invariant AND replay-absorbing (at-least-once-safe), so
    // the streamed (id, est) must equal the batch t=1 round bit-for-
    // bit; the oracle IS the batch g1 SQL. Decremental registers are
    // impossible by construction (max cannot retract — documented)
    "q227_streaming_hyperball" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayHyperballT1(c10Fixture(s, dir))),
    // STREAMING HyperBall BEYOND RADIUS 1 (q227 carries t=1 in
    // update-mode state; t ≥ 2 needs neighbors' t−1 registers, which
    // later edges keep growing): register TABLES are the state —
    // per-trigger incremental R1 fold + periodic batch rounds 2..k
    // from the persisted R1 over the accumulated edges, all through
    // exactly-once per-batch overwrite dirs. The final tables must
    // equal the batch g1..g2 register rounds bit-for-bit
    "q234_streaming_hyperball_r2" -> ((s, dir) =>
      graft.streaming.StreamingOps.replayHyperballRounds(
        c10Fixture(s, dir), 2)),
    // DISTANCE DISTRIBUTION / EFFECTIVE DIAMETER — the one-row corpus
    // deliverable HyperBall exists to produce (Boldi & Vigna 2013):
    // ball-size sums S_t over the q220 register rounds, then median
    // distance, mean distance, and the 0.9 effective diameter by exact
    // integer interpolation (radius-3 horizon, documented truncation)
    "q233_distance_distribution" -> ((s, dir) =>
      graft.operators.HyperBall.distanceDistribution(c10Fixture(s, dir), 3)),
    // CDC-MAINTAINED CORENESS — the maintenance matrix extended to
    // DECOMPOSITIONS (q147 was full-recompute only): the shared
    // changelog resolution drives corenessMaintain with the alive keys
    // as inserts and tombstoned keys as deletes against the base
    // (tag ≠ 8) decomposition; the maintained values must hash-equal a
    // full h-index fixpoint over the NET edge set (the oracle replays
    // that fixpoint and never sees the changelog). Certification pays
    // the base coreness + the maintenance; production pays maintenance
    // against the stored decomposition only
    "q232_cdc_maintained_coreness" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      graft.operators.Traversals.corenessMaintain(
        graft.operators.Traversals.coreness(base), base, inserts, deletes,
        labels = Some(c10SuperLabelsMemo(s, dir)))
    }),
    // CDC-MAINTAINED TRUSSNESS — the edge-keyed decomposition leg
    // (q232 is the vertex-keyed one): the shared changelog resolution
    // drives trussnessMaintain; unaffected supergraph components pass
    // through verbatim (trussness is per-component — triangles never
    // cross), affected ones re-peel on their induced net edges. The
    // oracle replays the full peel over the NET edge set
    "q237_cdc_maintained_trussness" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      Triangles.trussnessMaintain(
        Triangles.trussness(base), base, inserts, deletes,
        labels = Some(c10SuperLabelsMemo(s, dir)))
    }),
    // LANDMARK INDEX PERSISTED + SERVED FROM A FRESH SESSION (q212's
    // lifecycle discipline applied to distances, closing the q225/q226
    // same-session gap): the index persists as an id-bucketed catalog
    // table and a fresh session answers a DIFFERENT deterministic pair
    // sample from the table alone — the serving plan is two index
    // joins + a min-agg over the bucketed scan, no BFS at query time
    // (plan-asserted in the spec)
    "q230_landmark_persisted" -> ((s, dir) => {
      graft.operators.Traversals.saveLandmarkIndex(
        landmarkMemo(s, dir), "graft_lm_idx")
      val fresh = s.newSession()
      val idx = graft.operators.Traversals.loadLandmarkIndex(fresh, "graft_lm_idx")
      // the pair sample is derived from the index INSIDE the fresh
      // session (ADVICE r11: the old shape joined a fresh-session scan
      // against the original session's memoized fixture, which worked
      // only because the memo is checkpoint-backed). Index ids are the
      // landmark-reachable vertices — exactly the ids
      // landmarkEstimates can answer for; pairs over any wider vertex
      // set produce the identical rows (the unreachable side never
      // joins), so this is hash-equal to the edge-derived sample
      val verts = idx.select(col("id")).distinct()
      val cls = graft.Portable.prio31(col("id")) % 29
      graft.operators.Traversals.landmarkEstimates(idx,
        verts.where(cls === 3).select(col("id").as("a"))
          .crossJoin(verts.where(cls === 4).select(col("id").as("b"))))
    }),
    // INSERT MAINTENANCE of the landmark index — the monotone half of
    // the distance lifecycle: the index builds on the base graph
    // (tag ≠ 8), the tag-8 edges arrive as the insert delta, and
    // label-correcting relaxation seeded at the delta endpoints brings
    // every stored distance down to the grown graph's truth WITHOUT a
    // fresh BFS. The oracle runs the full BFS over the grown graph
    // from the SAME base-picked landmarks — a missed propagation or a
    // stale pass-through flips the hash
    "q231_landmark_maintained" -> ((s, dir) => {
      val e = c10Fixture(s, dir).withColumn("tag", edgeTag).cutLineage()
      val inserts = e.where(col("tag") === 8).select("src", "dst")
      graft.operators.Traversals.landmarkMaintainInserts(
        baseLandmarkMemo(s, dir), e.select("src", "dst"), inserts)
    }),
    // CDC-WIRED LANDMARK MAINTENANCE — the landmark legs driven
    // end-to-end by the RESOLVED CHANGELOG (q231/q236 take ad-hoc
    // tag-sliced deltas; this is the q210/q232/q237 identity applied
    // to distances): the shared 4-trigger keyed-state replay resolves
    // the changelog, its alive keys relax the base index downward over
    // the grown graph (a resurrection key already present in the base
    // is a no-op — its distances are already exact), then its
    // tombstoned keys cascade-invalidate and boundary-repair over the
    // shrunk graph. The oracle replays a full multi-source BFS over
    // the NET graph from the BASE-picked landmarks and never sees the
    // changelog — a missed relaxation, a stale survivor, or an
    // over-kept entry flips the hash
    "q239_cdc_maintained_landmark" -> ((s, dir) => {
      val (_, inserts, deletes) = c10CdcSplits(s, dir)
      // grown graph = base ∪ alive-inserts = the full tagged fixture
      val grown = c10Fixture(s, dir).select("src", "dst")
      val afterIns = graft.operators.Traversals.landmarkMaintainInserts(
        baseLandmarkMemo(s, dir), grown, inserts)
      graft.operators.Traversals.landmarkMaintainDeletes(
        afterIns, grown, deletes)
    }),
    // CDC-MAINTAINED COMMUNITIES — the decomposition family's LAST
    // maintenance leg (coreness q232 and trussness q237 have theirs):
    // the shared changelog resolution drives louvainMaintain against
    // the base (tag ≠ 8) labeling. The operator is the COMPONENT-LOCAL
    // Louvain (each component uses its own edge mass in gain and gate
    // — the decomposable objective; on a connected graph it equals
    // classic Louvain), because with global m ANY delta re-couples
    // every component through the gain denominator and nothing could
    // ever pass through verbatim. Certification pays the base labeling
    // + the maintenance; the oracle replays the full per-component
    // 2-level unroll over the NET edge set and never sees the
    // changelog. Emitted as the final communities' exact-integer
    // modularity ingredients over the net graph (q124's shape)
    "q238_cdc_maintained_communities" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      // distinct: the alive-insert set overlaps base on resurrection
      // keys (tag 9), and communityStats counts edge ROWS
      val netEdges = base.unionByName(inserts).distinct()
        .join(deletes, Seq("src", "dst"), "left_anti")
      graft.operators.Communities.communityStats(netEdges,
        graft.operators.Communities.louvainMaintain(
          graft.operators.Communities.louvainByComponent(base, 2, 2)
            .toDF("id", "community"),
          base, inserts, deletes,
          labels = Some(c10SuperLabelsMemo(s, dir)))
          .toDF("id", "label"))
    }),
    // WARM-START INCREMENTAL PAGERANK — the centrality family joins
    // the maintenance matrix: q54's integer fixed point runs 10
    // uniform-start rounds on the BASE (tag ≠ 8) graph (the stored
    // nightly ranks), then the NET (tag ∉ {3,4}) graph iterates 5
    // rounds SEEDED from those ranks instead of restarting uniform.
    // The oracle replays the whole pipeline — base rounds, seed, warm
    // rounds — bit-for-bit; the fewer-rounds-to-stationarity WIN is
    // proven by the Δ-sentinel spec and the tier-2 probe (integer
    // truncation makes stationary states non-unique, so bit-equality
    // to a cold recompute is not the contract — see
    // PageRank.fixedPointFrom's scaladoc for the measured evidence)
    "q240_pagerank_warm" -> ((s, dir) => {
      val e = c10Fixture(s, dir).withColumn("tag", edgeTag).cutLineage()
      def sym(df: DataFrame) = df.unionByName(
        df.select(col("dst").as("src"), col("src").as("dst")))
      val base = e.where(col("tag") =!= 8).select("src", "dst")
      val net = e.where(!col("tag").isin(3, 4)).select("src", "dst")
      val prev = graft.operators.PageRank.fixedPoint(sym(base), 10)
      graft.operators.PageRank.fixedPointFrom(sym(net), prev, 5)
    }),
    // DELETE MAINTENANCE of the landmark index — the non-monotone half
    // completing the distance lifecycle (q231 relaxes inserts downward;
    // deletions can only INCREASE distances): cascade invalidation of
    // entries whose support chains died through a deleted edge, then
    // boundary repair by the shared relaxation — never a fresh BFS.
    // The oracle replays the full BFS over the SHRUNK graph from the
    // ORIGINAL full-graph landmarks; a stale survivor or an over-kept
    // entry flips the hash
    "q236_landmark_maintained_del" -> ((s, dir) => {
      val e = c10Fixture(s, dir).withColumn("tag", edgeTag).cutLineage()
      graft.operators.Traversals.landmarkMaintainDeletes(
        landmarkMemo(s, dir), e.select("src", "dst"),
        e.where(col("tag") === 3).select("src", "dst"))
    }),
    // ANN INDEX DELETION — the takedown half completing the index
    // lifecycle matrix (build q162 / persist q212 / stream-ingest q219
    // / DELETE here): the model trains on the FULL corpus, its codes
    // persist, then every vec_id % 10 == 3 is tombstoned out of the
    // bucketed codes table by a broadcast anti-join (no re-encode, no
    // re-train — codebooks untouched), and a FRESH session serves the
    // recall gate from the shrunken index against the NET vector set.
    // Completeness is folded into the gate flag as vec_id MEMBERSHIP
    // equality: a surviving tombstone or a dropped survivor — even a
    // compensating pair of both — flips it even if recall holds
    "q229_ann_pq_deleted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.functions.PQ.fit(emb)
      graft.functions.PQ.save(model,
        graft.functions.PQ.index(emb, model), "graft_pq_del_idx")
      graft.functions.PQ.delete(s, "graft_pq_del_idx",
        emb.where(col("vec_id") % 10 === 3).select("vec_id"))
      val fresh = s.newSession()
      val (m2, codes) = graft.functions.PQ.load(fresh, "graft_pq_del_idx")
      val net = Tables.embeddings(fresh, dir).where(col("vec_id") % 10 =!= 3)
      val q = net.where(col("vec_id") <= 9)
      val complete = idSetEq(codes, net)
      recallGate(Similarity.bruteForceTopK(net, q, 5),
          graft.functions.PQ.topK(codes, net, q, m2, 5, shortlist = 64), 0.5)
        .select(col("n_queries"), col("n_exact"),
          (col("recall_ok") && lit(complete)).as("recall_ok"))
    }),
    // the IVF leg of the deletion matrix (q229's sibling): the
    // cid-PARTITIONED cells layout makes the delete genuinely
    // partition-pruned — one broadcast semi-join finds the affected
    // cids, ONLY those hive partitions are read and rewritten (dynamic
    // partition overwrite; fully-emptied cells dropped by DDL) —
    // centroids untouched, nothing re-assigned
    "q235_ann_ivf_deleted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.functions.IVF.fit(emb, 16)
      graft.functions.IVF.save(model,
        graft.functions.IVF.index(emb, model), "graft_ivf_del_idx")
      graft.functions.IVF.delete(s, "graft_ivf_del_idx",
        emb.where(col("vec_id") % 10 === 3).select("vec_id"))
      val fresh = s.newSession()
      val (m2, cells) = graft.functions.IVF.load(fresh, "graft_ivf_del_idx")
      val net = Tables.embeddings(fresh, dir).where(col("vec_id") % 10 =!= 3)
      val q = net.where(col("vec_id") <= 9)
      val complete = idSetEq(cells, net)
      recallGate(Similarity.bruteForceTopK(net, q, 5),
          graft.functions.IVF.topK(cells, q, m2, 5, nprobe = 4), 0.4)
        .select(col("n_queries"), col("n_exact"),
          (col("recall_ok") && lit(complete)).as("recall_ok"))
    }),
    // corpus-overlap pre-flight by HLL register algebra: |A∩B| ≈
    // est(A)+est(B)−est(A∪B), three register banks from ONE
    // aggregation over one pass of each corpus — the sizing check a
    // 100 TB pipeline runs BEFORE committing to the exact
    // decontamination join (q203's split reused: bench = doc_id%10==7)
    "q228_corpus_overlap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Sketches.tokenOverlap(
        docs.where(col("doc_id") % 10 =!= 7),
        docs.where(col("doc_id") % 10 === 7))
    }),
    // COMPONENT-LOCAL densest-subgraph peel (q196's global peel made
    // DECOMPOSABLE — each connected component peels against its own
    // (1+ε)·avg-degree threshold, the louvainByComponent move from
    // global m to m_c applied to density): per-component per-round
    // stats with an exact-integer earliest-max argmax per component.
    // The oracle replays the per-component unrolled peel over a
    // recursive min-label CC
    "q241_densest_by_component" -> ((s, dir) =>
      graft.operators.Traversals.densestByComponent(c10Fixture(s, dir),
        labels = Some(c10SuperLabelsMemo(s, dir)))),
    // CDC-MAINTAINED densest subgraph — the density family joins the
    // maintenance matrix (CC/triangles/MSF/coreness/trussness/
    // communities/landmarks/PageRank/BM25/ANN have theirs): the shared
    // changelog resolution drives densestMaintain against the base
    // (tag ≠ 8) per-component stats; unaffected components' rows pass
    // through VERBATIM (the peel is a pure function of the component's
    // induced edges — what q241's decomposable threshold buys),
    // affected supergraph components re-peel their induced net edges.
    // The oracle replays the full per-component peel over the NET edge
    // set and never sees the changelog
    "q242_cdc_maintained_densest" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      graft.operators.Traversals.densestMaintain(
        graft.operators.Traversals.densestByComponent(base),
        base, inserts, deletes,
        labels = Some(c10SuperLabelsMemo(s, dir)))
    }),
    // PERSISTED MinHash-LSH DEDUP INDEX (the q212 ANN lifecycle applied
    // to the dedup family): the corpus (doc_id % 10 != 7) is signatured
    // ONCE into the kp-PARTITIONED bucket table; a FRESH session probes
    // the held-out batch (doc_id % 10 == 7) — partition-pruned
    // candidate lookup + exact-Jaccard verify that re-shingles only the
    // candidate corpus docs. Oracle = the exact cross-split Jaccard
    // join (the q30 recall-by-construction gate: this corpus's true
    // pairs sit at j ≥ 0.9 where an 8-band × 4-row miss is < 1e-4, and
    // candidates are exact-verified, so false positives are impossible)
    "q243_dedup_index_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.DedupIndex.save(
        docs.where(col("doc_id") % 10 =!= 7), "graft_dedup_idx")
      val fresh = s.newSession()
      val d2 = Tables.documents(fresh, dir)
      graft.functions.DedupIndex.probe(fresh, "graft_dedup_idx",
        d2.where(col("doc_id") % 10 === 7),
        d2.where(col("doc_id") % 10 =!= 7), 0.5)
    }),
    // STREAMING INGEST into the persisted dedup index (q219's
    // exactly-once loop for the LSH bucket table): the base corpus
    // (doc_id % 10 ∉ {5,7}) is signatured and persisted, the % 10 == 5
    // docs stream through the FROZEN persisted hash family appending
    // per-trigger partitions, and a fresh session probes the held-out
    // batch against the WHOLE corpus — a lost or duplicated append
    // drops or keeps the (query, mod-5) pairs and flips the hash
    "q244_dedup_index_ingested" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.DedupIndex.save(
        docs.where(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 5),
        "graft_dedup_ing_idx")
      graft.streaming.StreamingOps.replayDedupIngest(
        docs.where(col("doc_id") % 10 === 5), "graft_dedup_ing_idx")
      val fresh = s.newSession()
      val d2 = Tables.documents(fresh, dir)
      graft.functions.DedupIndex.probe(fresh, "graft_dedup_ing_idx",
        d2.where(col("doc_id") % 10 === 7),
        d2.where(col("doc_id") % 10 =!= 7), 0.5)
    }),
    // DELETE maintenance of the persisted dedup index (q235's
    // partition-pruned takedown applied to LSH buckets): every
    // doc_id % 10 == 0 is tombstoned — its band keys RECOMPUTED from
    // its text through the persisted family pin down the kp partitions
    // its rows live in, and only those are rewritten — then a fresh
    // session probes the shrunken index. The oracle joins against the
    // NET corpus only; a surviving tombstone row would re-emit its
    // pair and flip the hash
    "q245_dedup_index_deleted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.DedupIndex.save(
        docs.where(col("doc_id") % 10 =!= 7), "graft_dedup_del_idx")
      graft.functions.DedupIndex.delete(s, "graft_dedup_del_idx",
        docs.where(col("doc_id") % 10 === 0))
      val fresh = s.newSession()
      val d2 = Tables.documents(fresh, dir)
      // the verify side keeps the tombstoned docs' text ON PURPOSE: a
      // bucket row that survived the delete (the bug class) must reach
      // verification and re-emit its pair — an excluded corpus would
      // mask it in the semi-join
      graft.functions.DedupIndex.probe(fresh, "graft_dedup_del_idx",
        d2.where(col("doc_id") % 10 === 7),
        d2.where(col("doc_id") % 10 =!= 7), 0.5)
    }),
    // STREAMING INGEST into the persisted IVF index — the ingest leg
    // that completed PQ's lifecycle (q219) applied to the cell-probing
    // family, closing the lifecycle matrix for BOTH index families:
    // the model trains on the 90% base, its cells persist
    // cid-partitioned, the remaining 10% streams through the FROZEN
    // centroids into per-trigger exactly-once partitions, and a fresh
    // session serves the recall gate against the WHOLE corpus with
    // completeness folded in (a lost append shrinks the reloaded index
    // and flips recall_ok even if recall survives)
    "q246_ann_ivf_stream_ingest" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.where(col("vec_id") % 10 =!= 7)
      val model = graft.functions.IVF.fit(base, 16)
      graft.functions.IVF.save(model,
        graft.functions.IVF.index(base, model), "graft_ivf_stream_idx")
      graft.streaming.StreamingOps.replayIvfIngest(
        emb.where(col("vec_id") % 10 === 7), model, "graft_ivf_stream_idx")
      val fresh = s.newSession()
      val (m2, cells) = graft.functions.IVF.load(fresh, "graft_ivf_stream_idx")
      val all = Tables.embeddings(fresh, dir)
      val q = all.where(col("vec_id") <= 9)
      val complete = cells.count() == all.count()
      recallGate(Similarity.bruteForceTopK(all, q, 5),
          graft.functions.IVF.topK(cells, q, m2, 5, nprobe = 4), 0.4)
        .select(col("n_queries"), col("n_exact"),
          (col("recall_ok") && lit(complete)).as("recall_ok"))
    }),
    // PER-COMPONENT bipartiteness (q17/q90 refined to the decomposable
    // per-component verdict): the parity-pair propagation run to the
    // GLOBAL fixpoint with one scalar driver action per round — no
    // per-component driver map (iterativeByGroup's retirement is wrong
    // at 10⁶ components) — then every component's verdict read out of
    // the converged state in one aggregation; component = least(e, o)
    // needs no separate CC pass
    "q247_bipartiteness_by_component" -> ((s, dir) =>
      graft.operators.Bipartiteness.bipartitenessByComponent(
        c10Fixture(s, dir))),
    // CDC-MAINTAINED bipartiteness — 2-colorability joins the
    // maintenance matrix INCLUDING deletions (the classically hard
    // direction: removing an odd cycle's last edge flips a component
    // back to bipartite; the carve-out recomputes inside the affected
    // component instead of un-merging parity state). Unaffected
    // verdicts pass through verbatim; the oracle replays per-component
    // parity reachability over the NET edge set
    "q248_cdc_maintained_bipartiteness" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      graft.operators.Bipartiteness.bipartitenessMaintain(
        graft.operators.Bipartiteness.bipartitenessByComponent(base),
        base, inserts, deletes,
        labels = Some(c10SuperLabelsMemo(s, dir)))
    }),
    // WARM-START HITS (q240's contract for the second link-analysis
    // scorer — the centrality family's maintenance legs complete): 5
    // uniform rounds on the BASE (tag ≠ 8) graph are the stored nightly
    // scores, then the NET graph iterates 3 rounds with the HUB vector
    // seeded from them (hubs ARE the iteration state — authorities are
    // derived first each round). The oracle replays base rounds → seed
    // → warm rounds bit-for-bit; fewer-rounds-to-stationarity is the
    // Δ-sentinel spec's claim, not bit-equality to a cold recompute
    "q249_hits_warm" -> ((s, dir) => {
      val e = c10Fixture(s, dir).withColumn("tag", edgeTag).cutLineage()
      graft.operators.Hits.fixedPointFrom(
        e.where(!col("tag").isin(3, 4)).select("src", "dst"),
        graft.operators.Hits.fixedPoint(
          e.where(col("tag") =!= 8).select("src", "dst"), 5), 3)
    }),
    // COMPACTION of the PQ index — the fold that closes the LSM
    // lifecycle (build q212 / ingest q219 / COMPACT here / delete
    // q229): the streamed delta folds into the vec_id-bucketed codes
    // table through the swap-rename crash discipline, the ingest side
    // table disappears, and a fresh session serves the full corpus
    // from ONE Exchange-free bucketed scan. The gate folds in both
    // halves of the fold contract: the ingest table is GONE and the
    // compacted index's membership equals the whole corpus (a dropped
    // or doubled ingested vector flips it even if recall survives)
    "q250_ann_pq_compacted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.where(col("vec_id") % 10 =!= 7)
      val model = graft.functions.PQ.fit(base)
      graft.functions.PQ.save(model,
        graft.functions.PQ.index(base, model), "graft_pq_cpt_idx")
      graft.streaming.StreamingOps.replayPqIngest(
        emb.where(col("vec_id") % 10 === 7), model, "graft_pq_cpt_idx")
      graft.functions.PQ.compact(s, "graft_pq_cpt_idx")
      val fresh = s.newSession()
      val (m2, codes) = graft.functions.PQ.load(fresh, "graft_pq_cpt_idx")
      val all = Tables.embeddings(fresh, dir)
      val q = all.where(col("vec_id") <= 9)
      val folded =
        !fresh.catalog.tableExists("graft_pq_cpt_idx_codes_ingest") &&
          idSetEq(codes, all)
      recallGate(Similarity.bruteForceTopK(all, q, 5),
          graft.functions.PQ.topK(codes, all, q, m2, 5, shortlist = 64), 0.5)
        .select(col("n_queries"), col("n_exact"),
          (col("recall_ok") && lit(folded)).as("recall_ok"))
    }),
    // the IVF leg of compaction (q250's sibling through the shared
    // marker-scoped fold): ingest rows already carry their home cid,
    // so the fold rewrites ONLY the affected cells (partition-pruned —
    // unaffected cells' files untouched, spec-asserted) and drops the
    // folded ingest partitions; serving returns to the purely
    // cid-pruned scan. Gate = recall + ingest-emptied + membership
    "q251_ann_ivf_compacted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.where(col("vec_id") % 10 =!= 7)
      val model = graft.functions.IVF.fit(base, 16)
      graft.functions.IVF.save(model,
        graft.functions.IVF.index(base, model), "graft_ivf_cpt_idx")
      graft.streaming.StreamingOps.replayIvfIngest(
        emb.where(col("vec_id") % 10 === 7), model, "graft_ivf_cpt_idx")
      graft.functions.IVF.compact(s, "graft_ivf_cpt_idx")
      val fresh = s.newSession()
      val (m2, cells) = graft.functions.IVF.load(fresh, "graft_ivf_cpt_idx")
      val all = Tables.embeddings(fresh, dir)
      val q = all.where(col("vec_id") <= 9)
      val folded =
        fresh.table("graft_ivf_cpt_idx_cells_ingest").isEmpty &&
          idSetEq(cells, all)
      recallGate(Similarity.bruteForceTopK(all, q, 5),
          graft.functions.IVF.topK(cells, q, m2, 5, nprobe = 4), 0.4)
        .select(col("n_queries"), col("n_exact"),
          (col("recall_ok") && lit(folded)).as("recall_ok"))
    }),
    // the dedup-index leg of compaction (the same shared fold over the
    // kp-partitioned LSH buckets): after ingest + compact, a fresh
    // session's probe must serve the identical pair set the
    // LSM-shaped index served in q244 — a row lost or doubled by the
    // fold drops or duplicates a (query, mod-5) pair and flips the
    // hash; the emptied ingest table and untouched unaffected
    // partitions are spec-asserted
    "q252_dedup_index_compacted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.DedupIndex.save(
        docs.where(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 5),
        "graft_dedup_cpt_idx")
      graft.streaming.StreamingOps.replayDedupIngest(
        docs.where(col("doc_id") % 10 === 5), "graft_dedup_cpt_idx")
      graft.functions.DedupIndex.compact(s, "graft_dedup_cpt_idx")
      val fresh = s.newSession()
      val d2 = Tables.documents(fresh, dir)
      graft.functions.DedupIndex.probe(fresh, "graft_dedup_cpt_idx",
        d2.where(col("doc_id") % 10 === 7),
        d2.where(col("doc_id") % 10 =!= 7), 0.5)
    }),
    // CDC-WIRED warm-start PageRank — q240's seeded fixed point driven
    // by the RESOLVED changelog instead of ad-hoc tag deltas (the q239
    // closure applied to the centrality family): the streamed
    // latest-wins CDC state supplies the insert/tombstone sets, net =
    // (base ∪ inserts) ∖ deletes under tombstone-wins, and the seeded
    // iteration over it must land bit-equal to the oracle's replay of
    // the same unroll over tags ∉ {3,4} — the end-to-end identity
    // "changelog resolution ≡ tag predicate" that q210 certifies for
    // CC, certified here for the warm-start leg
    "q253_cdc_warm_pagerank" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      def sym(df: DataFrame) = df.unionByName(
        df.select(col("dst").as("src"), col("src").as("dst")))
      val net = base.unionByName(inserts).distinct()
        .join(deletes, Seq("src", "dst"), "left_anti")
      val prev = graft.operators.PageRank.fixedPoint(sym(base), 10)
      graft.operators.PageRank.fixedPointFrom(sym(net), prev, 5)
    }),
    // the HITS twin (q249 through the resolved changelog): hub scores
    // seeded from the base fixed point, net graph from the CDC state,
    // bit-equal to the oracle's tag-predicate replay
    "q254_cdc_warm_hits" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      val net = base.unionByName(inserts).distinct()
        .join(deletes, Seq("src", "dst"), "left_anti")
      graft.operators.Hits.fixedPointFrom(net,
        graft.operators.Hits.fixedPoint(base, 5), 3)
    }),
    // CDC-MAINTAINED HYPERBALL — the maintenance matrix extended to
    // the NEIGHBORHOOD-FUNCTION family (q220 was full-recompute only):
    // balls never cross components and the register state is a
    // deterministic pure function of the ball's member ids, so
    // unaffected supergraph components' (id, t, est) rows pass through
    // VERBATIM and only affected components re-run the k register
    // rounds over their induced net edges. The maintained rows must
    // hash-equal the oracle's full register replay over the NET edge
    // set (tags ∉ {3,4}) — the oracle never sees the changelog
    "q255_cdc_maintained_hyperball" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      graft.operators.HyperBall.ballSizesMaintain(
        graft.operators.HyperBall.ballSizes(base, 3), base, inserts, deletes,
        3, labels = Some(c10SuperLabelsMemo(s, dir)))
    }),
    // MAINTAINED DISTANCE DISTRIBUTION — the one-row corpus
    // deliverable (q233) fed from the MAINTAINED register state
    // instead of a cold run: the statistics are a pure aggregation of
    // the per-vertex ball rows, and since the maintained balls are
    // bit-equal to a cold net-graph run, so are median/mean/effective
    // diameter. Production pays carve + affected-slice rounds +
    // one aggregation; certification pays the base run in-query
    "q256_cdc_maintained_distdist" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      graft.operators.HyperBall.distanceDistributionFrom(
        graft.operators.HyperBall.ballSizesMaintain(
          graft.operators.HyperBall.ballSizes(base, 3, includeZero = true),
          base, inserts, deletes, 3, includeZero = true,
          labels = Some(c10SuperLabelsMemo(s, dir))), 3)
    }),
    // MAINTAINED HARMONIC CENTRALITY — the third HyperBall deliverable
    // (q224) fed from the maintained register state: hc_micro is a
    // per-vertex window/difference over the ball rows, so it inherits
    // the maintained balls' bit-equality to a cold net-graph run
    "q257_cdc_maintained_harmonic" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      graft.operators.HyperBall.harmonicCentralityFrom(
        graft.operators.HyperBall.ballSizesMaintain(
          graft.operators.HyperBall.ballSizes(base, 3, includeZero = true),
          base, inserts, deletes, 3, includeZero = true,
          labels = Some(c10SuperLabelsMemo(s, dir))))
    }),
    // CDC-MAINTAINED LOCAL CLUSTERING — the q58 composition through
    // the carve-out: degree and per-vertex triangle count are both
    // component-pure, so unaffected components' (id, degree,
    // triangles, coeff) rows pass through verbatim and affected ones
    // recount over their induced net edges. The oracle replays the
    // full composition over the NET edge set
    "q258_cdc_maintained_clustering" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      Triangles.clusteringMaintain(
        Triangles.clusteringCoefficients(base), base, inserts, deletes,
        labels = Some(c10SuperLabelsMemo(s, dir)))
    }),
    // INSERT-DELTA HYPERBALL GROWTH — the systolic refinement (Boldi &
    // Vigna 2013 §4: propagate only CHANGED registers) for exactly the
    // regime where q255's carve-out degenerates: one giant component,
    // small insert batch. The stored per-round register tables grow by
    // delta propagation — per round, joins touch only edges incident
    // to the changed wavefront plus the inserts, never the full |E| —
    // and land BIT-EQUAL to the cold rounds over the grown graph
    // (registers are monotone under inserts; every unchanged
    // contribution is already inside the stored round). The oracle is
    // the full register replay over the grown graph (= the whole C10)
    "q263_hyperball_grown" -> ((s, dir) => {
      val e = c10Fixture(s, dir).withColumn("tag", edgeTag).cutLineage()
      val base = e.where(col("tag") =!= 8).select("src", "dst")
      val inserts = e.where(col("tag") === 8).select("src", "dst")
      graft.operators.HyperBall.ballSizesGrowFrom(
        graft.operators.HyperBall.registerRounds(base, 3), base, inserts, 3)
    }),
    // ALGEBRAICALLY MAINTAINED ASSORTATIVITY — a third maintenance
    // pattern beside the carve-out and the systolic growth: the
    // statistic is a closed-form function of four exact-integer sums,
    // and a delta perturbs only terms whose endpoint degrees changed —
    // old incident terms subtract, net incident terms add, everything
    // else cancels exactly. Work ∝ Σ degree over delta endpoints; no
    // component discipline, no full edge scan. The oracle recomputes
    // the whole statistic from the NET edge set
    "q264_cdc_maintained_assortativity" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      graft.operators.DegreeMetrics.assortativityMaintain(
        graft.operators.DegreeMetrics.undirectedDegrees(base),
        graft.operators.DegreeMetrics.assortativity(base),
        base, inserts, deletes)
    }),
    // MAINTAINED TRANSITIVITY — two maintenance patterns COMPOSED in
    // one statistic: the triangle count updated by the q211
    // wedge-closing deltas (created − destroyed, certification
    // recounts dropped), the wedge count by the q264 algebraic
    // endpoint-degree patch; identical integers in, bit-equal readout
    // out. The oracle recomputes both from the NET edge set
    "q265_cdc_maintained_transitivity" -> ((s, dir) => {
      val (base, inserts, deletes) = c10CdcSplits(s, dir)
      Triangles.transitivityMaintain(
        Triangles.transitivity(base),
        graft.operators.DegreeMetrics.undirectedDegrees(base),
        base, inserts, deletes)
    }),
    // PERSISTED PERCEPTUAL-HASH IMAGE INDEX (the q243 dedup-index
    // lifecycle applied to the MULTIMODAL family): the corpus images
    // (doc_id % 10 != 7) decode + aHash ONCE into the cp-PARTITIONED
    // chunk table; a FRESH session probes the held-out batch —
    // partition-pruned candidate lookup + exact-popcount verify
    // entirely on index rows (the corpus payload is never re-decoded).
    // Pigeonhole banding is EXACT at Hamming ≤ 4, so the oracle is the
    // plain cross-split popcount filter — no recall-gate argument
    // needed, a missed candidate or surviving stale row flips the hash
    "q259_phash_index_persisted" -> ((s, dir) => {
      graft.functions.PhashIndex.save(
        phashOf(s, dir, col("doc_id") % 10 =!= 7), "graft_ph_idx")
      val fresh = s.newSession()
      graft.functions.PhashIndex.probe(fresh, "graft_ph_idx",
        phashOf(fresh, dir, col("doc_id") % 10 === 7))
    }),
    // STREAMING INGEST into the persisted phash index (q244's
    // exactly-once loop for the multimodal family): the % 10 == 5
    // images stream through the FROZEN persisted chunking, each
    // trigger decoding + hashing only its own batch into its own
    // ingest partition; a fresh session probes the held-out batch
    // against the WHOLE corpus — a lost or duplicated append drops or
    // keeps the (query, mod-5) pairs and flips the hash
    "q260_phash_index_ingested" -> ((s, dir) => {
      graft.functions.PhashIndex.save(
        phashOf(s, dir, col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 5),
        "graft_ph_ing_idx")
      graft.streaming.StreamingOps.replayPhashIngest(
        Tables.documents(s, dir).where(col("doc_id") % 10 === 5),
        "graft_ph_ing_idx")
      val fresh = s.newSession()
      graft.functions.PhashIndex.probe(fresh, "graft_ph_ing_idx",
        phashOf(fresh, dir, col("doc_id") % 10 === 7))
    }),
    // DELETE maintenance of the persisted phash index (q245's
    // partition-pruned takedown): every doc_id % 10 == 3 image is
    // tombstoned — its chunk rows RECOMPUTED from its hash through the
    // persisted chunking pin down the cp partitions its rows live in,
    // and only those are rewritten — then a fresh session probes the
    // shrunken index. The oracle joins the NET corpus only; a
    // surviving tombstone row re-emits its pair and flips the hash
    "q261_phash_index_deleted" -> ((s, dir) => {
      graft.functions.PhashIndex.save(
        phashOf(s, dir, col("doc_id") % 10 =!= 7), "graft_ph_del_idx")
      graft.functions.PhashIndex.delete(s, "graft_ph_del_idx",
        phashOf(s, dir, col("doc_id") % 10 === 3))
      val fresh = s.newSession()
      graft.functions.PhashIndex.probe(fresh, "graft_ph_del_idx",
        phashOf(fresh, dir, col("doc_id") % 10 === 7))
    }),
    // COMPACTION of the phash index's ingest delta (q252's storage
    // fold for the multimodal family): after the fold the probe is a
    // purely cp-pruned scan again, and the served pair set must be
    // IDENTICAL to the LSM shape's (q260's oracle verbatim)
    "q262_phash_index_compacted" -> ((s, dir) => {
      graft.functions.PhashIndex.save(
        phashOf(s, dir, col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 5),
        "graft_ph_cpt_idx")
      graft.streaming.StreamingOps.replayPhashIngest(
        Tables.documents(s, dir).where(col("doc_id") % 10 === 5),
        "graft_ph_cpt_idx")
      graft.functions.PhashIndex.compact(s, "graft_ph_cpt_idx")
      val fresh = s.newSession()
      graft.functions.PhashIndex.probe(fresh, "graft_ph_cpt_idx",
        phashOf(fresh, dir, col("doc_id") % 10 === 7))
    }),
  )

  /** Perceptual hashes of the deterministic image corpus restricted to
    * `pred` — the q116 pipeline (real PNG decode → 8×8 NN resample →
    * integer-mean aHash), shared by the phash-index lifecycle queries.
    */
  private def phashOf(s: SparkSession, dir: String,
                      pred: org.apache.spark.sql.Column): DataFrame =
    Multimodal.perceptualHashes(
      Multimodal.syntheticImages(
        Tables.documents(s, dir).where(pred)).toDF())

  /** Byte-level BPE fixture: the documents table with a deterministic
    * multibyte, NON-WHITESPACE-DELIMITED tail — a CJK phrase glued to a
    * per-doc digit, then a special token with no surrounding spaces,
    * then another CJK word — exercising byte merges inside multibyte
    * characters and the special-token fence. The DuckDB oracles
    * rebuild the identical strings.
    */
  private def byteBpeDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(coalesce(col("text"), lit("")), lit(" 数据集№"),
        (col("doc_id") % 5).cast("string"), lit("<EOD>端到端")).as("text"))

  /** DuckDB replay of the ENTIRE 4-epoch batch-perceptron training
    * loop (q138's unrolled-merge pattern applied to learning): features
    * with multiplicity, zero-weight first epoch updating every doc,
    * margin rule y·score ≤ 0, then scores under the final weights —
    * or, for the AVERAGED variant, under the integer sum of the four
    * epoch weight snapshots (sign-equivalent to the average).
    */
  private def perceptronOracle(averaged: Boolean): String = {
    val bkt = "CAST(CAST('0x' || substr(md5(t), 1, 8) AS UBIGINT) % 512 AS BIGINT)"
    def epoch(k: Int): String =
      s"s$k AS (SELECT f.doc_id, f.y, SUM(f.cnt * w$k.w) AS score " +
        s"FROM feats f JOIN w$k USING(bucket) GROUP BY 1, 2), " +
        s"u${k + 1} AS (SELECT bucket, SUM(y * cnt) AS dw FROM feats " +
        s"WHERE doc_id IN (SELECT doc_id FROM s$k WHERE y * score <= 0) GROUP BY bucket), " +
        s"w${k + 1} AS (SELECT w$k.bucket, w$k.w + COALESCE(u${k + 1}.dw, 0) AS w " +
        s"FROM w$k LEFT JOIN u${k + 1} USING(bucket))"
    // w2..w4 derive from w1 by LEFT JOIN, so all snapshots share w1's
    // bucket set and the averaged sum's inner joins are lossless
    val scoreCte =
      if (averaged)
        "wavg AS (SELECT w1.bucket, w1.w + w2.w + w3.w + w4.w AS w FROM w1 " +
          "JOIN w2 USING(bucket) JOIN w3 USING(bucket) JOIN w4 USING(bucket)), " +
          "sf AS (SELECT f.doc_id, f.y, SUM(f.cnt * wavg.w) AS score " +
          "FROM feats f JOIN wavg USING(bucket) GROUP BY 1, 2) "
      else
        "sf AS (SELECT f.doc_id, f.y, SUM(f.cnt * w4.w) AS score " +
          "FROM feats f JOIN w4 USING(bucket) GROUP BY 1, 2) "
    "WITH d AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y, " +
      "list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '') AS toks FROM documents), " +
      "f0 AS (SELECT doc_id, y, unnest(toks) AS t FROM d " +
      "UNION ALL SELECT doc_id, y, unnest(CASE WHEN len(toks) >= 2 THEN " +
      "list_transform(range(len(toks) - 1), i -> " +
      "toks[CAST(i + 1 AS BIGINT)] || ' ' || toks[CAST(i + 2 AS BIGINT)]) " +
      "ELSE CAST([] AS VARCHAR[]) END) FROM d), " +
      s"feats AS (SELECT doc_id, y, $bkt AS bucket, COUNT(*) AS cnt FROM f0 GROUP BY 1, 2, 3), " +
      // epoch 1 from zero weights: margin 0 everywhere → every doc
      // updates, so w1 already holds every bucket any doc touches
      // (later epochs' inner joins are therefore lossless)
      "w1 AS (SELECT bucket, SUM(y * cnt) AS w FROM feats GROUP BY bucket), " +
      epoch(1) + ", " + epoch(2) + ", " + epoch(3) + ", " +
      scoreCte +
      "SELECT d2.doc_id, CAST(d2.y AS BIGINT) AS y, " +
      "CAST(COALESCE(sf.score, 0) AS BIGINT) AS score, " +
      "CAST(CASE WHEN COALESCE(sf.score, 0) >= 0 THEN 1 ELSE -1 END AS BIGINT) AS pred " +
      "FROM (SELECT DISTINCT doc_id, y FROM d) d2 " +
      "LEFT JOIN sf ON sf.doc_id = d2.doc_id AND sf.y = d2.y"
  }

  /** DuckDB oracle SQL — identical aliases/semantics as the Spark plans. */
  def oracleSql: Map[String, String] = {
    val eVerts =
      "SELECT l_partkey AS id FROM lineitem UNION SELECT l_suppkey + 1000000000 FROM lineitem"
    val eEnds =
      "SELECT l_partkey AS id FROM lineitem UNION ALL SELECT l_suppkey + 1000000000 AS id FROM lineitem"
    val copurchase =
      "SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    val copurchase10 =
      "SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey WHERE a.l_orderkey % 10 = 0"
    // min-label propagation with sound pruning: a label l >= target b can
    // never be b's component min (b itself is smaller and co-component),
    // so dropping those states preserves MIN(l) and halves the CTE size
    def ccOracle(edgeSql: String): String =
      s"WITH RECURSIVE c AS ($edgeSql), " +
        "sym AS (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
        "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b) " +
        "SELECT v AS id, MIN(l) AS component FROM lbl GROUP BY v"
    val triangleJoin =
      "FROM c e1 JOIN c e2 ON e2.x = e1.y JOIN c e3 ON e3.x = e1.x AND e3.y = e2.y"
    // shared by q25 (inverted-index join) and q30 (MinHash+LSH): the LSH
    // path exactly reproduces the exact join's pairs here — every true
    // pair in this corpus has j ≥ 0.9, where a 4-row × 8-band miss has
    // probability < 1e-4 — and candidates are verified with exact
    // Jaccard, so the SAME oracle hash-checks both (recall gate).
    // split so the dedup-pipeline oracle (q50) can reuse the CTEs inside
    // its own recursive WITH
    val jaccardCtes =
      ("tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS shingle " +
        "FROM tk WHERE len(t) >= 2) u), " +
        "cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id), " +
        "pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)")
    val jaccardSelect =
      ("SELECT doc_a, doc_b, ROUND(inter * 1.0 / (ca.n_sh + cb.n_sh - inter), 6) AS jac " +
        "FROM pr JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b " +
        "WHERE ROUND(inter * 1.0 / (ca.n_sh + cb.n_sh - inter), 6) >= 0.5")
    val jaccardSql = s"WITH $jaccardCtes $jaccardSelect"
    // persisted-dedup-index probes (q243/q244/q245): the exact
    // cross-split Jaccard join — query docs (% 10 == 7) against the
    // corpus predicate of each lifecycle stage. Same recall gate as
    // q30 (true pairs at j ≥ 0.9, banding miss < 1e-4, candidates
    // exact-verified), so the LSH probe must reproduce these pairs
    def dedupProbeSqlFor(corpusPred: String): String =
      s"WITH $jaccardCtes, " +
        "qd AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7), " +
        s"cd AS (SELECT doc_id FROM documents WHERE $corpusPred), " +
        "prx AS (SELECT a.doc_id AS query_id, b.doc_id AS corpus_id, COUNT(*) AS inter " +
        "FROM sh a JOIN qd ON qd.doc_id = a.doc_id " +
        "JOIN sh b ON a.shingle = b.shingle " +
        "JOIN cd ON cd.doc_id = b.doc_id GROUP BY 1, 2) " +
        "SELECT query_id, corpus_id, " +
        "ROUND(inter * 1.0 / (ca.n_sh + cb.n_sh - inter), 6) AS jac " +
        "FROM prx JOIN cnt ca ON ca.doc_id = query_id " +
        "JOIN cnt cb ON cb.doc_id = corpus_id " +
        "WHERE ROUND(inter * 1.0 / (ca.n_sh + cb.n_sh - inter), 6) >= 0.5"
    val dedupProbeSql = dedupProbeSqlFor("doc_id % 10 <> 7")
    val dedupProbeDelSql = dedupProbeSqlFor("doc_id % 10 NOT IN (7, 0)")
    // phash-index probes (q259–q262): the q117 register-exact aHash
    // replay, restricted to the cross-split (held-out queries × the
    // index's corpus predicate). Banding is EXACT at Hamming ≤ 4, so
    // the oracle is the plain popcount filter over the cross join
    def phashProbeSqlFor(corpusPred: String): String =
      ("WITH px AS (SELECT d.doc_id, p.i, " +
        "CAST((d.doc_id * 31 + (2 * (p.i // 8)) * 16 + 2 * (p.i % 8)) % 256 AS BIGINT) AS g " +
        "FROM documents d, range(64) p(i)), " +
        "s AS (SELECT doc_id, SUM(g) AS sm FROM px GROUP BY doc_id), " +
        "bits AS (SELECT px.doc_id, px.i, CASE WHEN 64 * px.g >= s.sm THEN 1 ELSE 0 END AS b " +
        "FROM px JOIN s ON s.doc_id = px.doc_id), " +
        "h AS (SELECT doc_id, " +
        "CAST(SUM(CASE WHEN i < 32 THEN b * (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS lo, " +
        "CAST(SUM(CASE WHEN i >= 32 THEN b * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS hi " +
        "FROM bits GROUP BY doc_id) " +
        "SELECT x.doc_id AS query_id, y.doc_id AS corpus_id, " +
        "CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS BIGINT) AS hamming " +
        s"FROM h x JOIN h y ON x.doc_id % 10 = 7 AND ($corpusPred) " +
        "WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 4")
    val phashProbeSql = phashProbeSqlFor("y.doc_id % 10 <> 7")
    val phashProbeDelSql = phashProbeSqlFor("y.doc_id % 10 NOT IN (3, 7)")
    // the full near-dup pipeline: exact-verified pairs → 2-coloring-free
    // label propagation (same pattern as ccOracle) → every doc labeled by
    // its cluster's min doc_id (singletons label themselves)
    val dedupPipelineCtes =
      (s"WITH RECURSIVE $jaccardCtes, pairs AS ($jaccardSelect), " +
        "sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs), " +
        "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym " +
        "UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b), " +
        "comp AS (SELECT v AS id, MIN(l) AS c FROM lbl GROUP BY v)")
    val dedupClusterSelect =
      ("SELECT d.doc_id, COALESCE(comp.c, d.doc_id) AS cluster " +
        "FROM documents d LEFT JOIN comp ON comp.id = d.doc_id")
    val dedupPipelineSql = s"$dedupPipelineCtes $dedupClusterSelect"
    // cluster-atomic split under the portable hash of the cluster label
    val leakageSplitSql =
      (s"$dedupPipelineCtes SELECT doc_id, cluster, " +
        "CASE WHEN (((cluster % 2147483648) * 2654435761) % 2147483648) % 1000 < 100 " +
        s"THEN 'val' ELSE 'train' END AS split FROM ($dedupClusterSelect)")
    // per-source token budget: running-sum window over the unique
    // portable-priority order, admit while cum <= budget
    val tokenBudgetSql =
      ("WITH d AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "(((doc_id % 2147483648) * 2654435761) % 2147483648) AS pr FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, " +
        "SUM(n_tokens) OVER (PARTITION BY source ORDER BY pr ASC, doc_id ASC) AS cum_tokens FROM d) " +
        "SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens " +
        "FROM c WHERE cum_tokens <= 2000")
    // Deterministic BPE, learning replayed in SQL: each merge round is
    // three CTEs (pair counts from the delimiter-encoded distinct-word
    // table; the count-desc/pair-asc argmax; a string-replace pass
    // applying the merge). MATERIALIZED is load-bearing: without it
    // DuckDB inlines w10 back through w0 exponentially. The '|'
    // delimiter encoding plus trailing sentinel makes `replace`
    // bit-equivalent to BpeEncode's portable-replace pass.
    val bpeK = 10
    val bpeLearnCtes: String = {
      val sb = new StringBuilder
      sb ++= ("words AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM " +
        "(SELECT unnest(string_split(replace(text, '|', ''), ' ')) AS word FROM documents) " +
        "WHERE word <> '' GROUP BY word), ")
      sb ++= ("w0 AS MATERIALIZED (SELECT word, " +
        "'|' || array_to_string(string_split(word, ''), '|') || '|' AS repr, cnt FROM words)")
      for (i <- 1 to bpeK) {
        sb ++= (s", p$i AS MATERIALIZED (SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt) AS pc " +
          s"FROM (SELECT string_split(trim(repr, '|'), '|') AS syms, cnt FROM w${i - 1}) s, " +
          "UNNEST(generate_series(1, len(s.syms) - 1)) AS t(i) GROUP BY 1, 2)")
        sb ++= (s", m$i AS MATERIALIZED (SELECT a, b, pc FROM p$i " +
          "ORDER BY pc DESC, a ASC, b ASC LIMIT 1)")
        sb ++= (s", w$i AS MATERIALIZED (SELECT word, replace(repr, " +
          s"'|' || (SELECT a FROM m$i) || '|' || (SELECT b FROM m$i) || '|', " +
          s"'|' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || '|') AS repr, cnt FROM w${i - 1})")
      }
      sb.toString
    }
    val bpeDictCtes: String = bpeLearnCtes +
      s", dict AS MATERIALIZED (SELECT word, " +
      s"CAST(len(string_split(trim(repr, '|'), '|')) AS BIGINT) AS word_tokens FROM w$bpeK)"
    val bpeVocabSql = "WITH " + bpeLearnCtes + " SELECT * FROM (" +
      (1 to bpeK).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS left_sym, b AS right_sym, " +
          s"CAST(pc AS BIGINT) AS pair_count FROM m$i").mkString(" UNION ALL ") + ")"
    val bpeTokensSql = "WITH " + bpeDictCtes +
      ", tok AS (SELECT doc_id, word FROM (SELECT doc_id, " +
      "unnest(string_split(replace(text, '|', ''), ' ')) AS word FROM documents) WHERE word <> '') " +
      "SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
      "CAST(SUM(d.word_tokens) AS BIGINT) AS n_bpe_tokens " +
      "FROM tok t JOIN dict d ON d.word = t.word GROUP BY t.doc_id"
    val bpeBudgetSql = "WITH " + bpeDictCtes +
      ", tok AS (SELECT doc_id, source, word FROM (SELECT doc_id, source, " +
      "unnest(string_split(replace(text, '|', ''), ' ')) AS word FROM documents) WHERE word <> ''), " +
      "pd AS (SELECT t.doc_id, t.source, SUM(d.word_tokens) AS n_tokens " +
      "FROM tok t JOIN dict d ON d.word = t.word GROUP BY 1, 2), " +
      "c AS (SELECT doc_id, source, n_tokens, SUM(n_tokens) OVER (PARTITION BY source " +
      "ORDER BY (((doc_id % 2147483648) * 2654435761) % 2147483648) ASC, doc_id ASC) AS cum_tokens FROM pd) " +
      "SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, " +
      "CAST(cum_tokens AS BIGINT) AS cum_tokens FROM c WHERE cum_tokens <= 3000"
    // BYTE-LEVEL BPE oracles (q213/q214): the q138 unroll with byte
    // initial symbols — w0's repr decomposes each word into 2-hex-digit
    // byte symbols via hex(encode(word)) (uppercase in both engines);
    // the corpus is the documents table with the deterministic
    // multibyte tail, segmented on the <EOD> special BEFORE words
    val byteBpeText =
      "COALESCE(text, '') || ' 数据集№' || CAST(doc_id % 5 AS VARCHAR) || '<EOD>端到端'"
    val byteBpeWordsFrom =
      s"(SELECT doc_id, unnest(string_split(seg, ' ')) AS word FROM " +
        s"(SELECT doc_id, unnest(string_split(replace($byteBpeText, '|', ''), '<EOD>')) AS seg " +
        "FROM documents)) WHERE word <> ''"
    val byteBpeLearnCtes: String = {
      val sb = new StringBuilder
      sb ++= ("words AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM " +
        s"(SELECT word FROM $byteBpeWordsFrom) GROUP BY word), ")
      sb ++= ("w0 AS MATERIALIZED (SELECT word, '|' || array_to_string(" +
        "list_transform(range(len(hex(encode(word))) // 2), " +
        "i -> substr(hex(encode(word)), CAST(2*i + 1 AS INT), 2)), '|') || '|' AS repr, " +
        "cnt FROM words)")
      for (i <- 1 to bpeK) {
        sb ++= (s", p$i AS MATERIALIZED (SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt) AS pc " +
          s"FROM (SELECT string_split(trim(repr, '|'), '|') AS syms, cnt FROM w${i - 1}) s, " +
          "UNNEST(generate_series(1, len(s.syms) - 1)) AS t(i) GROUP BY 1, 2)")
        sb ++= (s", m$i AS MATERIALIZED (SELECT a, b, pc FROM p$i " +
          "ORDER BY pc DESC, a ASC, b ASC LIMIT 1)")
        sb ++= (s", w$i AS MATERIALIZED (SELECT word, replace(repr, " +
          s"'|' || (SELECT a FROM m$i) || '|' || (SELECT b FROM m$i) || '|', " +
          s"'|' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || '|') AS repr, cnt FROM w${i - 1})")
      }
      sb.toString
    }
    val byteBpeVocabSql = "WITH " + byteBpeLearnCtes + " SELECT * FROM (" +
      (1 to bpeK).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS left_sym, b AS right_sym, " +
          s"CAST(pc AS BIGINT) AS pair_count FROM m$i").mkString(" UNION ALL ") + ")"
    val byteBpeTokensSql = "WITH " + byteBpeLearnCtes +
      s", dict AS MATERIALIZED (SELECT word, " +
      s"CAST(len(string_split(trim(repr, '|'), '|')) AS BIGINT) AS word_tokens FROM w$bpeK), " +
      s"tok AS (SELECT doc_id, word FROM $byteBpeWordsFrom) " +
      "SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
      "CAST(SUM(d.word_tokens) AS BIGINT) AS n_bpe_tokens " +
      "FROM tok t JOIN dict d ON d.word = t.word GROUP BY t.doc_id"
    // exact-integer BM25 (HUGEINT mirror of the DECIMAL(38,0) operator
    // arithmetic) over a parametrized corpus relation — shared by q198
    // (the raw documents table) and q218 (the maintained NET corpus)
    def bm25Sql(corpusFrom: String): String =
      s"WITH tok AS (SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS token FROM ($corpusFrom)), " +
        "t AS (SELECT doc_id, token FROM tok WHERE token <> ''), " +
        "tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY 1), " +
        "cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tt FROM dl), " +
        "qt AS (SELECT * FROM (VALUES (1, 'spark'), (1, 'join'), (1, 'window'), " +
        "(2, 'fast'), (2, 'merge'), (3, 'customer'), (3, 'table'), (3, 'scan')) v(query_id, token)), " +
        "df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf " +
        "WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1), " +
        "idf AS (SELECT token, CAST(ROUND(1000000.0 * LN(1 + ((SELECT n FROM cs) - df + 0.5) / (df + 0.5))) AS BIGINT) AS idf_micro FROM df), " +
        "c AS (SELECT q.query_id, tf.doc_id, " +
        "CAST(CAST(idf.idf_micro AS HUGEINT) * 22 * tf.tf * (SELECT tt FROM cs) // " +
        "(CAST(tf.tf AS HUGEINT) * 10 * (SELECT tt FROM cs) + 3 * (SELECT tt FROM cs) " +
        "+ CAST(dl.dl AS HUGEINT) * 9 * (SELECT n FROM cs)) AS BIGINT) AS s " +
        "FROM tf JOIN qt q ON q.token = tf.token " +
        "JOIN idf ON idf.token = tf.token JOIN dl ON dl.doc_id = tf.doc_id), " +
        "sc AS (SELECT query_id, doc_id, SUM(s) AS score_micro, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY SUM(s) DESC, doc_id ASC) AS rnk FROM c GROUP BY 1, 2) " +
        "SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk, " +
        "doc_id, CAST(score_micro AS BIGINT) AS score_micro FROM sc WHERE rnk <= 10"
    // deterministic random walks: the walk unrolled step by step —
    // per step, join the walker table to the symmetric adjacency and
    // keep the hash-argmin neighbor (ROW_NUMBER ORDER BY h, v ≡ the
    // Spark min(struct(h, n)) with the same tie-break)
    val walksSql = {
      val steps = (1 to 8).map { t =>
        s"n$t AS (SELECT s.start_id, sym.v, " +
          s"((((((s.cur % 2147483648) * 31 + $t) % 2147483648) * 31 + sym.v) % 2147483648) * 2654435761) % 2147483648 AS h " +
          s"FROM s${t - 1} s JOIN sym ON sym.u = s.cur), " +
          s"s$t AS (SELECT start_id, v AS cur FROM (SELECT start_id, v, " +
          s"ROW_NUMBER() OVER (PARTITION BY start_id ORDER BY h ASC, v ASC) AS rn FROM n$t) WHERE rn = 1)"
      }.mkString(", ")
      val emits = (0 to 8).map(t =>
        s"SELECT start_id, CAST($t AS BIGINT) AS step, cur AS vertex FROM s$t")
        .mkString(" UNION ALL ")
      s"WITH c AS MATERIALIZED ($copurchase10), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "s0 AS (SELECT DISTINCT u AS start_id, u AS cur FROM sym), " +
        steps + " " + emits
    }
    // node2vec-biased walks: q217's unroll with prev tracking and the
    // class factor — return (v = prev) ×4, prev-adjacent ×1 (one LEFT
    // JOIN against sym), else ×2 — multiplying the SAME step-keyed hash
    val node2vecSql = {
      def hh(t: Int, cur: String, v: String) =
        s"(((((($cur % 2147483648) * 31 + $t) % 2147483648) * 31 + $v) % 2147483648) * 2654435761) % 2147483648"
      val step1 =
        s"n1 AS (SELECT s.start_id, sym.v, ${hh(1, "s.cur", "sym.v")} AS h " +
          "FROM s0 s JOIN sym ON sym.u = s.cur), " +
          "s1 AS (SELECT start_id, start_id AS prev, v AS cur FROM (SELECT start_id, v, " +
          "ROW_NUMBER() OVER (PARTITION BY start_id ORDER BY h ASC, v ASC) AS rn FROM n1) WHERE rn = 1)"
      val steps = (2 to 8).map { t =>
        s"n$t AS (SELECT s.start_id, s.cur, sym.v, " +
          s"(${hh(t, "s.cur", "sym.v")}) * (CASE WHEN sym.v = s.prev THEN 4 " +
          "WHEN a.u IS NOT NULL THEN 1 ELSE 2 END) AS pri " +
          s"FROM s${t - 1} s JOIN sym ON sym.u = s.cur " +
          "LEFT JOIN sym a ON a.u = s.prev AND a.v = sym.v), " +
          s"s$t AS (SELECT start_id, cur AS prev, v AS cur FROM (SELECT start_id, cur, v, " +
          s"ROW_NUMBER() OVER (PARTITION BY start_id ORDER BY pri ASC, v ASC) AS rn FROM n$t) WHERE rn = 1)"
      }.mkString(", ")
      val emits = (0 to 8).map(t =>
        s"SELECT start_id, CAST($t AS BIGINT) AS step, cur AS vertex FROM s$t")
        .mkString(" UNION ALL ")
      s"WITH c AS MATERIALIZED ($copurchase10), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "s0 AS (SELECT DISTINCT u AS start_id, u AS cur FROM sym), " +
        step1 + ", " + steps + " " + emits
    }
    // HyperBall registers replayed exactly: portable hash → (bucket,
    // rank via length(bin(y)) with the y=0 guard), 3 element-wise
    // register-max rounds over 16 columns, then the raw HLL estimator
    // as floor division of exact integers
    // parameterized by the edge CTE — one definition serves the C10
    // runs (q220/q224/q227/q233/q234) and the CDC-maintained ones
    // (q255/q256, the NET edge set), the corenessSqlFor discipline
    def hyperballSqlsFor(cSql: String) = {
      val regs = (0 until 16).map(j => s"r$j")
      val g0cols = (0 until 16).map(j =>
        s"CASE WHEN b = $j THEN rho ELSE 0 END AS r$j").mkString(", ")
      def round(t: Int): String = {
        val maxes = regs.map(r => s"MAX($r) AS $r").mkString(", ")
        val pull = regs.map(r => s"g.$r").mkString(", ")
        s"g$t AS MATERIALIZED (SELECT id, $maxes FROM (" +
          s"SELECT id, ${regs.mkString(", ")} FROM g${t - 1} " +
          s"UNION ALL SELECT e.u AS id, $pull FROM sym e JOIN g${t - 1} g ON g.id = e.v) z GROUP BY id)"
      }
      val denom = regs.map(r => s"(1::BIGINT << (28 - $r))").mkString(" + ")
      def emit(t: Int): String =
        s"SELECT id, CAST($t AS BIGINT) AS t, " +
          s"CAST(46246722929 // ($denom) AS BIGINT) AS est FROM g$t"
      val prefix =
        s"WITH c AS MATERIALIZED ($cSql), " +
          "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
          "vv AS (SELECT DISTINCT u AS id FROM sym), " +
          "h0 AS (SELECT id, ((id % 2147483648) * 2654435761) % 2147483648 AS h FROM vv), " +
          "rr AS (SELECT id, h % 16 AS b, CASE WHEN h // 16 = 0 THEN 28 " +
          "ELSE 28 - length(bin(h // 16)) END AS rho FROM h0), " +
          s"g0 AS MATERIALIZED (SELECT id, $g0cols FROM rr), " +
          (1 to 3).map(round).mkString(", ")
      val balls = prefix + " " + (1 to 3).map(emit).mkString(" UNION ALL ")
      // harmonic centrality: vertices first reached at distance t count
      // 1/t — ball-size differences over the SAME register rounds
      val hc = prefix + ", eb AS (" +
        (0 to 3).map(emit).mkString(" UNION ALL ") + "), " +
        "dd AS (SELECT id, t, est - LAG(est) OVER (PARTITION BY id ORDER BY t) AS diff FROM eb) " +
        "SELECT id, CAST(SUM((diff * 1000000) // t) AS BIGINT) AS hc_micro " +
        "FROM dd WHERE t >= 1 GROUP BY id"
      // the streamed register maintenance must land on the batch g1
      // round exactly (register max is split-invariant)
      val t1 = prefix +
        s" SELECT id, CAST(46246722929 // ($denom) AS BIGINT) AS est FROM g1"
      // distance distribution: ball-size sums S_t, then the q233
      // integer interpolations — HUGEINT mirror of the operator's
      // DECIMAL(38,0) arithmetic, `//` ≡ Spark `div` on nonnegatives
      val dist = {
        val k = 3
        val pivots = (0 to k).map(t =>
          s"MAX(CASE WHEN t = $t THEN s END) AS d$t").mkString(", ")
        val rch = s"(d$k - d0)"
        val avgNum = s"(($k * d$k ${(0 until k).map(t => s"- d$t").mkString(" ")}) * 1000000)"
        def effBranch(t: Int) =
          s"CAST(${(t - 1).toLong * 1000000L} + " +
            s"($rch * 9 - (d${t - 1} - d0) * 10) * 1000000 // " +
            s"((d$t - d${t - 1}) * 10) AS BIGINT)"
        prefix + ", eb AS (" + (0 to k).map(emit).mkString(" UNION ALL ") + "), " +
          "ss AS (SELECT t, CAST(SUM(est) AS HUGEINT) AS s FROM eb GROUP BY t), " +
          s"p AS (SELECT $pivots FROM ss) " +
          s"SELECT CAST($k AS BIGINT) AS k, CAST(d0 AS BIGINT) AS s0, " +
          s"CAST(d$k AS BIGINT) AS sk, CAST($rch AS BIGINT) AS reach_est, " +
          s"CASE WHEN $rch = 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE CAST($avgNum // $rch AS BIGINT) END AS avg_dist_micro, " +
          s"CASE WHEN $rch = 0 THEN CAST(0 AS BIGINT) " +
          (1 until k).map(t =>
            s"WHEN (d$t - d0) * 2 >= $rch THEN CAST($t AS BIGINT) ").mkString +
          s"ELSE CAST($k AS BIGINT) END AS median_dist, " +
          s"CASE WHEN $rch = 0 THEN CAST(0 AS BIGINT) " +
          (1 until k).map(t =>
            s"WHEN (d$t - d0) * 10 >= $rch * 9 THEN ${effBranch(t)} ").mkString +
          s"ELSE ${effBranch(k)} END AS eff_diam90_micro FROM p"
      }
      // streamed register-table rounds must land on the batch g1..g2
      // rounds exactly (R1 is complete at the final trigger; rounds ≥ 2
      // are recomputed from it there)
      val r2 = prefix + " " + (1 to 2).map(emit).mkString(" UNION ALL ")
      (balls, hc, t1, dist, r2)
    }
    val (hyperballSql, hyperballHcSql, hyperballT1Sql, hyperballDistSql,
         hyperballR2Sql) = hyperballSqlsFor(copurchase10)
    // layout quality: both strategies' replication factors and edge
    // balance in exact integers over the SAME portable hash
    val partitionQualitySql = {
      def block(name: String, pexpr: String) =
        s"p_$name AS MATERIALIZED (SELECT u, v, $pexpr AS p FROM hp), " +
          s"r_$name AS (SELECT vtx, COUNT(DISTINCT p) AS r FROM (" +
          s"SELECT u AS vtx, p FROM p_$name UNION ALL SELECT v, p FROM p_$name) z GROUP BY vtx), " +
          s"ra_$name AS (SELECT COUNT(*) AS n_verts, SUM(r) AS repl_sum, MAX(r) AS repl_max FROM r_$name), " +
          s"ba_$name AS (SELECT MAX(cnt) AS max_part_edges, SUM(cnt) AS n_edges FROM (" +
          s"SELECT p, COUNT(*) AS cnt FROM p_$name GROUP BY p) z)"
      s"WITH c AS MATERIALIZED ($copurchase10), " +
        "hp AS (SELECT x AS u, y AS v, ((x % 2147483648) * 2654435761) % 2147483648 AS hu, " +
        "((y % 2147483648) * 2654435761) % 2147483648 AS hv FROM c), " +
        block("hash1d", "hu % 64") + ", " +
        block("grid2d", "(hu % 8) * 8 + (hv % 8)") + " " +
        Seq("hash1d", "grid2d").map(n =>
          s"SELECT '$n' AS strategy, CAST(n_verts AS BIGINT) AS n_verts, " +
            s"CAST(repl_sum AS BIGINT) AS repl_sum, CAST(repl_max AS BIGINT) AS repl_max, " +
            s"CAST(repl_sum * 1000000 // n_verts AS BIGINT) AS repl_avg_micro, " +
            s"CAST(max_part_edges AS BIGINT) AS max_part_edges, " +
            s"CAST(max_part_edges * 64 * 1000000 // n_edges AS BIGINT) AS balance_micro " +
            s"FROM ra_$n, ba_$n").mkString(" UNION ALL ")
    }
    // landmark index + served estimates: multi-source BFS as ONE
    // recursive CTE carrying the landmark id through the state; UNION
    // dedups (lm, id, dist) states so cycles terminate; depth cap 30
    // (~5× the measured C10 eccentricity) with the sentinel-row fence
    val (landmarkIdxSql, landmarkEstSql, landmarkEstSqlPersisted,
         landmarkMaintSql, landmarkMaintDelSql, landmarkCdcSql) = {
      val prefix =
        s"WITH RECURSIVE c AS MATERIALIZED ($copurchase10), " +
          "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
          "deg AS (SELECT u AS id, COUNT(*) AS d FROM sym GROUP BY u), " +
          "lms AS (SELECT id AS lm FROM deg ORDER BY d DESC, id ASC LIMIT 8), " +
          "st(lm, id, dist) AS (SELECT lm, lm, 0 FROM lms " +
          "UNION SELECT st.lm, s.v, st.dist + 1 FROM st JOIN sym s ON s.u = st.id WHERE st.dist < 30), " +
          "idx AS MATERIALIZED (SELECT lm, id, MIN(dist) AS dist FROM st GROUP BY lm, id)"
      val sentinel =
        "EXISTS (SELECT 1 FROM idx WHERE dist >= 30)"
      val idxSql = prefix +
        " SELECT lm, id, CAST(dist AS BIGINT) AS dist FROM idx " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE $sentinel"
      val cls = "((id % 2147483648) * 2654435761) % 2147483648 % 29"
      // served estimates for a deterministic (class-ca × class-cb) pair
      // sample — q226 serves the in-session index on classes (1, 2),
      // q230 the PERSISTED one on (3, 4), so the two gates are
      // independently evidenced rows, not one output relabeled
      def estSql(ca: Int, cb: Int) = prefix + ", " +
        "vv AS (SELECT DISTINCT u AS id FROM sym), " +
        s"pa AS (SELECT id AS a FROM vv WHERE $cls = $ca), " +
        s"pb AS (SELECT id AS b FROM vv WHERE $cls = $cb) " +
        "SELECT pa.a, pb.b, CAST(MIN(ia.dist + ib.dist) AS BIGINT) AS est_dist " +
        "FROM pa CROSS JOIN pb " +
        "JOIN idx ia ON ia.id = pa.a JOIN idx ib ON ib.lm = ia.lm AND ib.id = pb.b " +
        "GROUP BY pa.a, pb.b " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE $sentinel"
      // INSERT-maintained index: landmarks picked on the BASE graph's
      // degrees (tag ≠ 8 — maintenance never re-picks landmarks), BFS
      // distances over the GROWN graph (all edges); the Spark side must
      // land here by relaxation alone, never a fresh full BFS
      val tagX = "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10"
      val maintSql =
        s"WITH RECURSIVE c AS MATERIALIZED ($copurchase10), " +
          s"bs AS MATERIALIZED (SELECT x, y FROM c WHERE $tagX <> 8), " +
          "bsym AS MATERIALIZED (SELECT x AS u, y AS v FROM bs UNION SELECT y, x FROM bs), " +
          "gsym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
          "deg AS (SELECT u AS id, COUNT(*) AS d FROM bsym GROUP BY u), " +
          "lms AS (SELECT id AS lm FROM deg ORDER BY d DESC, id ASC LIMIT 8), " +
          "st(lm, id, dist) AS (SELECT lm, lm, 0 FROM lms " +
          "UNION SELECT st.lm, s.v, st.dist + 1 FROM st JOIN gsym s ON s.u = st.id WHERE st.dist < 30), " +
          "gidx AS MATERIALIZED (SELECT lm, id, MIN(dist) AS dist FROM st GROUP BY lm, id) " +
          "SELECT lm, id, CAST(dist AS BIGINT) AS dist FROM gidx " +
          "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
          "WHERE EXISTS (SELECT 1 FROM gidx WHERE dist >= 30)"
      // DELETE-maintained index: landmarks from the FULL graph's
      // degrees (the build-time pick), BFS over the SHRUNK graph
      // (tag ≠ 3); the Spark side must land here by cascade
      // invalidation + boundary repair, never a fresh BFS
      val maintDelSql =
        s"WITH RECURSIVE c AS MATERIALIZED ($copurchase10), " +
          "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
          "deg AS (SELECT u AS id, COUNT(*) AS d FROM sym GROUP BY u), " +
          "lms AS (SELECT id AS lm FROM deg ORDER BY d DESC, id ASC LIMIT 8), " +
          s"ss AS MATERIALIZED (SELECT x, y FROM c WHERE $tagX <> 3), " +
          "ssym AS MATERIALIZED (SELECT x AS u, y AS v FROM ss UNION SELECT y, x FROM ss), " +
          "st(lm, id, dist) AS (SELECT lm, lm, 0 FROM lms " +
          "UNION SELECT st.lm, s.v, st.dist + 1 FROM st JOIN ssym s ON s.u = st.id WHERE st.dist < 30), " +
          "didx AS MATERIALIZED (SELECT lm, id, MIN(dist) AS dist FROM st GROUP BY lm, id) " +
          "SELECT lm, id, CAST(dist AS BIGINT) AS dist FROM didx " +
          "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
          "WHERE EXISTS (SELECT 1 FROM didx WHERE dist >= 30)"
      // CDC-maintained index (q239): landmarks from the BASE graph's
      // (tag ≠ 8) degrees — maintenance never re-picks landmarks — and
      // BFS distances over the NET graph (tag ∉ {3, 4}: the changelog's
      // tombstoned keys gone, its alive keys in, resurrections kept);
      // the Spark side must land here by insert relaxation + delete
      // cascade/repair alone, never a fresh BFS
      val cdcSql =
        s"WITH RECURSIVE c AS MATERIALIZED ($copurchase10), " +
          s"bs AS MATERIALIZED (SELECT x, y FROM c WHERE $tagX <> 8), " +
          "bsym AS MATERIALIZED (SELECT x AS u, y AS v FROM bs UNION SELECT y, x FROM bs), " +
          s"ns AS MATERIALIZED (SELECT x, y FROM c WHERE $tagX NOT IN (3, 4)), " +
          "nsym AS MATERIALIZED (SELECT x AS u, y AS v FROM ns UNION SELECT y, x FROM ns), " +
          "deg AS (SELECT u AS id, COUNT(*) AS d FROM bsym GROUP BY u), " +
          "lms AS (SELECT id AS lm FROM deg ORDER BY d DESC, id ASC LIMIT 8), " +
          "st(lm, id, dist) AS (SELECT lm, lm, 0 FROM lms " +
          "UNION SELECT st.lm, s.v, st.dist + 1 FROM st JOIN nsym s ON s.u = st.id WHERE st.dist < 30), " +
          "nidx AS MATERIALIZED (SELECT lm, id, MIN(dist) AS dist FROM st GROUP BY lm, id) " +
          "SELECT lm, id, CAST(dist AS BIGINT) AS dist FROM nidx " +
          "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
          "WHERE EXISTS (SELECT 1 FROM nidx WHERE dist >= 30)"
      (idxSql, estSql(1, 2), estSql(3, 4), maintSql, maintDelSql, cdcSql)
    }
    // corpus overlap: the q220 register discipline over md5-prefixed
    // token integers, three conditional register banks in one GROUP BY,
    // inclusion–exclusion on the floor-division estimates
    val corpusOverlapSql = {
      val names = (0 until 16).map(j => s"r$j")
      val gcols = (0 until 16).map(j =>
        s"CASE WHEN b = $j THEN rho ELSE 0 END AS r$j").mkString(", ")
      val bankCols = (
        names.map(c => s"MAX(CASE WHEN s = 0 THEN $c ELSE 0 END) AS a_$c") ++
          names.map(c => s"MAX(CASE WHEN s = 1 THEN $c ELSE 0 END) AS b_$c") ++
          names.map(c => s"MAX($c) AS u_$c") ++
          Seq("SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n_a",
            "SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n_b")).mkString(", ")
      def est(p: String, guard: String) = {
        val denom = names.map(c => s"(1::BIGINT << (28 - ${p}_$c))").mkString(" + ")
        s"CAST(CASE WHEN $guard = 0 THEN 0 ELSE 46246722929 // ($denom) END AS BIGINT)"
      }
      "WITH tok AS (SELECT lang, CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END AS s, " +
        "unnest(list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '')) AS token " +
        "FROM documents), " +
        "hh AS (SELECT lang, s, ((CAST(CAST('0x' || substr(md5(token), 1, 8) AS UBIGINT) " +
        "% 2147483648 AS BIGINT) % 2147483648) * 2654435761) % 2147483648 AS h FROM tok), " +
        "rr AS (SELECT lang, s, h % 16 AS b, CASE WHEN h // 16 = 0 THEN 28 " +
        "ELSE 28 - length(bin(h // 16)) END AS rho FROM hh), " +
        s"g AS (SELECT lang, s, $gcols FROM rr), " +
        s"banks AS (SELECT lang, $bankCols FROM g GROUP BY lang), " +
        s"ests AS (SELECT lang, ${est("a", "n_a")} AS est_a, ${est("b", "n_b")} AS est_b, " +
        s"${est("u", "n_a + n_b")} AS est_union FROM banks) " +
        "SELECT lang, est_a, est_b, est_union, " +
        "est_a + est_b - est_union AS overlap_est FROM ests"
    }
    // systematic PPS: ONE global window here (the oracle's job is the
    // answer, not the layout) — the Spark side's bucketed two-level
    // prefix sum must land on the identical cumulative axis
    val ppsSql =
      ("WITH b AS (SELECT doc_id, CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS w, " +
        "((doc_id % 2147483648) * 2654435761) % 2147483648 AS pri FROM documents), " +
        "t AS (SELECT SUM(w) AS wt FROM b), " +
        "cm AS (SELECT doc_id, w, SUM(w) OVER (ORDER BY pri ASC, doc_id ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b) " +
        "SELECT doc_id, w AS n_tokens, " +
        "CAST(LEAST(cum // s.step, 200) - LEAST((cum - w) // s.step, 200) AS BIGINT) AS n_hits " +
        "FROM cm, (SELECT wt // 200 AS step FROM t) s " +
        "WHERE LEAST(cum // s.step, 200) - LEAST((cum - w) // s.step, 200) >= 1")
    // fixed-point PageRank: iterations unrolled as sequential CTEs (DuckDB
    // forbids aggregation inside a recursive term). Integer micro-units +
    // integer division at every step make the result bit-identical to the
    // Spark loop regardless of summation order; `//` (DuckDB) and `div`
    // (Spark) agree on non-negative operands.
    val pagerankSql = {
      val base = s"WITH c AS ($copurchase10), " +
        "sym AS (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "deg AS (SELECT u, COUNT(*) AS outdeg FROM sym GROUP BY u), " +
        "verts AS (SELECT u AS id FROM deg), " +
        "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS \"rank\" FROM verts), "
      val iters = (1 to 10).map { k =>
        s"r$k AS (SELECT verts.id, CAST(150000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS \"rank\" " +
          "FROM verts LEFT JOIN (SELECT e.v AS id, SUM(r.\"rank\" // d.outdeg) AS c " +
          s"FROM sym e JOIN r${k - 1} r ON r.id = e.u JOIN deg d ON d.u = e.u GROUP BY e.v) s " +
          "ON s.id = verts.id)"
      }.mkString(", ")
      base + iters + " SELECT id, \"rank\" FROM r10"
    }
    // warm-start PageRank (q240): the oracle replays the WHOLE
    // maintenance pipeline — 10 uniform-start rounds on the base
    // (tag ≠ 8) graph, the warm seed (prev rank; SCALE for vertices
    // new in net), then 5 rounds on the net (tag ∉ {3,4}) graph — in
    // the same integer micro-units. The Spark side must land here by
    // seeding alone; a uniform restart on net diverges immediately
    val pagerankWarmSql = {
      val tagX = "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10"
      def rounds(pfx: String, g: String, n: Int, from: String) = (1 to n).map { k =>
        val p = if (k == 1) from else s"$pfx${k - 1}"
        s"$pfx$k AS (SELECT verts.id, CAST(150000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS \"rank\" " +
          s"FROM ${g}verts verts LEFT JOIN (SELECT e.v AS id, SUM(r.\"rank\" // d.outdeg) AS c " +
          s"FROM ${g}sym e JOIN $p r ON r.id = e.u JOIN ${g}deg d ON d.u = e.u GROUP BY e.v) s " +
          "ON s.id = verts.id)"
      }.mkString(", ")
      s"WITH c AS ($copurchase10), " +
        s"bsedge AS (SELECT x, y FROM c WHERE $tagX <> 8), " +
        "bsym AS MATERIALIZED (SELECT x AS u, y AS v FROM bsedge UNION SELECT y, x FROM bsedge), " +
        "bdeg AS MATERIALIZED (SELECT u, COUNT(*) AS outdeg FROM bsym GROUP BY u), " +
        "bverts AS (SELECT u AS id FROM bdeg), " +
        "b0 AS (SELECT id, CAST(1000000 AS BIGINT) AS \"rank\" FROM bverts), " +
        rounds("b", "b", 10, "b0") + ", " +
        s"nsedge AS (SELECT x, y FROM c WHERE $tagX NOT IN (3, 4)), " +
        "nsym AS MATERIALIZED (SELECT x AS u, y AS v FROM nsedge UNION SELECT y, x FROM nsedge), " +
        "ndeg AS MATERIALIZED (SELECT u, COUNT(*) AS outdeg FROM nsym GROUP BY u), " +
        "nverts AS (SELECT u AS id FROM ndeg), " +
        "w0 AS (SELECT nverts.id, COALESCE(b10.\"rank\", CAST(1000000 AS BIGINT)) AS \"rank\" " +
        "FROM nverts LEFT JOIN b10 ON b10.id = nverts.id), " +
        rounds("w", "n", 5, "w0") +
        " SELECT id, \"rank\" FROM w5"
    }
    // BFS from C10's min vertex: recursive frontier expansion with a
    // depth cap (measured eccentricity is 5 at sf0.01, 4 at sf0.001;
    // cap 20 = 4× margin), then MIN(d) per vertex = the true distance.
    // UNION (not UNION ALL) dedups (id, d) states so cycles terminate.
    val bfsSql =
      (s"WITH RECURSIVE c AS ($copurchase10), " +
        "sym AS (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "bfs(id, d) AS (SELECT MIN(x), 0 FROM c " +
        "UNION SELECT sym.v, bfs.d + 1 FROM sym JOIN bfs ON bfs.id = sym.u WHERE bfs.d < 20) " +
        // depth-cap sentinel: a min-dist at the cap means the frontier may
        // still have been expanding (any deeper vertex implies one at
        // exactly the cap on its path) — fail loudly, don't truncate
        "SELECT id, CAST(MIN(d) AS BIGINT) AS dist FROM bfs GROUP BY id " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) WHERE EXISTS " +
        "(SELECT 1 FROM (SELECT id, MIN(d) AS md FROM bfs GROUP BY id) WHERE md >= 20)")
    // Stress centrality unrolled: forward layered-BFS σ sums (aggregation
    // is forbidden in recursive terms, so layers are sequential
    // MATERIALIZED CTEs with an anti-join against the settled set), then
    // a backward sweep p(v) = Σ_{w in next layer, w~v} (1 + p(w)), and
    // stress(v) = Σ_s σ·p. 10 unrolled layers vs the measured
    // eccentricity 5 (layers past the true depth are empty no-ops); a
    // non-empty layer 10 emits the (-1,-1) sentinel — fail loudly.
    // shared forward-σ unroll for the sampled-centrality oracles (q118
    // stress, q125 betweenness): 3 smallest vertices as sources, 10 BFS
    // layers, (-1,-1) sentinel if the frontier outlives the unroll
    val centralityDepth = CentralityDepth
    val centralityFwdSql = {
      val d = centralityDepth
      val base = s"WITH c AS MATERIALIZED ($copurchase10), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "srcs AS MATERIALIZED (SELECT DISTINCT u AS s FROM sym ORDER BY u LIMIT 3), " +
        "f0 AS MATERIALIZED (SELECT s, s AS v, CAST(1 AS BIGINT) AS sig FROM srcs), " +
        "st0 AS MATERIALIZED (SELECT s, v FROM f0), "
      val fwd = (1 to d).map { r =>
        s"f$r AS MATERIALIZED (SELECT t.s, t.v, SUM(t.sig) AS sig FROM " +
          s"(SELECT f.s, sym.v AS v, f.sig FROM f${r - 1} f JOIN sym ON sym.u = f.v) t " +
          s"LEFT JOIN st${r - 1} st ON st.s = t.s AND st.v = t.v " +
          "WHERE st.v IS NULL GROUP BY 1, 2), " +
          s"st$r AS MATERIALIZED (SELECT s, v FROM st${r - 1} UNION ALL SELECT s, v FROM f$r)"
      }.mkString(", ")
      base + fwd
    }
    val stressSql = {
      val d = centralityDepth
      val pTop = s"p$d AS MATERIALIZED (SELECT s, v, sig, CAST(0 AS BIGINT) AS p FROM f$d)"
      val bwd = (d - 1 to 0 by -1).map { r =>
        s"p$r AS MATERIALIZED (SELECT f.s, f.v, f.sig, COALESCE(q.p0, 0) AS p FROM f$r f " +
          s"LEFT JOIN (SELECT pw.s, sym.u AS v, SUM(1 + pw.p) AS p0 FROM p${r + 1} pw " +
          "JOIN sym ON sym.v = pw.v GROUP BY 1, 2) q ON q.s = f.s AND q.v = f.v)"
      }.mkString(", ")
      val all = (0 to d).map(r => s"SELECT s, v, sig, p FROM p$r").mkString(" UNION ALL ")
      centralityFwdSql + ", " + pTop + ", " + bwd +
        " SELECT v AS id, CAST(SUM(sig * p) AS BIGINT) AS stress " +
        s"FROM ($all) WHERE v <> s GROUP BY v HAVING SUM(sig * p) > 0 " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) WHERE EXISTS " +
        s"(SELECT 1 FROM f$d)"
    }
    // Brandes backward pass in micro-units: per-successor truncated
    // integer term (σv·(1e6 + δµ(w))) // σw — `//` and Spark's `div`
    // agree on the non-negative operands, so the replay is bit-exact
    val btwSql = {
      val d = centralityDepth
      val pTop = s"p$d AS MATERIALIZED (SELECT s, v, sig, CAST(0 AS BIGINT) AS del FROM f$d)"
      val bwd = (d - 1 to 0 by -1).map { r =>
        s"p$r AS MATERIALIZED (SELECT f.s, f.v, f.sig, COALESCE(q.d0, 0) AS del FROM f$r f " +
          "LEFT JOIN (SELECT pw.s, sym.u AS v, " +
          "CAST(SUM((fu.sig * (1000000 + pw.del)) // pw.sig) AS BIGINT) AS d0 " +
          s"FROM p${r + 1} pw JOIN sym ON sym.v = pw.v " +
          s"JOIN f$r fu ON fu.s = pw.s AND fu.v = sym.u GROUP BY 1, 2) q " +
          "ON q.s = f.s AND q.v = f.v)"
      }.mkString(", ")
      val all = (0 to d).map(r => s"SELECT s, v, del FROM p$r").mkString(" UNION ALL ")
      centralityFwdSql + ", " + pTop + ", " + bwd +
        " SELECT v AS id, CAST(SUM(del) AS BIGINT) AS btw_mu " +
        s"FROM ($all) WHERE v <> s GROUP BY v HAVING SUM(del) > 0 " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) WHERE EXISTS " +
        s"(SELECT 1 FROM f$d)"
    }
    // k-core peel unrolled as sequential CTEs (the q54 pattern — DuckDB
    // forbids aggregation in a recursive term). Fixpoint takes 4 rounds
    // at sf0.01 (2 at sf0.001); 12 unrolled rounds = 3× margin, and
    // extra rounds are no-ops once the core is stable.
    // MATERIALIZED is load-bearing: each round references the previous
    // round's edge set three times, and DuckDB inlines plain CTEs —
    // 12 rounds would otherwise expand into 3^12 scans of lineitem.
    // Exact-integer k-means unrolled (q185): micro-unit quantization,
    // per-iteration cross-join assignment (argmin by dist then cid) and
    // truncating integer centroid means — `//` on signed BIGINTs
    // truncates toward zero in DuckDB, matching Scala Long division
    val kmeansSql = {
      val D = 64; val K = 4; val I = 3
      def dist(v: String, c: String) =
        s"CAST(list_sum(list_transform(range($D), i -> " +
          s"($v.e[CAST(i + 1 AS BIGINT)] - $c.c[CAST(i + 1 AS BIGINT)]) * " +
          s"($v.e[CAST(i + 1 AS BIGINT)] - $c.c[CAST(i + 1 AS BIGINT)]))) AS BIGINT)"
      val base =
        "WITH v AS MATERIALIZED (SELECT vec_id, list_transform(embedding, " +
          "x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e FROM embeddings), " +
          "c0 AS MATERIALIZED (SELECT cid, c FROM (SELECT ROW_NUMBER() OVER " +
          "(ORDER BY ((vec_id % 2147483648) * 2654435761) % 2147483648, vec_id) - 1 AS cid, " +
          s"e AS c FROM v) WHERE cid < $K), "
      val iters = (1 to I).map { n =>
        s"d$n AS MATERIALIZED (SELECT v.vec_id, v.e, c.cid, ${dist("v", "c")} AS dist " +
          s"FROM v, c${n - 1} c), " +
          s"a$n AS MATERIALIZED (SELECT vec_id, e, cid FROM (SELECT *, ROW_NUMBER() OVER " +
          s"(PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$n) WHERE rn = 1), " +
          s"m$n AS MATERIALIZED (SELECT cid, r.i AS dim, " +
          s"CAST(SUM(e[CAST(r.i + 1 AS BIGINT)]) AS BIGINT) AS s, " +
          s"CAST(COUNT(*) AS BIGINT) AS cnt FROM a$n, range($D) r(i) GROUP BY 1, 2), " +
          s"c$n AS MATERIALIZED (SELECT p.cid, COALESCE(nl.nc, p.c) AS c FROM c${n - 1} p " +
          s"LEFT JOIN (SELECT cid, list(s // cnt ORDER BY dim) AS nc FROM m$n GROUP BY cid) nl " +
          "ON nl.cid = p.cid)"
      }.mkString(", ")
      val fin =
        s", df AS (SELECT v.vec_id, c.cid, ${dist("v", "c")} AS dist FROM v, c$I c), " +
          "af AS (SELECT vec_id, cid, dist FROM (SELECT *, ROW_NUMBER() OVER " +
          "(PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM df) WHERE rn = 1), " +
          s"cs AS (SELECT cid, CAST(list_sum(c) AS BIGINT) AS centroid_sum FROM c$I) " +
          "SELECT af.cid, CAST(COUNT(*) AS BIGINT) AS n_members, cs.centroid_sum, " +
          "CAST(SUM(af.dist) AS BIGINT) AS inertia " +
          "FROM af JOIN cs ON cs.cid = af.cid GROUP BY af.cid, cs.centroid_sum"
      base + iters + fin
    }
    // HITS unrolled (q54's pattern): per round an authority sum + L∞
    // (max) normalization then a hub sum + normalization, all truncating
    // integer division of non-negative operands (`//` ≡ Spark `div`)
    val hitsSql = {
      val base = s"WITH c AS MATERIALIZED ($copurchase10), " +
        "e AS MATERIALIZED (SELECT x AS u, y AS v FROM c), " +
        "verts AS MATERIALIZED (SELECT u AS id FROM e UNION SELECT v FROM e), " +
        "h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM verts), "
      val iters = (1 to 5).map { k =>
        s"ar$k AS MATERIALIZED (SELECT e.v AS id, SUM(h.h) AS r " +
          s"FROM e JOIN h${k - 1} h ON h.id = e.u GROUP BY e.v), " +
          s"a$k AS MATERIALIZED (SELECT verts.id, CAST(COALESCE((ar.r * 1000000) // " +
          s"(SELECT MAX(r) FROM ar$k), 0) AS BIGINT) AS a " +
          s"FROM verts LEFT JOIN ar$k ar ON ar.id = verts.id), " +
          s"hr$k AS MATERIALIZED (SELECT e.u AS id, SUM(a.a) AS r " +
          s"FROM e JOIN a$k a ON a.id = e.v GROUP BY e.u), " +
          s"h$k AS MATERIALIZED (SELECT verts.id, CAST(COALESCE((hr.r * 1000000) // " +
          s"(SELECT MAX(r) FROM hr$k), 0) AS BIGINT) AS h " +
          s"FROM verts LEFT JOIN hr$k hr ON hr.id = verts.id)"
      }.mkString(", ")
      base + iters + " SELECT verts.id, h5.h AS hub_mu, a5.a AS auth_mu " +
        "FROM verts JOIN h5 ON h5.id = verts.id JOIN a5 ON a5.id = verts.id"
    }
    // warm-start HITS (q249): the q240 replay shape — 5 base rounds
    // over tag ≠ 8, hub seed COALESCE(base h5, SCALE) over the net
    // vertex set, 3 warm rounds over tag ∉ {3,4}
    val hitsWarmSql = {
      val tagX = "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10"
      def iterCtes(p: String, e: String, verts: String, n: Int): String =
        (1 to n).map { k =>
          s"${p}ar$k AS MATERIALIZED (SELECT e.v AS id, SUM(h.h) AS r " +
            s"FROM $e e JOIN ${p}h${k - 1} h ON h.id = e.u GROUP BY e.v), " +
            s"${p}a$k AS MATERIALIZED (SELECT $verts.id, CAST(COALESCE((ar.r * 1000000) // " +
            s"(SELECT MAX(r) FROM ${p}ar$k), 0) AS BIGINT) AS a " +
            s"FROM $verts LEFT JOIN ${p}ar$k ar ON ar.id = $verts.id), " +
            s"${p}hr$k AS MATERIALIZED (SELECT e.u AS id, SUM(a.a) AS r " +
            s"FROM $e e JOIN ${p}a$k a ON a.id = e.v GROUP BY e.u), " +
            s"${p}h$k AS MATERIALIZED (SELECT $verts.id, CAST(COALESCE((hr.r * 1000000) // " +
            s"(SELECT MAX(r) FROM ${p}hr$k), 0) AS BIGINT) AS h " +
            s"FROM $verts LEFT JOIN ${p}hr$k hr ON hr.id = $verts.id)"
        }.mkString(", ")
      s"WITH c AS MATERIALIZED ($copurchase10), " +
        s"eb AS MATERIALIZED (SELECT x AS u, y AS v FROM c WHERE $tagX <> 8), " +
        "bverts AS MATERIALIZED (SELECT u AS id FROM eb UNION SELECT v FROM eb), " +
        "bh0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM bverts), " +
        iterCtes("b", "eb", "bverts", 5) + ", " +
        s"en AS MATERIALIZED (SELECT x AS u, y AS v FROM c WHERE $tagX NOT IN (3, 4)), " +
        "nverts AS MATERIALIZED (SELECT u AS id FROM en UNION SELECT v FROM en), " +
        "wh0 AS (SELECT nverts.id, CAST(COALESCE(bh5.h, 1000000) AS BIGINT) AS h " +
        "FROM nverts LEFT JOIN bh5 ON bh5.id = nverts.id), " +
        iterCtes("w", "en", "nverts", 3) +
        " SELECT nverts.id, wh3.h AS hub_mu, wa3.a AS auth_mu " +
        "FROM nverts JOIN wh3 ON wh3.id = nverts.id JOIN wa3 ON wa3.id = nverts.id"
    }
    // harmonic closeness over the shared forward-BFS unroll: first-reach
    // layer index IS the distance; each (s, v) pair contributes the
    // precomputed truncated term 1000000 // d
    val closenessSql = {
      val d = centralityDepth
      val all = (1 to d).map(r =>
        s"SELECT v, CAST(${1000000L / r} AS BIGINT) AS cmu FROM f$r").mkString(" UNION ALL ")
      centralityFwdSql.stripSuffix(", ") +
        s" SELECT v AS id, CAST(SUM(cmu) AS BIGINT) AS close_mu FROM ($all) GROUP BY v " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) WHERE EXISTS " +
        s"(SELECT 1 FROM f$d)"
    }
    // maximal matching unrolled (the k-core pattern): per round a
    // per-vertex min incident edge key, handshake detection, matched
    // vertices retired; sentinel fails loud if edges outlive the unroll.
    // The CTE prefix is shared with the coarsening oracle below.
    val matchingCtes = {
      val base = s"WITH c AS MATERIALIZED ($copurchase10), " +
        "e0 AS MATERIALIZED (SELECT x AS u, y AS v FROM c), "
      val rounds = (1 to MatchingRounds).map { r =>
        s"k$r AS MATERIALIZED (SELECT u, v, u * 1000000000 + v AS k, " +
          "(((u * 1000000000 + v) % 2147483648) * 2654435761) % 2147483648 AS p " +
          s"FROM e${r - 1}), " +
          s"inc$r AS MATERIALIZED (SELECT u AS x, p, k FROM k$r " +
          s"UNION ALL SELECT v, p, k FROM k$r), " +
          s"mp$r AS MATERIALIZED (SELECT x, MIN(p) AS mp FROM inc$r GROUP BY x), " +
          s"mn$r AS MATERIALIZED (SELECT i.x, MIN(i.k) AS mk FROM inc$r i " +
          s"JOIN mp$r m ON m.x = i.x AND i.p = m.mp GROUP BY i.x), " +
          s"m$r AS MATERIALIZED (SELECT e.u, e.v FROM k$r e " +
          s"JOIN mn$r a ON a.x = e.u AND a.mk = e.k " +
          s"JOIN mn$r b ON b.x = e.v AND b.mk = e.k), " +
          s"mv$r AS MATERIALIZED (SELECT u AS x FROM m$r UNION SELECT v FROM m$r), " +
          s"e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e " +
          s"LEFT JOIN mv$r a ON a.x = e.u LEFT JOIN mv$r b ON b.x = e.v " +
          "WHERE a.x IS NULL AND b.x IS NULL)"
      }.mkString(", ")
      val all = (1 to MatchingRounds).map(r => s"SELECT u, v FROM m$r").mkString(" UNION ALL ")
      base + rounds + s", allm AS MATERIALIZED ($all)"
    }
    val matchingSql =
      matchingCtes + " SELECT u, v FROM allm " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE EXISTS (SELECT 1 FROM e$MatchingRounds)"
    // coarsening: matched pairs collapse onto their smaller endpoint,
    // parallel edges aggregate, self-loops drop (3-column sentinel)
    val coarsenSql =
      matchingCtes + ", lbl AS (SELECT v AS x, u AS l FROM allm) " +
        "SELECT cu, cv, CAST(COUNT(*) AS BIGINT) AS weight FROM " +
        "(SELECT LEAST(x1, x2) AS cu, GREATEST(x1, x2) AS cv FROM " +
        "(SELECT COALESCE(a.l, e.u) AS x1, COALESCE(b.l, e.v) AS x2 " +
        "FROM e0 e LEFT JOIN lbl a ON a.x = e.u LEFT JOIN lbl b ON b.x = e.v) " +
        "WHERE x1 <> x2) GROUP BY cu, cv " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE EXISTS (SELECT 1 FROM e$MatchingRounds)"
    // per-edge embeddedness: k-truss support join for common neighbors,
    // exact integer union size, truncated micro-unit Jaccard
    val embeddednessSql =
      (s"WITH c AS MATERIALIZED ($copurchase10), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "deg AS (SELECT u AS x, COUNT(*) AS d FROM sym GROUP BY u), " +
        "e AS (SELECT u, v FROM sym WHERE u < v), " +
        "cn AS (SELECT e.u, e.v, COUNT(*) AS cn FROM e " +
        "JOIN sym a ON a.u = e.u JOIN sym b ON b.u = e.v AND b.v = a.v " +
        "GROUP BY e.u, e.v) " +
        "SELECT e.u, e.v, CAST(COALESCE(cn.cn, 0) AS BIGINT) AS cn, " +
        "CAST(du.d + dv.d - 2 - COALESCE(cn.cn, 0) AS BIGINT) AS un, " +
        "CAST(CASE WHEN du.d + dv.d - 2 - COALESCE(cn.cn, 0) > 0 " +
        "THEN (COALESCE(cn.cn, 0) * 1000000) // (du.d + dv.d - 2 - COALESCE(cn.cn, 0)) " +
        "ELSE 0 END AS BIGINT) AS jaccard_mu " +
        "FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v " +
        "LEFT JOIN cn ON cn.u = e.u AND cn.v = e.v")
    val kcoreSql = {
      val base = s"WITH c AS MATERIALIZED ($copurchase10), " +
        "e0 AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), "
      val rounds = (1 to 12).map { r =>
        s"k$r AS MATERIALIZED (SELECT u FROM e${r - 1} GROUP BY u HAVING COUNT(*) >= 6), " +
          s"e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e " +
          s"JOIN k$r a ON a.u = e.u JOIN k$r b ON b.u = e.v)"
      }.mkString(", ")
      // convergence sentinel: if the last two unrolled rounds still differ
      // (peel not at fixpoint at this sf), emit a row Spark can never
      // produce so the hash gate fails LOUDLY instead of silently
      // comparing a truncated fixpoint
      base + rounds + " SELECT u AS id, COUNT(*) AS core_degree FROM e12 GROUP BY u " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        "WHERE (SELECT COUNT(*) FROM e11) <> (SELECT COUNT(*) FROM e12)"
    }
    // full coreness via the unrolled h-index fixed point: per round a
    // neighbor-value join, a per-vertex descending rank, and the count
    // of positions r with value_r >= r (invariant to tie order); the
    // last two rounds must agree or the sentinel fails the hash loudly
    // the h-index fixpoint replay, parameterized by the edge CTE — one
    // definition serves the full decomposition (q147, C10) and the
    // CDC-maintained one (q232, the NET edge set)
    def corenessSqlFor(cSql: String) = {
      val R = CorenessRounds
      val base = s"WITH c AS MATERIALIZED ($cSql), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "h0 AS MATERIALIZED (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS h FROM sym GROUP BY u), "
      val rounds = (1 to R).map { r =>
        s"rk$r AS MATERIALIZED (SELECT s.u, p.h AS cv, " +
          s"ROW_NUMBER() OVER (PARTITION BY s.u ORDER BY p.h DESC) AS r " +
          s"FROM sym s JOIN h${r - 1} p ON p.id = s.v), " +
          s"h$r AS MATERIALIZED (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS h " +
          s"FROM rk$r WHERE cv >= r GROUP BY u)"
      }.mkString(", ")
      base + rounds + s" SELECT id, h AS coreness FROM h$R " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE EXISTS (SELECT 1 FROM h$R a JOIN h${R - 1} b " +
        "ON a.id = b.id AND a.h <> b.h)"
    }
    val corenessSql = corenessSqlFor(copurchase10)
    // maintained coreness: the oracle sees only the changelog's NET
    // effect (tags ∉ {3,4} — the q210/q215 identity), never the deltas
    val corenessMaintSql = corenessSqlFor(
      s"SELECT x, y FROM ($copurchase10) z WHERE " +
        "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 NOT IN (3, 4)")
    // greedy densest-subgraph peel replayed round by round (8 rounds at
    // sf0.01, 16 = 2× margin; extra rounds peel nothing and emit no
    // stats row); HUGEINT for the threshold and density cross-products
    // (the operator's DECIMAL(38,0) argument), sentinel if edges remain
    val densestSql = {
      val R = 16
      val base = s"WITH c AS MATERIALIZED ($copurchase10), " +
        "e0 AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION ALL SELECT y, x FROM c), " +
        "s0 AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n, " +
        "CAST(COUNT(*) AS BIGINT) AS ms FROM e0), "
      val rounds = (1 to R).map { r =>
        val p = r - 1
        s"k$r AS MATERIALIZED (SELECT u FROM e$p GROUP BY u " +
          s"HAVING CAST(COUNT(*) AS HUGEINT) * 10 * (SELECT n FROM s$p) " +
          s"> CAST(11 AS HUGEINT) * (SELECT ms FROM s$p)), " +
          s"e$r AS MATERIALIZED (SELECT e.u, e.v FROM e$p e " +
          s"JOIN k$r a ON a.u = e.u JOIN k$r b ON b.u = e.v), " +
          s"s$r AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n, " +
          s"CAST(COUNT(*) AS BIGINT) AS ms FROM e$r)"
      }.mkString(", ")
      val statsUnion = (0 to R).map(r =>
        s"SELECT CAST($r AS BIGINT) AS r, n, ms FROM s$r WHERE ms > 0").mkString(" UNION ALL ")
      base + rounds + s", st AS MATERIALIZED ($statsUnion) " +
        "SELECT r AS round, n AS n_vertices, CAST(ms // 2 AS BIGINT) AS n_edges, " +
        "CAST(CAST(ms AS HUGEINT) * 500000 // n AS BIGINT) AS density_micro, " +
        "CAST(CASE WHEN NOT EXISTS (SELECT 1 FROM st b WHERE " +
        "CAST(b.ms AS HUGEINT) * a.n > CAST(a.ms AS HUGEINT) * b.n " +
        "OR (CAST(b.ms AS HUGEINT) * a.n = CAST(a.ms AS HUGEINT) * b.n AND b.r < a.r)) " +
        "THEN 1 ELSE 0 END AS BIGINT) AS is_best FROM st a " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), " +
        s"CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) WHERE EXISTS (SELECT 1 FROM e$R)"
    }
    // per-COMPONENT greedy peel (q241/q242): the densestSql unroll with
    // the two loop scalars (n, ms) keyed by a recursive min-label CC —
    // each component carries its own threshold and its own
    // earliest-max best-round argmax. Same R = 16 margin (components
    // peel no deeper than the global graph's geometric bound); same
    // sentinel if edges survive the unroll
    def densestCompSqlFor(edgeSql: String): String = {
      val R = 16
      val rounds = (1 to R).map { r =>
        val p = r - 1
        s"k$r AS MATERIALIZED (SELECT d.cmp, d.u FROM " +
          s"(SELECT cmp, u, COUNT(*) AS dg FROM e$p GROUP BY 1, 2) d " +
          s"JOIN s$p s ON s.cmp = d.cmp " +
          s"WHERE CAST(d.dg AS HUGEINT) * 10 * s.n > CAST(11 AS HUGEINT) * s.ms), " +
          s"e$r AS MATERIALIZED (SELECT e.cmp, e.u, e.v FROM e$p e " +
          s"JOIN k$r a ON a.cmp = e.cmp AND a.u = e.u " +
          s"JOIN k$r b ON b.cmp = e.cmp AND b.u = e.v), " +
          s"s$r AS MATERIALIZED (SELECT cmp, CAST(COUNT(DISTINCT u) AS BIGINT) AS n, " +
          s"CAST(COUNT(*) AS BIGINT) AS ms FROM e$r GROUP BY cmp)"
      }.mkString(", ")
      val statsUnion = (0 to R).map(r =>
        s"SELECT cmp, CAST($r AS BIGINT) AS r, n, ms FROM s$r").mkString(" UNION ALL ")
      s"WITH RECURSIVE c AS MATERIALIZED ($edgeSql), " +
        "sym0 AS MATERIALIZED (SELECT x AS a, y AS b FROM c WHERE x <> y " +
        "UNION SELECT y, x FROM c WHERE x <> y), " +
        "lblcc(v, l) AS (SELECT DISTINCT a, a FROM sym0 " +
        "UNION SELECT s.b, lblcc.l FROM sym0 s JOIN lblcc ON lblcc.v = s.a AND lblcc.l < s.b), " +
        "vc AS MATERIALIZED (SELECT v AS id, MIN(l) AS cmp FROM lblcc GROUP BY v), " +
        "e0 AS MATERIALIZED (SELECT vc.cmp, s.a AS u, s.b AS v FROM sym0 s " +
        "JOIN vc ON vc.id = s.a), " +
        "s0 AS MATERIALIZED (SELECT cmp, CAST(COUNT(DISTINCT u) AS BIGINT) AS n, " +
        "CAST(COUNT(*) AS BIGINT) AS ms FROM e0 GROUP BY cmp), " +
        rounds + s", st AS MATERIALIZED ($statsUnion) " +
        "SELECT a.cmp AS component, a.r AS round, a.n AS n_vertices, " +
        "CAST(a.ms // 2 AS BIGINT) AS n_edges, " +
        "CAST(CAST(a.ms AS HUGEINT) * 500000 // a.n AS BIGINT) AS density_micro, " +
        "CAST(CASE WHEN NOT EXISTS (SELECT 1 FROM st b WHERE b.cmp = a.cmp AND " +
        "(CAST(b.ms AS HUGEINT) * a.n > CAST(a.ms AS HUGEINT) * b.n " +
        "OR (CAST(b.ms AS HUGEINT) * a.n = CAST(a.ms AS HUGEINT) * b.n AND b.r < a.r))) " +
        "THEN 1 ELSE 0 END AS BIGINT) AS is_best FROM st a " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), " +
        s"CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE EXISTS (SELECT 1 FROM e$R)"
    }
    val densestCompSql = densestCompSqlFor(copurchase10)
    // maintained densest: the oracle sees only the changelog's NET
    // effect (tags ∉ {3,4} — the q210/q215 identity), never the deltas
    val netCopurchase10 =
      s"SELECT x, y FROM ($copurchase10) z WHERE " +
        "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 NOT IN (3, 4)"
    val densestCompMaintSql = densestCompSqlFor(netCopurchase10)
    // maintained HyperBall (q255/q256/q257): the oracle replays the
    // FULL register rounds over the net edge set — pass-through rows
    // and recomputed rows must be indistinguishable from a cold run
    val (hyperballMaintSql, hyperballHcMaintSql, _, hyperballDistMaintSql,
         _) = hyperballSqlsFor(netCopurchase10)
    // q58's composition parameterized by the edge CTE — one definition
    // serves the full clustering (C10) and the CDC-maintained one
    // (q258, the NET edge set)
    def clusteringSqlFor(cSql: String): String =
      (s"WITH c AS ($cSql), " +
        "deg AS (SELECT id, COUNT(*) AS degree FROM " +
        "(SELECT x AS id FROM c UNION ALL SELECT y FROM c) GROUP BY id), " +
        "t AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c3 $TRIJOIN), " +
        "tv AS (SELECT id, COUNT(*) AS tri FROM (SELECT a AS id FROM t " +
        "UNION ALL SELECT b FROM t UNION ALL SELECT c3 FROM t) GROUP BY id) " +
        "SELECT deg.id, deg.degree, COALESCE(tv.tri, 0) AS triangles, " +
        "ROUND(2.0 * COALESCE(tv.tri, 0) / (deg.degree * (deg.degree - 1)), 6) AS coeff " +
        "FROM deg LEFT JOIN tv ON tv.id = deg.id WHERE deg.degree >= 2")
        .replace("$TRIJOIN", triangleJoin)
    // per-component bipartiteness (q247/q248): recursive min-label CC,
    // parity reachability seeded at each component's root (its min
    // vertex, parity 0), conflict = a vertex reachable at BOTH parities
    // — the component holds an odd cycle
    def bipCompSqlFor(edgeSql: String): String =
      s"WITH RECURSIVE c AS MATERIALIZED ($edgeSql), " +
        "sym AS MATERIALIZED (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
        "lblcc(v, l) AS (SELECT DISTINCT a, a FROM sym " +
        "UNION SELECT s.b, lblcc.l FROM sym s JOIN lblcc ON lblcc.v = s.a AND lblcc.l < s.b), " +
        "vc AS MATERIALIZED (SELECT v AS id, MIN(l) AS cmp FROM lblcc GROUP BY v), " +
        "roots AS MATERIALIZED (SELECT DISTINCT cmp FROM vc), " +
        "par(v, p) AS (SELECT cmp, 0 FROM roots " +
        "UNION SELECT s.b, 1 - par.p FROM sym s JOIN par ON par.v = s.a), " +
        "confl AS MATERIALIZED (SELECT DISTINCT vc.cmp FROM par a " +
        "JOIN par b ON a.v = b.v AND a.p < b.p JOIN vc ON vc.id = a.v) " +
        "SELECT CAST(r.cmp AS BIGINT) AS component, " +
        "CAST(CASE WHEN confl.cmp IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_bipartite " +
        "FROM roots r LEFT JOIN confl ON confl.cmp = r.cmp"
    val bipCompSql = bipCompSqlFor(copurchase10)
    val bipCompMaintSql = bipCompSqlFor(netCopurchase10)
    // time-respecting earliest arrival replayed by unrolled min-relax
    // rounds (9 at sf0.01, 18 = 2× margin); sentinel on any value OR
    // membership difference between the last two rounds
    val temporalBfsSql = {
      val R = 18
      val ctSql = "SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y, " +
        "epoch(o.o_orderdate) AS t FROM lineitem a " +
        "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "JOIN orders o ON o.o_orderkey = a.l_orderkey WHERE a.l_orderkey % 2 = 0"
      val base = s"WITH ct AS MATERIALIZED ($ctSql), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v, t FROM ct " +
        "UNION ALL SELECT y, x, t FROM ct), " +
        "a0 AS MATERIALIZED (SELECT (SELECT MIN(x) FROM ct) AS id, CAST(-1 AS BIGINT) AS a), "
      val rounds = (1 to R).map { r =>
        val p = r - 1
        s"n$r AS MATERIALIZED (SELECT s.v AS id, MIN(s.t) AS na FROM sym s " +
          s"JOIN a$p p ON p.id = s.u AND s.t >= p.a GROUP BY s.v), " +
          s"a$r AS MATERIALIZED (SELECT id, MIN(a) AS a FROM " +
          s"(SELECT id, a FROM a$p UNION ALL SELECT id, na FROM n$r) GROUP BY id)"
      }.mkString(", ")
      base + rounds + s" SELECT CAST(id AS BIGINT) AS id, CAST(a AS BIGINT) AS arrival FROM a$R " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE EXISTS (SELECT 1 FROM a$R x JOIN a${R - 1} y ON x.id = y.id AND x.a <> y.a) " +
        s"OR EXISTS (SELECT 1 FROM a$R x WHERE NOT EXISTS " +
        s"(SELECT 1 FROM a${R - 1} y WHERE y.id = x.id))"
    }
    // latest-departure dual: unrolled MAX-relax (12 rounds at sf0.01,
    // 24 = 2× margin), edges into the improved set usable iff t ≤ lt
    val temporalDepartureSql = {
      val R = 24
      val ctSql = "SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y, " +
        "epoch(o.o_orderdate) AS t FROM lineitem a " +
        "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "JOIN orders o ON o.o_orderkey = a.l_orderkey WHERE a.l_orderkey % 2 = 0"
      val base = s"WITH ct AS MATERIALIZED ($ctSql), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v, t FROM ct " +
        "UNION ALL SELECT y, x, t FROM ct), " +
        "a0 AS MATERIALIZED (SELECT (SELECT MIN(x) FROM ct) AS id, " +
        "CAST(4102444800 AS BIGINT) AS a), "
      val rounds = (1 to R).map { r =>
        val p = r - 1
        s"n$r AS MATERIALIZED (SELECT s.u AS id, MAX(s.t) AS na FROM sym s " +
          s"JOIN a$p p ON p.id = s.v AND s.t <= p.a GROUP BY s.u), " +
          s"a$r AS MATERIALIZED (SELECT id, MAX(a) AS a FROM " +
          s"(SELECT id, a FROM a$p UNION ALL SELECT id, na FROM n$r) GROUP BY id)"
      }.mkString(", ")
      base + rounds + s" SELECT CAST(id AS BIGINT) AS id, CAST(a AS BIGINT) AS departure FROM a$R " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE EXISTS (SELECT 1 FROM a$R x JOIN a${R - 1} y ON x.id = y.id AND x.a <> y.a) " +
        s"OR EXISTS (SELECT 1 FROM a$R x WHERE NOT EXISTS " +
        s"(SELECT 1 FROM a${R - 1} y WHERE y.id = x.id))"
    }
    // double-sweep diameter: two chained depth-capped recursive BFS CTEs
    // (the q59 pattern); the far vertex is the deterministic
    // (dist DESC, id ASC) argmax of sweep 1
    val diameterSql =
      (s"WITH RECURSIVE c AS MATERIALIZED ($copurchase10), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "b1(id, d) AS (SELECT MIN(x), 0 FROM c " +
        "UNION SELECT sym.v, b1.d + 1 FROM sym JOIN b1 ON b1.id = sym.u WHERE b1.d < 20), " +
        "m1 AS MATERIALIZED (SELECT id, MIN(d) AS dist FROM b1 GROUP BY id), " +
        "far AS MATERIALIZED (SELECT id FROM m1 ORDER BY dist DESC, id ASC LIMIT 1), " +
        "b2(id, d) AS (SELECT id, 0 FROM far " +
        "UNION SELECT sym.v, b2.d + 1 FROM sym JOIN b2 ON b2.id = sym.u WHERE b2.d < 20), " +
        "m2 AS (SELECT id, MIN(d) AS dist FROM b2 GROUP BY id) " +
        "SELECT (SELECT MIN(x) FROM c) AS source, " +
        "CAST((SELECT MAX(dist) FROM m1) AS BIGINT) AS ecc_source, " +
        "(SELECT id FROM far) AS far_vertex, " +
        "CAST((SELECT MAX(dist) FROM m2) AS BIGINT) AS diameter_lb " +
        // depth-cap sentinel for both sweeps (same argument as bfsSql)
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), " +
        "CAST(-1 AS BIGINT) WHERE (SELECT MAX(dist) FROM m1) >= 20 " +
        "OR (SELECT MAX(dist) FROM m2) >= 20")
    // frame sampling arithmetic replayed from payload byte lengths:
    // nf = max(bytes div 64, 1) frames, every 4th sampled; all sampled
    // frames are full 64 B except the single short frame of a <64 B doc
    val frameSampleSql =
      ("SELECT doc_id AS id, " +
        "CAST((GREATEST(octet_length(encode(text)) // 64, 1) + 3) // 4 AS BIGINT) AS n_sampled, " +
        "CAST(CASE WHEN octet_length(encode(text)) < 64 THEN octet_length(encode(text)) " +
        "ELSE ((GREATEST(octet_length(encode(text)) // 64, 1) + 3) // 4) * 64 END AS BIGINT) AS sampled_bytes " +
        "FROM documents WHERE doc_id % 3 = 2")
    // greedy-MIS rounds unrolled (the kcore pattern; fixpoint takes 4
    // rounds at sf0.01, 10 = 2.5× margin, extra rounds select nothing).
    // Priorities are the same multiplicative hash both engines compute
    // exactly in 64-bit integers (id reduced mod 2^31 before the multiply
    // so the product cannot overflow in either engine); (p, id) structs
    // compare lexicographically in both.
    val misSql = {
      def pr(c: String) = s"{'p': (($c % 2147483648) * 2654435761) % 2147483648, 'i': $c}"
      val base = s"WITH c AS MATERIALIZED ($copurchase10), " +
        "e0 AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "a0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM e0), "
      val rounds = (1 to 10).map { r =>
        s"s$r AS MATERIALIZED (SELECT a.id FROM a${r - 1} a LEFT JOIN " +
          s"(SELECT u, MIN(${pr("v")}) AS np FROM e${r - 1} GROUP BY u) m ON m.u = a.id " +
          s"WHERE m.np IS NULL OR ${pr("a.id")} < m.np), " +
          s"r$r AS MATERIALIZED (SELECT id FROM s$r UNION " +
          s"SELECT e.v FROM e${r - 1} e JOIN s$r ON s$r.id = e.u), " +
          s"a$r AS MATERIALIZED (SELECT id FROM a${r - 1} WHERE id NOT IN (SELECT id FROM r$r)), " +
          s"e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e " +
          s"JOIN a$r x ON x.id = e.u JOIN a$r y ON y.id = e.v)"
      }.mkString(", ")
      // convergence sentinel: active set must be empty after the unroll
      base + rounds + " " +
        (1 to 10).map(r => s"SELECT id FROM s$r").mkString(" UNION ") +
        " UNION ALL SELECT CAST(-1 AS BIGINT) WHERE EXISTS (SELECT 1 FROM a10)"
    }
    // greedy (Jones-Plassmann) coloring unrolled: per round, the ready
    // set (no uncolored smaller-priority neighbor) takes the mex of its
    // smaller neighbors' colors; 60 rounds = 2x the measured 29-round
    // depth at sf0.01 (26 at sf0.001), sentinel row -1 if the unroll
    // is outlived — the q147 two-sided fail-loud discipline
    val coloringSql = {
      def pr(c: String) = s"{'p': (($c % 2147483648) * 2654435761) % 2147483648, 'i': $c}"
      val R = 60
      val sb = new StringBuilder
      sb ++= s"WITH c AS MATERIALIZED ($copurchase10), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        s"dep AS MATERIALIZED (SELECT u, v FROM sym WHERE ${pr("v")} < ${pr("u")}), " +
        "u0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM sym), " +
        "k0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS color WHERE 1=0), "
      for (r <- 1 to R) {
        sb ++= (s"p$r AS (SELECT DISTINCT d.u AS id FROM dep d JOIN u${r - 1} x ON x.id = d.v), " +
          s"rd$r AS MATERIALIZED (SELECT id FROM u${r - 1} WHERE id NOT IN (SELECT id FROM p$r)), " +
          s"us$r AS MATERIALIZED (SELECT d.u AS id, k.color AS cc FROM dep d " +
          s"JOIN rd$r t ON t.id = d.u JOIN k${r - 1} k ON k.id = d.v), " +
          s"cn$r AS (SELECT id, COUNT(*) AS n FROM us$r GROUP BY id), " +
          s"cd$r AS (SELECT t.id, unnest(range(0, COALESCE(cn.n, 0) + 1)) AS cc FROM rd$r t " +
          s"LEFT JOIN cn$r cn ON cn.id = t.id), " +
          s"k$r AS MATERIALIZED (SELECT id, color FROM k${r - 1} UNION ALL " +
          s"SELECT cd.id, CAST(MIN(cd.cc) AS BIGINT) FROM cd$r cd LEFT JOIN us$r us " +
          s"ON us.id = cd.id AND us.cc = cd.cc WHERE us.cc IS NULL GROUP BY cd.id), " +
          s"u$r AS MATERIALIZED (SELECT id FROM u${r - 1} WHERE id NOT IN (SELECT id FROM rd$r)), ")
      }
      sb ++= s"fin AS (SELECT id, color FROM k$R) " +
        s"SELECT id, color FROM fin UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE EXISTS (SELECT 1 FROM u$R)"
      sb.toString
    }
    // k-truss peel unrolled (the kcore/MIS pattern): the canonical
    // a<b<c triangle join yields the 3 edge roles directly canonical;
    // fixpoint takes 4 rounds at sf0.001 / 2 at sf0.01, 10 = margin
    val ktrussSql = {
      val base = s"WITH e0 AS MATERIALIZED ($copurchase10), "
      val rounds = (1 to 10).map { r =>
        s"t$r AS MATERIALIZED (SELECT e1.x AS a, e1.y AS b, e2.y AS c3 " +
          s"FROM e${r - 1} e1 JOIN e${r - 1} e2 ON e2.x = e1.y " +
          s"JOIN e${r - 1} e3 ON e3.x = e1.x AND e3.y = e2.y), " +
          s"s$r AS MATERIALIZED (SELECT x, y, COUNT(*) AS sup FROM (" +
          s"SELECT a AS x, b AS y FROM t$r UNION ALL " +
          s"SELECT a, c3 FROM t$r UNION ALL SELECT b, c3 FROM t$r) u GROUP BY x, y), " +
          s"e$r AS MATERIALIZED (SELECT e.x, e.y FROM e${r - 1} e " +
          s"LEFT JOIN s$r s ON s.x = e.x AND s.y = e.y WHERE COALESCE(s.sup, 0) >= 3)"
      }.mkString(", ")
      // convergence sentinel (edge set shrinks monotonically)
      base + rounds + " SELECT x AS src, y AS dst FROM e10 " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        "WHERE (SELECT COUNT(*) FROM e9) <> (SELECT COUNT(*) FROM e10)"
    }
    // D — the directed fixture (GraphFixtures.directedParts, mod 20):
    // per-order part cycles (LEAD over line number, wrap via
    // FIRST_VALUE) + customer order chains (LEAD over order date). Both
    // engines replay the same window arithmetic row for row.
    val directedCtes =
      ("li0 AS MATERIALIZED (SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p " +
        "FROM lineitem WHERE l_orderkey % 20 = 0), " +
        "cyc AS (SELECT p AS src, COALESCE(LEAD(p) OVER w, FIRST_VALUE(p) OVER w) AS dst " +
        "FROM li0 WINDOW w AS (PARTITION BY ok ORDER BY ln, p)), " +
        "fir AS (SELECT ok, p AS fp FROM (SELECT ok, p, ROW_NUMBER() OVER " +
        "(PARTITION BY ok ORDER BY ln, p) AS rn FROM li0) q0 WHERE rn = 1), " +
        "chn AS (SELECT fp AS src, LEAD(fp) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, ok) AS dst FROM fir JOIN orders ON o_orderkey = ok), " +
        "d AS MATERIALIZED (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM cyc " +
        "UNION ALL SELECT src, dst FROM chn) z WHERE dst IS NOT NULL AND src <> dst)")
    // SCC ground truth by definition: reachability closure (UNION set
    // semantics terminate it on cycles), mutual pairs, min mutual
    // partner (self for vertices on no cycle). Tractable because the
    // mod-20 fixture keeps components and chains small — the closure
    // IS the reason the fixture is filtered.
    val sccSelect =
      ("rr(s, t) AS (SELECT src, dst FROM d " +
        "UNION SELECT rr.s, d.dst FROM rr JOIN d ON d.src = rr.t), " +
        "vv AS (SELECT src AS id FROM d UNION SELECT dst FROM d), " +
        "mu AS (SELECT a.s AS id, a.t AS w FROM rr a JOIN rr b ON b.s = a.t AND b.t = a.s), " +
        "sc AS MATERIALIZED (SELECT vv.id, LEAST(vv.id, COALESCE(MIN(mu.w), vv.id)) AS scc " +
        "FROM vv LEFT JOIN mu ON mu.id = vv.id GROUP BY vv.id)")
    val sccSql =
      s"WITH RECURSIVE $directedCtes, $sccSelect SELECT id, scc FROM sc"
    // condensation longest-path levels: recursive relax capped at 60
    // with the two-sided sentinel (the Spark loop fails loud at the
    // same cap)
    val condensationSql =
      (s"WITH RECURSIVE $directedCtes, $sccSelect, " +
        "ce AS MATERIALIZED (SELECT DISTINCT sa.scc AS cs, sb.scc AS cd FROM d " +
        "JOIN sc sa ON sa.id = d.src JOIN sc sb ON sb.id = d.dst WHERE sa.scc <> sb.scc), " +
        "lp(c, l) AS (SELECT scc, 0 FROM sc GROUP BY scc " +
        "UNION SELECT ce.cd, lp.l + 1 FROM lp JOIN ce ON ce.cs = lp.c WHERE lp.l < 60), " +
        "lv AS (SELECT c AS scc, MAX(l) AS level FROM lp GROUP BY c) " +
        "SELECT sc.scc, CAST(COUNT(*) AS BIGINT) AS n_members, " +
        "CAST(MIN(lv.level) AS BIGINT) AS level " +
        "FROM sc JOIN lv ON lv.scc = sc.scc GROUP BY sc.scc " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        "WHERE EXISTS (SELECT 1 FROM lv WHERE level >= 60)")
    // directed triad census: 3-cycles canonicalized by their unique
    // min-vertex rotation; feed-forward roles are fixed so no
    // canonicalization is needed
    val directedTriadsSql =
      (s"WITH $directedCtes " +
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_edges, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM d a WHERE EXISTS " +
        "(SELECT 1 FROM d r WHERE r.src = a.dst AND r.dst = a.src)) AS n_reciprocal, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM d e1 JOIN d e2 ON e2.src = e1.dst " +
        "JOIN d e3 ON e3.src = e2.dst AND e3.dst = e1.src " +
        "WHERE e1.src < e1.dst AND e1.src < e2.dst) AS cycle_triangles, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM d e1 JOIN d e2 ON e2.src = e1.dst " +
        "JOIN d e3 ON e3.src = e1.src AND e3.dst = e2.dst " +
        "WHERE e1.src <> e2.dst) AS ffl_triangles")
    // trussness: the q81 peel unrolled PER LEVEL k=3..6, each level
    // starting from the previous level's converged survivors; dropped
    // edges are labeled k-1, kMax survivors labeled kMax ("6+"); one
    // sentinel per level fails the hash loudly if a peel outlives its
    // unroll
    // the successive-peel replay, parameterized by the edge CTE — one
    // definition serves the full decomposition (q152) and the
    // CDC-maintained one (q237, the NET edge set)
    def trussnessSqlFor(cSql: String) = {
      val kMax = 6; val R = 10
      val sb = new StringBuilder
      sb ++= s"WITH f2 AS MATERIALIZED ($cSql), "
      for (k <- 3 to kMax) {
        sb ++= s"e${k}_0 AS MATERIALIZED (SELECT x, y FROM f${k - 1}), "
        for (r <- 1 to R) {
          sb ++= (s"t${k}_$r AS MATERIALIZED (SELECT e1.x AS a, e1.y AS b, e2.y AS c3 " +
            s"FROM e${k}_${r - 1} e1 JOIN e${k}_${r - 1} e2 ON e2.x = e1.y " +
            s"JOIN e${k}_${r - 1} e3 ON e3.x = e1.x AND e3.y = e2.y), " +
            s"s${k}_$r AS MATERIALIZED (SELECT x, y, COUNT(*) AS sup FROM (" +
            s"SELECT a AS x, b AS y FROM t${k}_$r UNION ALL " +
            s"SELECT a, c3 FROM t${k}_$r UNION ALL SELECT b, c3 FROM t${k}_$r) u GROUP BY x, y), " +
            s"e${k}_$r AS MATERIALIZED (SELECT e.x, e.y FROM e${k}_${r - 1} e " +
            s"LEFT JOIN s${k}_$r s ON s.x = e.x AND s.y = e.y " +
            s"WHERE COALESCE(s.sup, 0) >= ${k - 2}), ")
        }
        sb ++= s"f$k AS MATERIALIZED (SELECT x, y FROM e${k}_$R), "
        sb ++= (s"d$k AS MATERIALIZED (SELECT e.x, e.y FROM f${k - 1} e " +
          s"LEFT JOIN f$k s ON s.x = e.x AND s.y = e.y " +
          s"WHERE s.x IS NULL), ")
      }
      val dropped = (3 to kMax).map(k =>
        s"SELECT x AS src, y AS dst, CAST(${k - 1} AS BIGINT) AS trussness FROM d$k")
        .mkString(" UNION ALL ")
      val sentinels = (3 to kMax).map(k =>
        s"(SELECT COUNT(*) FROM e${k}_${R - 1}) <> (SELECT COUNT(*) FROM e${k}_$R)")
        .mkString(" OR ")
      sb ++= s"res AS ($dropped UNION ALL " +
        s"SELECT x, y, CAST($kMax AS BIGINT) FROM f$kMax) "
      sb ++= ("SELECT src, dst, trussness FROM res " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        s"WHERE $sentinels")
      sb.toString
    }
    val trussnessSql = trussnessSqlFor(copurchase10)
    val trussnessMaintSql = trussnessSqlFor(
      s"SELECT x, y FROM ($copurchase10) z WHERE " +
        "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 NOT IN (3, 4)")
    // Adamic–Adar: wedge join over centers with degree >= 2; each
    // center's 1/ln(deg) weight is rounded to integer micro-units FIRST
    // so the per-pair sum is order-independent (the q32/q54 pattern)
    val adamicAdarSql =
      (s"WITH c AS ($copurchase10), " +
        "sym AS (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u), " +
        "w AS (SELECT s.u AS c0, s.v AS n, CAST(ROUND(1000000.0 / LN(deg.d)) AS BIGINT) AS w " +
        "FROM sym s JOIN deg ON deg.u = s.u WHERE deg.d >= 2), " +
        "p AS (SELECT l.n AS a, r.n AS b, COUNT(*) AS cn, CAST(SUM(l.w) AS BIGINT) AS aa_micro " +
        "FROM w l JOIN w r ON l.c0 = r.c0 AND l.n < r.n GROUP BY 1, 2 HAVING COUNT(*) >= 3) " +
        "SELECT a, b, cn, aa_micro FROM p " +
        "WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.x = p.a AND c.y = p.b)")
    // Bellman–Ford unrolled (the kcore pattern): fixpoint takes 9 rounds
    // at sf0.01 (5 at sf0.001); 18 rounds = 2× margin, extra rounds are
    // no-ops. MATERIALIZED for the same reason as kcore (each round
    // references the previous one twice).
    val ssspSql = {
      val base = ("WITH e AS MATERIALIZED (SELECT u, v, MIN(w) AS w FROM (" +
        "SELECT l_partkey AS u, l_suppkey + 1000000000 AS v, CAST(l_quantity AS BIGINT) AS w FROM lineitem " +
        "UNION ALL " +
        "SELECT l_suppkey + 1000000000, l_partkey, CAST(l_quantity AS BIGINT) FROM lineitem" +
        ") GROUP BY u, v), " +
        "d0 AS MATERIALIZED (SELECT MIN(l_partkey) AS id, CAST(0 AS BIGINT) AS dist FROM lineitem), ")
      val rounds = (1 to 18).map { r =>
        s"d$r AS MATERIALIZED (SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM (" +
          s"SELECT id, dist FROM d${r - 1} UNION ALL " +
          s"SELECT e.v, d.dist + e.w FROM e JOIN d${r - 1} d ON d.id = e.u) GROUP BY id)"
      }.mkString(", ")
      // convergence sentinel (id set only grows, per-id dist only falls,
      // so equal count AND equal sum ⟺ d17 = d18 exactly)
      base + rounds + " SELECT id, dist FROM d18 " +
        "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
        "WHERE (SELECT COUNT(*) FROM d17) <> (SELECT COUNT(*) FROM d18) " +
        "OR (SELECT SUM(dist) FROM d17) <> (SELECT SUM(dist) FROM d18)"
    }
    // transitivity & assortativity: exact integer moments, one final division
    // parameterized by the edge CTE — serves the full statistic (q62)
    // and the maintained composition (q265, the NET edge set)
    def transitivitySqlFor(cSql: String): String =
      (s"WITH c AS ($cSql), " +
        s"t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles $triangleJoin), " +
        // `//` (integer division; d*(d-1) is even) keeps the sum exact past
        // 2^53 wedges, matching the Spark side's `div`
        "wd AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM " +
        "(SELECT v, COUNT(*) AS d FROM (SELECT x AS v FROM c UNION ALL SELECT y FROM c) GROUP BY v)) " +
        "SELECT n_triangles, n_wedges, ROUND(3.0 * n_triangles / n_wedges, 6) AS transitivity FROM t, wd")
    val transitivitySql = transitivitySqlFor(copurchase10)
    // parameterized by the edge CTE — serves the full statistic (q63)
    // and the algebraically maintained one (q264, the NET edge set)
    def assortativitySqlFor(cSql: String): String =
      (s"WITH c AS ($cSql), " +
        "sym AS (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "deg AS (SELECT u AS id, COUNT(*) AS d FROM sym GROUP BY u), " +
        "mo AS (SELECT COUNT(*) AS m, CAST(SUM(j.d * k.d) AS BIGINT) AS s_jk, " +
        "CAST(SUM(j.d) AS BIGINT) AS s_j, CAST(SUM(j.d * j.d) AS BIGINT) AS s_j2 " +
        "FROM sym JOIN deg j ON j.id = sym.u JOIN deg k ON k.id = sym.v) " +
        "SELECT m, s_jk, s_j, s_j2, " +
        "ROUND(CAST(m * s_jk - s_j * s_j AS DOUBLE) / CAST(m * s_j2 - s_j * s_j AS DOUBLE), 6) " +
        "AS assortativity FROM mo")
    val assortativitySql = assortativitySqlFor(copurchase10)
    // personalized PageRank: q54's unrolled pattern with the teleport
    // term masked to the single source vertex
    val pprSql = {
      val base = s"WITH c AS ($copurchase10), " +
        "sym AS (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "deg AS (SELECT u, COUNT(*) AS outdeg FROM sym GROUP BY u), " +
        "verts AS (SELECT u AS id FROM deg), " +
        "src AS (SELECT MIN(x) AS s FROM c), " +
        "r0 AS (SELECT id, CAST(CASE WHEN id = (SELECT s FROM src) THEN 1000000 ELSE 0 END AS BIGINT) AS \"rank\" FROM verts), "
      val iters = (1 to 10).map { k =>
        s"r$k AS (SELECT verts.id, CAST(CASE WHEN verts.id = (SELECT s FROM src) THEN 150000 ELSE 0 END " +
          "+ (85 * COALESCE(s2.c, 0)) // 100 AS BIGINT) AS \"rank\" " +
          "FROM verts LEFT JOIN (SELECT e.v AS id, SUM(r.\"rank\" // d.outdeg) AS c " +
          s"FROM sym e JOIN r${k - 1} r ON r.id = e.u JOIN deg d ON d.u = e.u GROUP BY e.v) s2 " +
          "ON s2.id = verts.id)"
      }.mkString(", ")
      base + iters + " SELECT id, \"rank\" FROM r10"
    }
    // weighted PageRank: q54's unrolled pattern with weight-proportional
    // shares — per-edge (rank·w) // totw is an independent exact integer
    val weightedPagerankSql = {
      val base = ("WITH sym AS MATERIALIZED (SELECT u, v, MIN(w) AS w FROM (" +
        "SELECT l_partkey AS u, l_suppkey + 1000000000 AS v, CAST(l_quantity AS BIGINT) AS w FROM lineitem " +
        "UNION ALL SELECT l_suppkey + 1000000000, l_partkey, CAST(l_quantity AS BIGINT) FROM lineitem" +
        ") GROUP BY u, v), " +
        "tot AS MATERIALIZED (SELECT u, CAST(SUM(w) AS BIGINT) AS totw FROM sym GROUP BY u), " +
        "verts AS (SELECT u AS id FROM tot), " +
        "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS \"rank\" FROM verts), ")
      val iters = (1 to 10).map { k =>
        s"r$k AS (SELECT verts.id, CAST(150000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS \"rank\" " +
          "FROM verts LEFT JOIN (SELECT e.v AS id, SUM((r.\"rank\" * e.w) // t.totw) AS c " +
          s"FROM sym e JOIN r${k - 1} r ON r.id = e.u JOIN tot t ON t.u = e.u GROUP BY e.v) s " +
          "ON s.id = verts.id)"
      }.mkString(", ")
      base + iters + " SELECT id, \"rank\" FROM r10"
    }
    // ANN recall-gate oracle: one deterministic row (see recallGate)
    val annGateSql =
      ("SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries, " +
        "CAST(COUNT(DISTINCT vec_id) * 5 AS BIGINT) AS n_exact, " +
        "true AS recall_ok FROM embeddings WHERE vec_id <= 9")
    // its NET-universe twin for the deletion gates (q229/q235)
    val annGateNetSql =
      ("SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries, " +
        "CAST(COUNT(DISTINCT vec_id) * 5 AS BIGINT) AS n_exact, " +
        "true AS recall_ok FROM embeddings WHERE vec_id <= 9 AND vec_id % 10 <> 3")
    // 3 unrolled sync-LPA rounds (mode with min-label tie-break) — the
    // shared prefix of q110 (labels) and q111 (community stats)
    val lpaPrefix = {
      val base = s"WITH c AS MATERIALIZED ($copurchase10), " +
        "sym AS MATERIALIZED (SELECT x AS u, y AS v FROM c UNION SELECT y, x FROM c), " +
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM sym), "
      val rounds = (1 to 3).map { r =>
        s"c$r AS MATERIALIZED (SELECT s.u, l.label AS nl, COUNT(*) AS cnt " +
          s"FROM sym s JOIN l${r - 1} l ON l.id = s.v GROUP BY 1, 2), " +
          s"t$r AS MATERIALIZED (SELECT u, nl FROM (SELECT u, nl, ROW_NUMBER() OVER " +
          s"(PARTITION BY u ORDER BY cnt DESC, nl) AS rn FROM c$r) WHERE rn = 1), " +
          s"l$r AS MATERIALIZED (SELECT l.id, COALESCE(t$r.nl, l.label) AS label " +
          s"FROM l${r - 1} l LEFT JOIN t$r ON t$r.u = l.id)"
      }.mkString(", ")
      base + rounds
    }
    // multi-level Louvain oracle: replay 2 levels × 2 parity-gated
    // weighted move passes + coarsening STEP FOR STEP (the PageRank
    // unroll pattern, generated). Weighted graph tables g{lvl}(u,v,w)
    // carry coarse self-loops; degrees count self-loops twice; the gate
    // recomputes exact-integer modularity before and after every pass.
    // Multi-level Louvain replay, optionally with the Leiden
    // connectivity-refinement step after each level's passes: the
    // refinement is a recursive min-label spread over intra-community
    // edges (the bipartiteSql clbl pattern — the component min passes
    // every `l < b` guard, so MIN(l) per vertex IS the component min),
    // each community replaced by its components named by min member id.
    def louvainSqlGen(leiden: Boolean, weighted: Boolean = false): String = {
      val L = 2; val P = 2
      def pass(t: String, g: String, inL: String, outL: String, parity: Int): String =
        s"sym$t AS MATERIALIZED (SELECT u AS p, v AS o, w FROM $g WHERE u <> v " +
          s"UNION ALL SELECT v, u, w FROM $g WHERE u <> v), " +
          s"deg$t AS MATERIALIZED (SELECT id, CAST(SUM(w) AS BIGINT) AS k FROM " +
          s"(SELECT u AS id, w FROM $g WHERE u <> v UNION ALL SELECT v, w FROM $g WHERE u <> v " +
          s"UNION ALL SELECT u, 2 * w FROM $g WHERE u = v) sub GROUP BY 1), " +
          s"stot$t AS MATERIALIZED (SELECT l.label, CAST(SUM(d.k) AS BIGINT) AS stot " +
          s"FROM $inL l JOIN deg$t d ON d.id = l.id GROUP BY 1), " +
          s"kic$t AS MATERIALIZED (SELECT s.p AS u, l.label AS lv, " +
          s"CAST(SUM(s.w) AS BIGINT) AS kc FROM sym$t s JOIN $inL l ON l.id = s.o GROUP BY 1, 2), " +
          s"cur$t AS MATERIALIZED (SELECT l.id AS u, l.label AS lu, d.k, st.stot AS stotd, " +
          s"COALESCE(kd.kc, 0) AS kd FROM $inL l JOIN deg$t d ON d.id = l.id " +
          s"JOIN stot$t st ON st.label = l.label " +
          s"LEFT JOIN kic$t kd ON kd.u = l.id AND kd.lv = l.label), " +
          s"best$t AS MATERIALIZED (SELECT u, lv FROM (SELECT cur$t.u, kic$t.lv, " +
          s"ROW_NUMBER() OVER (PARTITION BY cur$t.u ORDER BY " +
          s"2 * (SELECT m FROM mm) * (kic$t.kc - cur$t.kd) " +
          s"- cur$t.k * (st.stot - cur$t.stotd + cur$t.k) DESC, kic$t.lv) AS rn " +
          s"FROM cur$t JOIN kic$t ON kic$t.u = cur$t.u AND kic$t.lv <> cur$t.lu " +
          s"JOIN stot$t st ON st.label = kic$t.lv " +
          s"WHERE cur$t.u % 2 = $parity AND 2 * (SELECT m FROM mm) * (kic$t.kc - cur$t.kd) " +
          s"- cur$t.k * (st.stot - cur$t.stotd + cur$t.k) > 0) sub WHERE rn = 1), " +
          s"cand$t AS MATERIALIZED (SELECT l.id, COALESCE(b.lv, l.label) AS label " +
          s"FROM $inL l LEFT JOIN best$t b ON b.u = l.id), " +
          s"stc$t AS MATERIALIZED (SELECT l.label, CAST(SUM(d.k) AS BIGINT) AS stot " +
          s"FROM cand$t l JOIN deg$t d ON d.id = l.id GROUP BY 1), " +
          s"qi$t AS (SELECT 4 * (SELECT m FROM mm) * (SELECT COALESCE(SUM(g.w), 0) FROM $g g " +
          s"JOIN $inL a ON a.id = g.u JOIN $inL b ON b.id = g.v WHERE a.label = b.label) " +
          s"- (SELECT SUM(stot * stot) FROM stot$t) AS q), " +
          s"qc$t AS (SELECT 4 * (SELECT m FROM mm) * (SELECT COALESCE(SUM(g.w), 0) FROM $g g " +
          s"JOIN cand$t a ON a.id = g.u JOIN cand$t b ON b.id = g.v WHERE a.label = b.label) " +
          s"- (SELECT SUM(stot * stot) FROM stc$t) AS q), " +
          s"$outL AS MATERIALIZED (SELECT cd.id, CASE WHEN (SELECT q FROM qc$t) >= " +
          s"(SELECT q FROM qi$t) THEN cd.label ELSE l.label END AS label " +
          s"FROM cand$t cd JOIN $inL l ON l.id = cd.id), "
      val sb = new StringBuilder
      sb ++= (if (leiden) "WITH RECURSIVE " else "WITH ")
      sb ++= s"c AS MATERIALIZED ($copurchase10), "
      // weighted level-1 graph: parallel co-purchases (same pair, any
      // order/lineitem multiplicity) sum into integer edge weights
      sb ++= (if (weighted)
        "g1 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v, " +
          "CAST(COUNT(*) AS BIGINT) AS w FROM lineitem a JOIN lineitem b " +
          "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
          "WHERE a.l_orderkey % 10 = 0 GROUP BY 1, 2), "
      else "g1 AS MATERIALIZED (SELECT x AS u, y AS v, CAST(1 AS BIGINT) AS w FROM c), ")
      sb ++= "mm AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS m FROM g1), "
      sb ++= ("l1_0 AS MATERIALIZED (SELECT u AS id, u AS label FROM " +
        "(SELECT DISTINCT u FROM (SELECT u FROM g1 UNION ALL SELECT v AS u FROM g1) s1) s2), ")
      sb ++= "map1 AS MATERIALIZED (SELECT id, id AS cur FROM l1_0), "
      for (lvl <- 1 to L) {
        for (p <- 1 to P)
          sb ++= pass(s"_$lvl$p", s"g$lvl", s"l${lvl}_${p - 1}", s"l${lvl}_$p", p % 2)
        // the labeling that survives to mapping/coarsening: the last
        // pass's, or its connectivity refinement under Leiden
        val fin = if (leiden) s"r$lvl" else s"l${lvl}_$P"
        if (leiden) {
          sb ++= (s"intra$lvl AS MATERIALIZED (SELECT g.u AS a, g.v AS b FROM g$lvl g " +
            s"JOIN l${lvl}_$P x ON x.id = g.u JOIN l${lvl}_$P y ON y.id = g.v " +
            "WHERE x.label = y.label AND g.u <> g.v), " +
            s"isym$lvl AS MATERIALIZED (SELECT a, b FROM intra$lvl " +
            s"UNION SELECT b, a FROM intra$lvl), " +
            s"cc$lvl(v, l) AS (SELECT DISTINCT a, a FROM isym$lvl " +
            s"UNION SELECT s.b, cc$lvl.l FROM isym$lvl s " +
            s"JOIN cc$lvl ON cc$lvl.v = s.a AND cc$lvl.l < s.b), " +
            s"rep$lvl AS MATERIALIZED (SELECT v AS id, MIN(l) AS rep FROM cc$lvl GROUP BY v), " +
            s"r$lvl AS MATERIALIZED (SELECT l.id, COALESCE(rp.rep, l.id) AS label " +
            s"FROM l${lvl}_$P l LEFT JOIN rep$lvl rp ON rp.id = l.id), ")
        }
        sb ++= (s"map${lvl + 1} AS MATERIALIZED (SELECT mp.id, lb.label AS cur " +
          s"FROM map$lvl mp JOIN $fin lb ON lb.id = mp.cur), ")
        if (lvl < L) {
          sb ++= (s"g${lvl + 1} AS MATERIALIZED (SELECT LEAST(a.label, b.label) AS u, " +
            s"GREATEST(a.label, b.label) AS v, CAST(SUM(g.w) AS BIGINT) AS w FROM g$lvl g " +
            s"JOIN $fin a ON a.id = g.u JOIN $fin b ON b.id = g.v GROUP BY 1, 2), ")
          sb ++= s"l${lvl + 1}_0 AS MATERIALIZED (SELECT DISTINCT label AS id, label FROM $fin), "
        }
      }
      sb ++= s"lab AS MATERIALIZED (SELECT id, cur AS label FROM map${L + 1}), "
      sb ++= ("int_e AS (SELECT la.label, COUNT(*) AS internal_edges FROM c " +
        "JOIN lab la ON la.id = c.x JOIN lab lb ON lb.id = c.y " +
        "WHERE la.label = lb.label GROUP BY 1), " +
        "degc AS (SELECT la.label, COUNT(*) AS total_degree FROM " +
        "(SELECT x AS id FROM c UNION ALL SELECT y AS id FROM c) s " +
        "JOIN lab la ON la.id = s.id GROUP BY 1), " +
        "nv AS (SELECT label, COUNT(*) AS n_vertices FROM lab GROUP BY label) " +
        "SELECT nv.label, nv.n_vertices, " +
        "COALESCE(int_e.internal_edges, 0) AS internal_edges, " +
        "COALESCE(degc.total_degree, 0) AS total_degree " +
        "FROM nv LEFT JOIN int_e ON int_e.label = nv.label " +
        "LEFT JOIN degc ON degc.label = nv.label")
      sb.toString
    }
    val louvainMLSql = louvainSqlGen(leiden = false)
    val louvainLeidenSql = louvainSqlGen(leiden = true)
    val louvainWeightedSql = louvainSqlGen(leiden = false, weighted = true)
    // per-COMPONENT multi-level Louvain replay (q238): the louvainSqlGen
    // unroll with the two global scalars (m, gate) keyed by connected
    // component — components from a recursive min-label CC over the NET
    // (tag ∉ {3,4}) edge set, each component carrying its own edge mass
    // in the gain and accepting/rejecting each pass independently. The
    // oracle never sees the changelog; the Spark side must land here by
    // pass-through + affected-component recompute alone
    val louvainCompSql = {
      val L = 2; val P = 2
      val tagX = "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10"
      def pass(t: String, g: String, vc: String, inL: String, outL: String,
               parity: Int): String =
        s"sym$t AS MATERIALIZED (SELECT u AS p, v AS o, w FROM $g WHERE u <> v " +
          s"UNION ALL SELECT v, u, w FROM $g WHERE u <> v), " +
          s"deg$t AS MATERIALIZED (SELECT id, CAST(SUM(w) AS BIGINT) AS k FROM " +
          s"(SELECT u AS id, w FROM $g WHERE u <> v UNION ALL SELECT v, w FROM $g WHERE u <> v " +
          s"UNION ALL SELECT u, 2 * w FROM $g WHERE u = v) sub GROUP BY 1), " +
          s"stot$t AS MATERIALIZED (SELECT l.label, MIN(vc.cmp) AS cmp, " +
          s"CAST(SUM(d.k) AS BIGINT) AS stot " +
          s"FROM $inL l JOIN deg$t d ON d.id = l.id JOIN $vc vc ON vc.id = l.id GROUP BY 1), " +
          s"kic$t AS MATERIALIZED (SELECT s.p AS u, l.label AS lv, " +
          s"CAST(SUM(s.w) AS BIGINT) AS kc FROM sym$t s JOIN $inL l ON l.id = s.o GROUP BY 1, 2), " +
          s"cur$t AS MATERIALIZED (SELECT l.id AS u, l.label AS lu, d.k, st.stot AS stotd, " +
          s"COALESCE(kd.kc, 0) AS kd, mm.m FROM $inL l JOIN deg$t d ON d.id = l.id " +
          s"JOIN stot$t st ON st.label = l.label " +
          s"JOIN $vc vc ON vc.id = l.id JOIN mm ON mm.cmp = vc.cmp " +
          s"LEFT JOIN kic$t kd ON kd.u = l.id AND kd.lv = l.label), " +
          s"best$t AS MATERIALIZED (SELECT u, lv FROM (SELECT cur$t.u, kic$t.lv, " +
          s"ROW_NUMBER() OVER (PARTITION BY cur$t.u ORDER BY " +
          s"2 * cur$t.m * (kic$t.kc - cur$t.kd) " +
          s"- cur$t.k * (st.stot - cur$t.stotd + cur$t.k) DESC, kic$t.lv) AS rn " +
          s"FROM cur$t JOIN kic$t ON kic$t.u = cur$t.u AND kic$t.lv <> cur$t.lu " +
          s"JOIN stot$t st ON st.label = kic$t.lv " +
          s"WHERE cur$t.u % 2 = $parity AND 2 * cur$t.m * (kic$t.kc - cur$t.kd) " +
          s"- cur$t.k * (st.stot - cur$t.stotd + cur$t.k) > 0) sub WHERE rn = 1), " +
          s"cand$t AS MATERIALIZED (SELECT l.id, COALESCE(b.lv, l.label) AS label " +
          s"FROM $inL l LEFT JOIN best$t b ON b.u = l.id), " +
          s"stc$t AS MATERIALIZED (SELECT l.label, MIN(vc.cmp) AS cmp, " +
          s"CAST(SUM(d.k) AS BIGINT) AS stot " +
          s"FROM cand$t l JOIN deg$t d ON d.id = l.id JOIN $vc vc ON vc.id = l.id GROUP BY 1), " +
          s"qi$t AS MATERIALIZED (SELECT mm.cmp, 4 * mm.m * COALESCE(i.iw, 0) - COALESCE(s.s2, 0) AS q " +
          s"FROM mm LEFT JOIN (SELECT vc.cmp, CAST(SUM(g.w) AS BIGINT) AS iw FROM $g g " +
          s"JOIN $inL a ON a.id = g.u JOIN $inL b ON b.id = g.v JOIN $vc vc ON vc.id = g.u " +
          s"WHERE a.label = b.label GROUP BY 1) i ON i.cmp = mm.cmp " +
          s"LEFT JOIN (SELECT cmp, SUM(stot * stot) AS s2 FROM stot$t GROUP BY 1) s ON s.cmp = mm.cmp), " +
          s"qc$t AS MATERIALIZED (SELECT mm.cmp, 4 * mm.m * COALESCE(i.iw, 0) - COALESCE(s.s2, 0) AS q " +
          s"FROM mm LEFT JOIN (SELECT vc.cmp, CAST(SUM(g.w) AS BIGINT) AS iw FROM $g g " +
          s"JOIN cand$t a ON a.id = g.u JOIN cand$t b ON b.id = g.v JOIN $vc vc ON vc.id = g.u " +
          s"WHERE a.label = b.label GROUP BY 1) i ON i.cmp = mm.cmp " +
          s"LEFT JOIN (SELECT cmp, SUM(stot * stot) AS s2 FROM stc$t GROUP BY 1) s ON s.cmp = mm.cmp), " +
          s"acc$t AS MATERIALIZED (SELECT qi$t.cmp, (qc$t.q >= qi$t.q) AS acc " +
          s"FROM qi$t JOIN qc$t ON qc$t.cmp = qi$t.cmp), " +
          s"$outL AS MATERIALIZED (SELECT cd.id, CASE WHEN a.acc THEN cd.label ELSE l.label END AS label " +
          s"FROM cand$t cd JOIN $inL l ON l.id = cd.id JOIN $vc vc ON vc.id = cd.id " +
          s"JOIN acc$t a ON a.cmp = vc.cmp), "
      val sb = new StringBuilder
      sb ++= s"WITH RECURSIVE c AS MATERIALIZED ($copurchase10), "
      sb ++= (s"g1 AS MATERIALIZED (SELECT x AS u, y AS v, CAST(1 AS BIGINT) AS w " +
        s"FROM c WHERE $tagX NOT IN (3, 4)), ")
      sb ++= ("symcc AS MATERIALIZED (SELECT u AS a, v AS b FROM g1 UNION SELECT v, u FROM g1), " +
        "lblcc(v, l) AS (SELECT DISTINCT a, a FROM symcc " +
        "UNION SELECT s.b, lblcc.l FROM symcc s JOIN lblcc ON lblcc.v = s.a AND lblcc.l < s.b), " +
        "vc1 AS MATERIALIZED (SELECT v AS id, MIN(l) AS cmp FROM lblcc GROUP BY v), " +
        "mm AS MATERIALIZED (SELECT vc.cmp, CAST(SUM(g.w) AS BIGINT) AS m " +
        "FROM g1 g JOIN vc1 vc ON vc.id = g.u GROUP BY 1), ")
      sb ++= ("l1_0 AS MATERIALIZED (SELECT u AS id, u AS label FROM " +
        "(SELECT DISTINCT u FROM (SELECT u FROM g1 UNION ALL SELECT v AS u FROM g1) s1) s2), ")
      sb ++= "map1 AS MATERIALIZED (SELECT id, id AS cur FROM l1_0), "
      for (lvl <- 1 to L) {
        for (p <- 1 to P)
          sb ++= pass(s"_$lvl$p", s"g$lvl", s"vc$lvl",
            s"l${lvl}_${p - 1}", s"l${lvl}_$p", p % 2)
        val fin = s"l${lvl}_$P"
        sb ++= (s"map${lvl + 1} AS MATERIALIZED (SELECT mp.id, lb.label AS cur " +
          s"FROM map$lvl mp JOIN $fin lb ON lb.id = mp.cur), ")
        if (lvl < L) {
          sb ++= (s"g${lvl + 1} AS MATERIALIZED (SELECT LEAST(a.label, b.label) AS u, " +
            s"GREATEST(a.label, b.label) AS v, CAST(SUM(g.w) AS BIGINT) AS w FROM g$lvl g " +
            s"JOIN $fin a ON a.id = g.u JOIN $fin b ON b.id = g.v GROUP BY 1, 2), ")
          sb ++= s"l${lvl + 1}_0 AS MATERIALIZED (SELECT DISTINCT label AS id, label FROM $fin), "
          sb ++= (s"vc${lvl + 1} AS MATERIALIZED (SELECT DISTINCT l.label AS id, vc.cmp " +
            s"FROM $fin l JOIN vc$lvl vc ON vc.id = l.id), ")
        }
      }
      sb ++= s"lab AS MATERIALIZED (SELECT id, cur AS label FROM map${L + 1}), "
      sb ++= (s"ce AS (SELECT x, y FROM c WHERE $tagX NOT IN (3, 4)), " +
        "int_e AS (SELECT la.label, COUNT(*) AS internal_edges FROM ce " +
        "JOIN lab la ON la.id = ce.x JOIN lab lb ON lb.id = ce.y " +
        "WHERE la.label = lb.label GROUP BY 1), " +
        "degc AS (SELECT la.label, COUNT(*) AS total_degree FROM " +
        "(SELECT x AS id FROM ce UNION ALL SELECT y AS id FROM ce) s " +
        "JOIN lab la ON la.id = s.id GROUP BY 1), " +
        "nv AS (SELECT label, COUNT(*) AS n_vertices FROM lab GROUP BY label) " +
        "SELECT nv.label, nv.n_vertices, " +
        "COALESCE(int_e.internal_edges, 0) AS internal_edges, " +
        "COALESCE(degc.total_degree, 0) AS total_degree " +
        "FROM nv LEFT JOIN int_e ON int_e.label = nv.label " +
        "LEFT JOIN degc ON degc.label = nv.label")
      sb.toString
    }
    // Sound 2-colorability oracle for BOTH graphs (q17 + q90): label
    // components (min-id root per component), then BFS parity from each
    // root; a graph is bipartite iff no vertex acquires both parities.
    val bipartiteSql =
      ("WITH RECURSIVE " +
        "esym AS (SELECT l_partkey AS a, l_suppkey + 1000000000 AS b FROM lineitem " +
        "UNION SELECT l_suppkey + 1000000000, l_partkey FROM lineitem), " +
        "elbl(v, l) AS (SELECT DISTINCT a, a FROM esym " +
        "UNION SELECT s.b, elbl.l FROM esym s JOIN elbl ON elbl.v = s.a AND elbl.l < s.b), " +
        "eroots AS (SELECT DISTINCT MIN(l) AS r FROM elbl GROUP BY v), " +
        "epar(v, p) AS (SELECT r, 0 FROM eroots " +
        "UNION SELECT s.b, 1 - epar.p FROM esym s JOIN epar ON epar.v = s.a), " +
        s"c AS ($copurchase), " +
        "csym AS (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
        "clbl(v, l) AS (SELECT DISTINCT a, a FROM csym " +
        "UNION SELECT s.b, clbl.l FROM csym s JOIN clbl ON clbl.v = s.a AND clbl.l < s.b), " +
        "croots AS (SELECT DISTINCT MIN(l) AS r FROM clbl GROUP BY v), " +
        "cpar(v, p) AS (SELECT r, 0 FROM croots " +
        "UNION SELECT s.b, 1 - cpar.p FROM csym s JOIN cpar ON cpar.v = s.a) " +
        "SELECT 'C' AS graph, NOT EXISTS " +
        "(SELECT 1 FROM cpar GROUP BY v HAVING COUNT(DISTINCT p) > 1) AS bipartite " +
        "UNION ALL SELECT 'E', NOT EXISTS " +
        "(SELECT 1 FROM epar GROUP BY v HAVING COUNT(DISTINCT p) > 1)")

    Map(
      "q01_vertices" -> eVerts,
      "q02_counts" ->
        (s"SELECT (SELECT COUNT(*) FROM ($eVerts)) AS n_vertices, " +
          "(SELECT COUNT(*) FROM lineitem) AS n_edges"),
      "q03_degrees" ->
        s"SELECT id, COUNT(*) AS degree FROM ($eEnds) GROUP BY id",
      "q91_salted_degrees" ->
        s"SELECT id, COUNT(*) AS degree FROM ($eEnds) GROUP BY id",
      "q92_composite_key" ->
        ("WITH ends AS (SELECT 'line' AS dom, CAST(l_orderkey AS VARCHAR) AS k0, " +
          "CAST(l_linenumber AS VARCHAR) AS k1 FROM lineitem " +
          "UNION ALL SELECT 'ps', CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR) FROM lineitem) " +
          "SELECT dom, k0, k1, COUNT(*) AS degree FROM ends GROUP BY dom, k0, k1"),
      "q04_inout_degrees" ->
        ("SELECT id, CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS out_degree, " +
          "CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS in_degree " +
          "FROM (SELECT l_partkey AS id, 1 AS d FROM lineitem " +
          "UNION ALL SELECT l_suppkey + 1000000000, 2 FROM lineitem) GROUP BY id"),
      "q05_map_edges" ->
        "SELECT l_partkey AS src, ROUND(SUM(l_quantity * (1 - l_discount)), 6) AS total FROM lineitem GROUP BY 1",
      "q06_filter_edges" ->
        "SELECT COUNT(*) AS n_edges, ROUND(SUM(l_quantity), 6) AS sum_value FROM lineitem WHERE l_quantity > 25",
      "q07_filter_vertices" ->
        "SELECT COUNT(*) AS n_edges FROM lineitem WHERE l_partkey % 10 != 0 AND (l_suppkey + 1000000000) % 10 != 0",
      "q08_distinct" ->
        "SELECT COUNT(*) AS n_edges FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)",
      "q09_undirected_degrees" ->
        (s"SELECT id, COUNT(*) AS degree FROM ($eEnds UNION ALL $eEnds) GROUP BY id"),
      "q10_union_degrees" ->
        s"SELECT id, COUNT(*) AS degree FROM ($eEnds) GROUP BY id",
      "q11_window_max" ->
        ("SELECT CAST(FLOOR(epoch(l_shipdate) / 2592000) * 2592000 AS BIGINT) AS win, " +
          "l_partkey AS src, MAX(l_quantity) AS max_value FROM lineitem GROUP BY 1, 2"),
      "q12_window_fold" ->
        ("SELECT CAST(FLOOR(epoch(l_shipdate) / 2592000) * 2592000 AS BIGINT) AS win, " +
          "l_partkey AS src, COUNT(*) AS cnt, SUM(l_quantity) AS sum_value FROM lineitem GROUP BY 1, 2"),
      "q13a_cc_e" -> ccOracle(
        "SELECT DISTINCT l_partkey AS x, l_suppkey + 1000000000 AS y FROM lineitem"),
      // the running-summary stream must converge to the same assignment
      "q45_streaming_cc" -> ccOracle(
        "SELECT DISTINCT l_partkey AS x, l_suppkey + 1000000000 AS y FROM lineitem"),
      // TTL'd running summary, horizon past the whole stream: no
      // eviction fires, so the final snapshot is the full assignment
      "q143_streaming_cc_ttl" -> ccOracle(
        "SELECT DISTINCT l_partkey AS x, l_suppkey + 1000000000 AS y FROM lineitem"),
      // TTL'd bipartiteness, infinite horizon: parity propagation on E
      // (the bipartiteSql machinery, single graph)
      "q151_streaming_bip_ttl" ->
        ("WITH RECURSIVE esym AS (SELECT l_partkey AS a, l_suppkey + 1000000000 AS b " +
          "FROM lineitem UNION SELECT l_suppkey + 1000000000, l_partkey FROM lineitem), " +
          "elbl(v, l) AS (SELECT DISTINCT a, a FROM esym " +
          "UNION SELECT s.b, elbl.l FROM esym s JOIN elbl ON elbl.v = s.a AND elbl.l < s.b), " +
          "eroots AS (SELECT DISTINCT MIN(l) AS r FROM elbl GROUP BY v), " +
          "epar(v, p) AS (SELECT r, 0 FROM eroots " +
          "UNION SELECT s.b, 1 - epar.p FROM esym s JOIN epar ON epar.v = s.a) " +
          "SELECT NOT EXISTS (SELECT 1 FROM epar GROUP BY v " +
          "HAVING COUNT(DISTINCT p) > 1) AS bipartite"),
      // incremental per-vertex stream counts == one-shot batch on C10
      "q48_streaming_triangles" ->
        (s"WITH c AS ($copurchase10), t AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c3 $triangleJoin) " +
          "SELECT id, COUNT(*) AS triangles FROM (SELECT a AS id FROM t " +
          "UNION ALL SELECT b FROM t UNION ALL SELECT c3 FROM t) GROUP BY id"),
      "q50_dedup_pipeline" -> dedupPipelineSql,
      "q135_leakage_safe_split" -> leakageSplitSql,
      "q136_token_budget" -> tokenBudgetSql,
      "q138_bpe_vocab" -> bpeVocabSql,
      "q139_bpe_tokens" -> bpeTokensSql,
      "q140_bpe_token_budget" -> bpeBudgetSql,
      // byte-level siblings: the same unroll over 2-hex-digit byte
      // symbols, fenced at <EOD>, on the multibyte-tail fixture
      "q213_bpe_bytes_vocab" -> byteBpeVocabSql,
      "q214_bpe_bytes_tokens" -> byteBpeTokensSql,
      "q59_bfs" -> bfsSql,
      "q118_stress_centrality" -> stressSql,
      "q125_betweenness" -> btwSql,
      "q127_hits" -> hitsSql,
      "q249_hits_warm" -> hitsWarmSql,
      "q254_cdc_warm_hits" -> hitsWarmSql,
      "q128_harmonic_closeness" -> closenessSql,
      "q132_maximal_matching" -> matchingSql,
      "q133_edge_embeddedness" -> embeddednessSql,
      "q134_matching_coarsen" -> coarsenSql,
      "q60_kcore" -> kcoreSql,
      "q147_coreness" -> corenessSql,
      "q61_adamic_adar" -> adamicAdarSql,
      "q62_transitivity" -> transitivitySql,
      "q63_assortativity" -> assortativitySql,
      "q64_sssp" -> ssspSql,
      "q74_diameter" -> diameterSql,
      "q79_mis" -> misSql,
      "q158_graph_coloring" -> coloringSql,
      // 4-cliques as the canonical a<b<c<d 6-edge join, corners unpivoted
      "q159_four_cliques" ->
        (s"WITH c AS MATERIALIZED ($copurchase10), " +
          "q AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c3, e3.y AS d4 " +
          "FROM c e1 JOIN c e2 ON e2.x = e1.x AND e2.y > e1.y " +
          "JOIN c e12 ON e12.x = e1.y AND e12.y = e2.y " +
          "JOIN c e3 ON e3.x = e1.x AND e3.y > e2.y " +
          "JOIN c e13 ON e13.x = e1.y AND e13.y = e3.y " +
          "JOIN c e23 ON e23.x = e2.y AND e23.y = e3.y) " +
          "SELECT id, COUNT(*) AS cliques4 FROM (" +
          "SELECT a AS id FROM q UNION ALL SELECT b FROM q " +
          "UNION ALL SELECT c3 FROM q UNION ALL SELECT d4 FROM q) GROUP BY id"),
      "q81_ktruss" -> ktrussSql,
      "q152_trussness" -> trussnessSql,
      "q163_scc" -> sccSql,
      "q164_condensation" -> condensationSql,
      "q165_directed_triads" -> directedTriadsSql,
      // substring-level dedup: the oracle replays the span pipeline on
      // shingle STRINGS (the Spark side shuffles 64-bit fingerprints —
      // identical output absent a 2⁻⁶⁵-class collision)
      "q153_substring_repeats" ->
        ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
          "p0 AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 4, 0))) AS pos FROM t), " +
          "sh AS (SELECT doc_id, pos, array_to_string(toks[pos+1:pos+5], ' ') AS shingle FROM p0), " +
          "rep AS (SELECT shingle FROM (SELECT shingle, COUNT(DISTINCT doc_id) AS nd " +
          "FROM sh GROUP BY 1) WHERE nd >= 2), " +
          "hit AS (SELECT doc_id, pos FROM sh JOIN rep USING (shingle)), " +
          "br AS (SELECT doc_id, pos, CASE WHEN pos - LAG(pos) OVER " +
          "(PARTITION BY doc_id ORDER BY pos) <= 5 THEN 0 ELSE 1 END AS brk FROM hit), " +
          "isl AS (SELECT doc_id, pos, SUM(brk) OVER " +
          "(PARTITION BY doc_id ORDER BY pos) AS grp FROM br) " +
          "SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok, " +
          "CAST(MAX(pos) + 4 AS BIGINT) AS end_tok, " +
          "CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS span_tokens " +
          "FROM isl GROUP BY doc_id, grp"),
      "q160_selfrepeat_spans" ->
        (s"WITH d0 AS (SELECT doc_id, $selfRepeatSql AS text FROM documents), " +
          "t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d0), " +
          "p0 AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 4, 0))) AS pos FROM t), " +
          "sh AS (SELECT doc_id, pos, array_to_string(toks[pos+1:pos+5], ' ') AS shingle FROM p0), " +
          "rep AS (SELECT shingle FROM (SELECT shingle, COUNT(DISTINCT doc_id) AS nd, " +
          "COUNT(*) AS occ FROM sh GROUP BY 1) WHERE nd >= 2 OR occ >= 3), " +
          "hit AS (SELECT doc_id, pos FROM sh JOIN rep USING (shingle)), " +
          "br AS (SELECT doc_id, pos, CASE WHEN pos - LAG(pos) OVER " +
          "(PARTITION BY doc_id ORDER BY pos) <= 5 THEN 0 ELSE 1 END AS brk FROM hit), " +
          "isl AS (SELECT doc_id, pos, SUM(brk) OVER " +
          "(PARTITION BY doc_id ORDER BY pos) AS grp FROM br) " +
          "SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok, " +
          "CAST(MAX(pos) + 4 AS BIGINT) AS end_tok, " +
          "CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS span_tokens " +
          "FROM isl GROUP BY doc_id, grp"),
      "q154_substring_dedup" ->
        ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
          "p0 AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 4, 0))) AS pos FROM t), " +
          "sh AS (SELECT doc_id, pos, array_to_string(toks[pos+1:pos+5], ' ') AS shingle FROM p0), " +
          "rep AS (SELECT shingle FROM (SELECT shingle, COUNT(DISTINCT doc_id) AS nd " +
          "FROM sh GROUP BY 1) WHERE nd >= 2), " +
          "hit AS (SELECT doc_id, pos FROM sh JOIN rep USING (shingle)), " +
          "cov AS (SELECT DISTINCT doc_id, ti FROM " +
          "(SELECT doc_id, unnest(range(pos, pos + 5)) AS ti FROM hit)), " +
          "tok AS (SELECT doc_id, unnest(toks) AS token, " +
          "generate_subscripts(toks, 1) - 1 AS pos FROM t), " +
          "kept AS (SELECT tok.doc_id, tok.pos, tok.token FROM tok " +
          "LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.ti = tok.pos WHERE cov.ti IS NULL), " +
          "reb AS (SELECT doc_id, COUNT(*) AS kept_tokens, " +
          "string_agg(token, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id) " +
          "SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, " +
          "CAST(len(t.toks) - COALESCE(reb.kept_tokens, 0) AS BIGINT) AS repeated_tokens, " +
          "COALESCE(reb.clean_text, '') AS clean_text " +
          "FROM t LEFT JOIN reb ON reb.doc_id = t.doc_id"),
      "q82_weighted_pagerank" -> weightedPagerankSql,
      // REAL image codec gates: the oracle recomputes the deterministic
      // pixel formula pixel(i) = (doc_id*31 + i) mod 256 directly; the
      // Spark side must PNG-encode, javax.imageio-decode (and for q89
      // nearest-neighbor-resample + re-encode + re-decode) to match
      "q88_image_decode" ->
        ("WITH px AS (SELECT d.doc_id, CAST((d.doc_id * 31 + p.i) % 256 AS BIGINT) AS g " +
          "FROM documents d, range(256) p(i)) " +
          "SELECT doc_id AS id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height, " +
          "CAST(COUNT(*) AS BIGINT) AS n_px, CAST(SUM(g) AS BIGINT) AS sum_lum, " +
          "CAST(SUM(CASE WHEN g < 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark " +
          "FROM px GROUP BY doc_id"),
      "q116_image_phash" ->
        ("WITH px AS (SELECT d.doc_id, p.i, " +
          "CAST((d.doc_id * 31 + (2 * (p.i // 8)) * 16 + 2 * (p.i % 8)) % 256 AS BIGINT) AS g " +
          "FROM documents d, range(64) p(i)), " +
          "s AS (SELECT doc_id, SUM(g) AS sm FROM px GROUP BY doc_id), " +
          "bits AS (SELECT px.doc_id, px.i, CASE WHEN 64 * px.g >= s.sm THEN 1 ELSE 0 END AS b " +
          "FROM px JOIN s ON s.doc_id = px.doc_id) " +
          "SELECT doc_id AS id, " +
          "CAST(SUM(CASE WHEN i < 32 THEN b * (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS h_lo, " +
          "CAST(SUM(CASE WHEN i >= 32 THEN b * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS h_hi " +
          "FROM bits GROUP BY doc_id"),
      "q117_phash_pairs" ->
        ("WITH px AS (SELECT d.doc_id, p.i, " +
          "CAST((d.doc_id * 31 + (2 * (p.i // 8)) * 16 + 2 * (p.i % 8)) % 256 AS BIGINT) AS g " +
          "FROM documents d, range(64) p(i)), " +
          "s AS (SELECT doc_id, SUM(g) AS sm FROM px GROUP BY doc_id), " +
          "bits AS (SELECT px.doc_id, px.i, CASE WHEN 64 * px.g >= s.sm THEN 1 ELSE 0 END AS b " +
          "FROM px JOIN s ON s.doc_id = px.doc_id), " +
          "h AS (SELECT doc_id, " +
          "CAST(SUM(CASE WHEN i < 32 THEN b * (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS lo, " +
          "CAST(SUM(CASE WHEN i >= 32 THEN b * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS hi " +
          "FROM bits GROUP BY doc_id) " +
          "SELECT x.doc_id AS a, y.doc_id AS b, " +
          "CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS BIGINT) AS hamming " +
          "FROM h x JOIN h y ON x.doc_id < y.doc_id " +
          "WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 4"),
      "q89_image_resize" ->
        ("WITH px AS (SELECT d.doc_id, " +
          "CAST((d.doc_id * 31 + (2 * (p.i // 8)) * 16 + 2 * (p.i % 8)) % 256 AS BIGINT) AS g " +
          "FROM documents d, range(64) p(i)) " +
          "SELECT doc_id AS id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height, " +
          "CAST(COUNT(*) AS BIGINT) AS n_px, CAST(SUM(g) AS BIGINT) AS sum_lum, " +
          "CAST(SUM(CASE WHEN g < 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark " +
          "FROM px GROUP BY doc_id"),
      // kind mapping mirrors syntheticMedia; only image payloads clamp
      "q87_resize" ->
        ("SELECT doc_id AS id, CASE WHEN doc_id % 3 = 0 THEN 'image' " +
          "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
          "CAST(CASE WHEN doc_id % 3 = 0 THEN LEAST(octet_length(encode(text)), 256) " +
          "ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes FROM documents"),
      "q86_tpch_q6" ->
        ("SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue FROM lineitem " +
          "WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01' " +
          "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
      "q93_tpch_q4" ->
        ("SELECT o_orderpriority, COUNT(*) AS order_count FROM orders " +
          "WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01' " +
          "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
          "AND l_returnflag = 'R') GROUP BY o_orderpriority"),
      "q94_tpch_q14" ->
        ("SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO' " +
          "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) / " +
          "SUM(l_extendedprice * (1 - l_discount)), 2) AS promo_revenue " +
          "FROM lineitem, part WHERE l_partkey = p_partkey " +
          "AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'"),
      "q95_tpch_q18" ->
        ("SELECT c_name, o_orderkey AS orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS orderdate, " +
          "o_totalprice AS totalprice, CAST(big.q AS BIGINT) AS sum_qty " +
          "FROM (SELECT l_orderkey, SUM(l_quantity) AS q FROM lineitem " +
          "GROUP BY l_orderkey HAVING SUM(l_quantity) > 150) big " +
          "JOIN orders ON o_orderkey = big.l_orderkey " +
          "JOIN customer ON c_custkey = o_custkey"),
      "q85_tpch_q5" ->
        ("SELECT n_name AS nation, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
          "FROM customer, orders, lineitem, supplier, nation, region " +
          "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey " +
          "AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
          "AND r_name = 'ASIA' AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01' " +
          "GROUP BY n_name"),
      // TPC-H Q2 shape on the reduced schema (no partsupp table —
      // lineitem stands in: supply cost = min observed price in exact
      // cents per (supplier, part)); the correlated MIN subquery is the
      // agg-then-join on the filtered part set
      "q166_tpch_q2" ->
        ("WITH cost AS (SELECT l_suppkey, l_partkey, " +
          "MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost_cents " +
          "FROM lineitem GROUP BY 1, 2), " +
          "p AS (SELECT p_partkey FROM part WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'), " +
          "o AS (SELECT * FROM cost JOIN p ON l_partkey = p_partkey), " +
          "m AS (SELECT p_partkey AS mk, MIN(cost_cents) AS min_cost FROM o GROUP BY 1) " +
          "SELECT o.p_partkey AS partkey, s_name, s_acctbal, n_name AS nation, cost_cents " +
          "FROM o JOIN m ON p_partkey = mk AND cost_cents = min_cost " +
          "JOIN supplier ON l_suppkey = s_suppkey " +
          "JOIN nation ON s_nationkey = n_nationkey"),
      // TPC-H Q13: customer order-count distribution via a FILTERED
      // left outer join (the filter lives in the join condition so
      // zero-order customers survive)
      "q167_tpch_q13" ->
        ("SELECT c_count, COUNT(*) AS custdist FROM (" +
          "SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer " +
          "LEFT JOIN orders ON c_custkey = o_custkey " +
          "AND o_orderpriority <> '4-NOT SPECIFIED' " +
          "GROUP BY c_custkey) GROUP BY c_count"),
      // TPC-H Q21 shape on the reduced schema (no receipt/commit dates —
      // 'kept waiting' becomes: sole supplier with a returned lineitem
      // on a multi-supplier order): EXISTS + NOT EXISTS on the same
      // fact with flipped correlation
      "q168_tpch_q21" ->
        ("WITH l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem " +
          "WHERE l_returnflag = 'R') " +
          "SELECT s_name, COUNT(*) AS numwait FROM l1 " +
          "JOIN supplier ON l1.l_suppkey = s_suppkey " +
          "WHERE EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey " +
          "AND l2.l_suppkey <> l1.l_suppkey) " +
          "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey " +
          "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') " +
          "GROUP BY s_name"),
      // TPC-H Q22 shape: scalar-average threshold compared EXACTLY in
      // integer cents (bal·n_pos > sum_pos sidesteps engine-specific
      // float averaging) + anti join on urgent orders
      "q169_tpch_q22" ->
        ("WITH c AS (SELECT c_custkey, c_nationkey, " +
          "CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents, c_acctbal FROM customer), " +
          "t AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS s_pos, " +
          "CAST(COUNT(*) AS BIGINT) AS n_pos FROM c WHERE c_acctbal > 0) " +
          "SELECT c_nationkey AS nationkey, COUNT(*) AS numcust, " +
          "SUM(bal_cents) / 100.0 AS totacctbal " +
          "FROM c, t WHERE bal_cents * n_pos > s_pos " +
          "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
          "AND o_orderpriority = '1-URGENT') " +
          "GROUP BY c_nationkey"),
      // TPC-H Q16 shape: supplier-count distribution per part attribute
      // with a NOT IN exclusion subquery (negative-acctbal suppliers
      // stand in for the complaints filter)
      "q170_tpch_q16" ->
        ("SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt " +
          "FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps " +
          "JOIN part ON p_partkey = l_partkey " +
          "WHERE p_brand <> 'Brand#15' AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45) " +
          "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
          "GROUP BY 1, 2, 3"),
      // TPC-H Q7: nation-pair volume shipping, revenue in exact cents
      "q171_tpch_q7" ->
        ("SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
          "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
          "CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN supplier ON l_suppkey = s_suppkey " +
          "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
          "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
          "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
          "AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8') " +
          "OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')) " +
          "GROUP BY 1, 2, 3"),
      // TPC-H Q8: market share per year in exact integer ppm
      "q172_tpch_q8" ->
        ("WITH f AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
          "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents, " +
          "(SELECT n_name FROM nation WHERE n_nationkey = s_nationkey) AS supp_nation " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey " +
          "JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN supplier ON l_suppkey = s_suppkey " +
          "WHERE p_type = 'PROMO' " +
          "AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' " +
          "AND EXISTS (SELECT 1 FROM customer JOIN nation ON c_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey " +
          "WHERE c_custkey = o_custkey AND r_name = 'ASIA')) " +
          "SELECT o_year, " +
          "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) AS BIGINT) AS nation_cents, " +
          "CAST(SUM(cents) AS BIGINT) AS total_cents, " +
          "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) * 1000000 AS BIGINT) " +
          "// CAST(SUM(cents) AS BIGINT) AS share_ppm " +
          "FROM f GROUP BY 1"),
      // TPC-H Q9 shape: profit in exact cents (p_retailprice stands in
      // for ps_supplycost, shipdate year for o_year)
      "q173_tpch_q9" ->
        ("SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year, " +
          "CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) " +
          "- CAST(ROUND(p_retailprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_profit_cents " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey " +
          "JOIN supplier ON l_suppkey = s_suppkey " +
          "JOIN nation ON s_nationkey = n_nationkey " +
          "WHERE p_name LIKE '%widget%' " +
          "GROUP BY 1, 2"),
      // TPC-H Q11 shape: above-average part values from one region's
      // suppliers (value*n_parts > total — scale-free, exact integers)
      "q174_tpch_q11" ->
        ("WITH v AS (SELECT l_partkey AS partkey, " +
          "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents " +
          "FROM lineitem WHERE l_suppkey IN " +
          "(SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'AFRICA') " +
          "GROUP BY 1), " +
          "t AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents, " +
          "CAST(COUNT(*) AS BIGINT) AS n_parts FROM v) " +
          "SELECT partkey, value_cents FROM v, t " +
          "WHERE value_cents * n_parts > total_cents"),
      // TPC-H Q12 shape: l_linestatus stands in for l_shipmode
      "q175_tpch_q12" ->
        ("SELECT l_linestatus AS linestatus, " +
          "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
          "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
          "GROUP BY 1"),
      // TPC-H Q15: top supplier(s) by quarterly revenue, exact-cent MAX
      "q176_tpch_q15" ->
        ("WITH rev AS (SELECT l_suppkey, " +
          "CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_revenue_cents " +
          "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
          "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) " +
          "SELECT s_suppkey AS suppkey, s_name, total_revenue_cents " +
          "FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
          "WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM rev)"),
      // TPC-H Q17: small-quantity revenue, the 0.2·avg test exact on
      // integers (qty·5·cnt < sum_qty)
      "q177_tpch_q17" ->
        ("WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, " +
          "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem " +
          "WHERE l_partkey IN (SELECT p_partkey FROM part " +
          "WHERE p_brand = 'Brand#3' AND p_size <= 10)), " +
          "a AS (SELECT l_partkey AS pk, CAST(SUM(qty) AS BIGINT) AS sum_qty, " +
          "CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY 1) " +
          "SELECT CAST(SUM(cents) AS BIGINT) AS total_cents, " +
          "CAST(SUM(cents) AS BIGINT) / 700.0 AS avg_yearly " +
          "FROM li JOIN a ON l_partkey = pk WHERE qty * 5 * cnt < sum_qty"),
      // TPC-H Q20 shape: suppliers that are the strict (unique-argmax)
      // top shipper of some promoted part
      "q178_tpch_q20" ->
        ("WITH ps AS (SELECT l_partkey, l_suppkey, " +
          "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty " +
          "FROM lineitem WHERE l_partkey IN " +
          "(SELECT p_partkey FROM part WHERE p_name LIKE 'large%') GROUP BY 1, 2), " +
          "mx AS (SELECT l_partkey AS pk, CAST(MAX(supp_qty) AS BIGINT) AS max_qty " +
          "FROM ps GROUP BY 1), " +
          "top AS (SELECT l_partkey, l_suppkey FROM ps JOIN mx " +
          "ON l_partkey = pk AND supp_qty = max_qty), " +
          "uniq AS (SELECT l_partkey FROM top GROUP BY 1 HAVING COUNT(*) = 1) " +
          "SELECT DISTINCT s_suppkey AS suppkey, s_name " +
          "FROM top JOIN uniq USING (l_partkey) " +
          "JOIN supplier ON l_suppkey = s_suppkey"),
      // audio chunking: the q144 sample formula grouped into whole
      // 128-frame chunks (every synthetic length is a multiple of 256,
      // so no partial-tail case arises here; the operator drops tails)
      "q179_audio_chunks" ->
        ("WITH s AS (SELECT d.doc_id, p.i // 128 AS c, " +
          "((d.doc_id * 37 + p.i * 17) % 65536) - 32768 AS v " +
          "FROM documents d, range(1024) p(i) WHERE p.i < ((d.doc_id % 4) + 1) * 256) " +
          "SELECT doc_id AS id, CAST(c AS BIGINT) AS chunk_no, " +
          "CAST(128 AS BIGINT) AS n_frames, CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs, " +
          "CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs FROM s GROUP BY doc_id, c"),
      // shot boundaries: q145's per-frame aHash CTEs, then LAG pairs +
      // exact Hamming with the 16-bit cut threshold
      "q180_shot_boundaries" ->
        ("WITH fr AS (SELECT d.doc_id, f.f FROM documents d, range(8) f(f) " +
          "WHERE f.f < (d.doc_id % 5) + 3 AND f.f % 2 = 0), " +
          "px AS (SELECT doc_id, f, p.i, CAST((doc_id * 31 + f * 17 + " +
          "(2 * (p.i // 8)) * 16 + 2 * (p.i % 8)) % 256 AS BIGINT) AS g " +
          "FROM fr, range(64) p(i)), " +
          "s AS (SELECT doc_id, f, SUM(g) AS sm FROM px GROUP BY 1, 2), " +
          "bits AS (SELECT px.doc_id, px.f, px.i, " +
          "CASE WHEN 64 * px.g >= s.sm THEN 1 ELSE 0 END AS b " +
          "FROM px JOIN s ON s.doc_id = px.doc_id AND s.f = px.f), " +
          "h AS (SELECT doc_id, f, " +
          "CAST(SUM(CASE WHEN i < 32 THEN b * (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS lo, " +
          "CAST(SUM(CASE WHEN i >= 32 THEN b * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS hi " +
          "FROM bits GROUP BY 1, 2), " +
          "p AS (SELECT doc_id, f, lo, hi, " +
          "LAG(f) OVER (PARTITION BY doc_id ORDER BY f) AS pf, " +
          "LAG(lo) OVER (PARTITION BY doc_id ORDER BY f) AS plo, " +
          "LAG(hi) OVER (PARTITION BY doc_id ORDER BY f) AS phi FROM h) " +
          "SELECT doc_id AS id, CAST(pf AS BIGINT) AS from_frame, " +
          "CAST(f AS BIGINT) AS to_frame, " +
          "CAST(bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS BIGINT) AS hamming, " +
          "CAST(CASE WHEN bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) >= 16 " +
          "THEN 1 ELSE 0 END AS BIGINT) AS is_cut " +
          "FROM p WHERE pf IS NOT NULL"),
      // CDC latest per key: batch argmax by (ts, event_id) + event count
      "q181_latest_per_key" ->
        ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu, " +
          "CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events), " +
          "r AS (SELECT user_id, event_id, tu, cents, " +
          "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tu DESC, event_id DESC) AS rn, " +
          "COUNT(*) OVER (PARTITION BY user_id) AS n FROM e) " +
          "SELECT user_id, CAST(tu AS BIGINT) AS last_tu, event_id AS last_event_id, " +
          "cents AS last_cents, CAST(n AS BIGINT) AS n_events FROM r WHERE rn = 1"),
      // hashing-trick quality model: md5-hex feature buckets + the
      // multiplicative-hash weight formula replayed per token/bigram
      "q182_quality_model" -> {
        val wfun = "CAST(((CAST('0x' || substr(md5(t), 1, 8) AS UBIGINT) % 4096) " +
          "* 2654435761) % 2147483648 % 1001 AS BIGINT) - 500"
        ("WITH d AS (SELECT doc_id, list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '') AS toks " +
          "FROM documents), " +
          "f AS (SELECT doc_id, toks, CASE WHEN len(toks) >= 2 THEN " +
          "list_transform(range(len(toks) - 1), i -> " +
          "toks[CAST(i + 1 AS BIGINT)] || ' ' || toks[CAST(i + 2 AS BIGINT)]) " +
          "ELSE CAST([] AS VARCHAR[]) END AS bgs FROM d), " +
          "w AS (SELECT doc_id, len(toks) + len(bgs) AS n_feats, " +
          s"list_sum(list_transform(toks, t -> $wfun)) AS su, " +
          s"list_sum(list_transform(bgs, t -> $wfun)) AS sb FROM f) " +
          "SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats, " +
          "CAST(COALESCE(su, 0) + COALESCE(sb, 0) AS BIGINT) AS score, " +
          "CAST(CASE WHEN COALESCE(su, 0) + COALESCE(sb, 0) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep " +
          "FROM w")
      },
      "q84_stream_join" ->
        ("WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tu, " +
          "CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events), " +
          "c AS (SELECT event_id, user_id, tu FROM ev WHERE event_type = 'click'), " +
          "p AS (SELECT user_id, tu, cents FROM ev WHERE event_type = 'purchase') " +
          "SELECT c.event_id, COUNT(*) AS n_purchases, CAST(SUM(p.cents) AS BIGINT) AS sum_cents " +
          "FROM c JOIN p ON p.user_id = c.user_id AND p.tu <= c.tu AND p.tu >= c.tu - 600000000 " +
          "GROUP BY c.event_id"),
      "q83_decontamination" ->
        ("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
          "sh AS (SELECT DISTINCT doc_id, sg FROM (SELECT doc_id, " +
          "unnest(list_transform(range(1, len(t) - 3), " +
          "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS sg " +
          "FROM tk WHERE len(t) >= 5) u), " +
          "bench AS (SELECT DISTINCT sg FROM sh WHERE doc_id % 10 = 7) " +
          "SELECT s.doc_id, COUNT(DISTINCT s.sg) AS n_hits FROM sh s " +
          "JOIN bench b ON b.sg = s.sg WHERE s.doc_id % 10 <> 7 GROUP BY s.doc_id"),
      // the estimate itself is hash-sampling-dependent; the gate row is
      // deterministic: exact count + the tolerance verdict
      "q76_triangle_estimate" ->
        (s"WITH c AS ($copurchase), " +
          s"t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact $triangleJoin) " +
          "SELECT n_exact, true AS rel_err_ok FROM t"),
      // mean next-token conditional probability in micro-units: corpus
      // bigram counts over prefix counts, truncating division throughout
      "q129_bigram_lm" ->
        ("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
          "bg AS MATERIALIZED (SELECT doc_id, " +
          "unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg " +
          "FROM tk WHERE len(t) >= 2), " +
          "cb AS MATERIALIZED (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg), " +
          "cu AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(c) AS cu FROM cb GROUP BY 1), " +
          "p AS (SELECT cb.bg, (cb.c * 1000000) // cu.cu AS pmu " +
          "FROM cb JOIN cu ON string_split(cb.bg, ' ')[1] = cu.w1) " +
          "SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
          "CAST(SUM(p.pmu) // COUNT(*) AS BIGINT) AS lm_mu " +
          "FROM bg b JOIN p ON p.bg = b.bg GROUP BY b.doc_id"),
      // top-16 vocab (count desc, token asc) + per-doc OOV occurrence rate
      "q130_oov_rate" ->
        ("WITH tok AS MATERIALIZED (SELECT doc_id, token FROM " +
          "(SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) " +
          "WHERE token <> ''), " +
          "tc AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token), " +
          "vocab AS (SELECT token FROM tc ORDER BY cnt DESC, token ASC LIMIT 16) " +
          "SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
          "CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
          "CAST((SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS oov_mu " +
          "FROM tok t LEFT JOIN vocab v ON v.token = t.token GROUP BY t.doc_id"),
      "q77_tfidf" ->
        ("WITH tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM " +
          "(SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) u " +
          "WHERE token <> '' GROUP BY doc_id, token), " +
          "idf AS (SELECT token, CAST(ROUND(1000000.0 * LN((SELECT COUNT(DISTINCT doc_id) FROM tf) * 1.0 / COUNT(*))) AS BIGINT) AS idf_micro " +
          "FROM tf GROUP BY token), " +
          "s AS (SELECT tf.doc_id, tf.token, tf.tf * idf.idf_micro AS score_micro, " +
          "ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf * idf.idf_micro DESC, tf.token ASC) AS rnk " +
          "FROM tf JOIN idf ON idf.token = tf.token) " +
          "SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token, CAST(score_micro AS BIGINT) AS score_micro " +
          "FROM s WHERE rnk <= 3"),
      "q75_frame_sample" -> frameSampleSql,
      // real video keyframes: (doc_id mod 5)+3 frames per container,
      // every 2nd sampled; frame pixel(f,i) = (doc_id*31 + f*17 + i) mod 256
      "q142_video_keyframes" ->
        ("WITH fr AS (SELECT d.doc_id, f.f FROM documents d, range(8) f(f) " +
          "WHERE f.f < (d.doc_id % 5) + 3 AND f.f % 2 = 0), " +
          "px AS (SELECT doc_id, f, " +
          "CAST((doc_id * 31 + f * 17 + p.i) % 256 AS BIGINT) AS g " +
          "FROM fr, range(256) p(i)) " +
          "SELECT doc_id AS id, CAST(f AS BIGINT) AS frame_no, " +
          "CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height, " +
          "CAST(COUNT(*) AS BIGINT) AS n_px, CAST(SUM(g) AS BIGINT) AS sum_lum, " +
          "CAST(SUM(CASE WHEN g < 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark " +
          "FROM px GROUP BY doc_id, f"),
      // real audio: ((doc_id mod 4)+1)*256 PCM samples per WAV,
      // sample(i) = ((doc_id*37 + i*17) mod 65536) - 32768
      "q144_audio_decode" ->
        ("WITH s AS (SELECT d.doc_id, ((d.doc_id * 37 + p.i * 17) % 65536) - 32768 AS v " +
          "FROM documents d, range(1024) p(i) WHERE p.i < ((d.doc_id % 4) + 1) * 256) " +
          "SELECT doc_id AS id, CAST(8000 AS BIGINT) AS sample_rate, " +
          "CAST(COUNT(*) AS BIGINT) AS n_samples, CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs, " +
          "CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs FROM s GROUP BY doc_id"),
      // per-keyframe aHash (q116's 8x8 mean-threshold formula with the
      // frame term), then positional all-frame-match video pairs
      "q145_video_twins" ->
        ("WITH fr AS (SELECT d.doc_id, f.f FROM documents d, range(8) f(f) " +
          "WHERE f.f < (d.doc_id % 5) + 3 AND f.f % 2 = 0), " +
          "px AS (SELECT doc_id, f, p.i, CAST((doc_id * 31 + f * 17 + " +
          "(2 * (p.i // 8)) * 16 + 2 * (p.i % 8)) % 256 AS BIGINT) AS g " +
          "FROM fr, range(64) p(i)), " +
          "s AS (SELECT doc_id, f, SUM(g) AS sm FROM px GROUP BY 1, 2), " +
          "bits AS (SELECT px.doc_id, px.f, px.i, " +
          "CASE WHEN 64 * px.g >= s.sm THEN 1 ELSE 0 END AS b " +
          "FROM px JOIN s ON s.doc_id = px.doc_id AND s.f = px.f), " +
          "h AS (SELECT doc_id, f, " +
          "CAST(SUM(CASE WHEN i < 32 THEN b * (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS lo, " +
          "CAST(SUM(CASE WHEN i >= 32 THEN b * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS hi " +
          "FROM bits GROUP BY 1, 2), " +
          "nf AS (SELECT doc_id, COUNT(*) AS n FROM h GROUP BY 1), " +
          "m AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_match FROM h x " +
          "JOIN h y ON x.f = y.f AND x.lo = y.lo AND x.hi = y.hi AND x.doc_id < y.doc_id " +
          "GROUP BY 1, 2) " +
          "SELECT m.a, m.b, CAST(m.n_match AS BIGINT) AS n_match FROM m " +
          "JOIN nf na ON na.doc_id = m.a JOIN nf nb ON nb.doc_id = m.b " +
          "WHERE m.n_match = na.n AND na.n = nb.n"),
      "q65_quantiles" ->
        ("SELECT l_returnflag AS returnflag, " +
          "ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25, " +
          "ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50, " +
          "ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75 " +
          "FROM lineitem GROUP BY l_returnflag"),
      // gate: the oracle asserts the accuracy contract holds; a sketch
      // collapse flips Spark's boolean and the hash goes red
      "q99_approx_quantile_gate" ->
        "SELECT l_returnflag AS returnflag, true AS approx_ok FROM lineitem GROUP BY l_returnflag",
      "q146_hll_distinct_gate" ->
        ("SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct, " +
          "true AS approx_ok FROM documents GROUP BY source"),
      "q100_tpch_q1_decimal" ->
        ("SELECT l_returnflag, l_linestatus, " +
          "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price, " +
          "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
          "(CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))) AS DOUBLE) AS sum_disc_price, " +
          "COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus"),
      "q113_tpch_q10" ->
        ("SELECT c_custkey, c_name, n_name AS nation, CAST(SUM(cents) AS BIGINT) AS revenue_cents " +
          "FROM (SELECT l_orderkey, CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents " +
          "FROM lineitem WHERE l_returnflag = 'R') li " +
          "JOIN orders ON l_orderkey = o_orderkey " +
          "AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01' " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY 1, 2, 3 ORDER BY revenue_cents DESC, c_custkey LIMIT 20"),
      "q114_tpch_q19" ->
        ("SELECT COUNT(*) AS n_lines, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey WHERE " +
          "(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20) OR " +
          "(p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35) OR " +
          "(p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)"),
      "q115_brand_suppliers" ->
        ("SELECT p_brand, SUBSTRING(p_type, 1, 6) AS type_prefix, " +
          "COUNT(DISTINCT l_suppkey) AS n_suppliers, COUNT(DISTINCT l_partkey) AS n_parts " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey " +
          "WHERE p_brand <> 'Brand#5' GROUP BY 1, 2"),
      "q66_grouping_sets" ->
        ("SELECT COALESCE(l_returnflag, 'ALL') AS returnflag, " +
          "COALESCE(l_linestatus, 'ALL') AS linestatus, " +
          "ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS cnt " +
          "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"),
      "q67_window_rank" ->
        ("SELECT c_custkey AS custkey, c_nationkey AS nationkey, " +
          "CAST(ntile(4) OVER w AS BIGINT) AS quartile, " +
          "ROUND(cume_dist() OVER w, 6) AS cd, " +
          "ROUND(percent_rank() OVER w, 6) AS pr " +
          "FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)"),
      "q68_ppr" -> pprSql,
      "q69_repetition" ->
        ("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
          "bg AS (SELECT doc_id, t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b FROM tk) " +
          "SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, " +
          "CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct, " +
          "ROUND(1.0 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 6) AS dup_token_frac, " +
          "CASE WHEN len(t) >= 2 THEN ROUND(1.0 - len(list_distinct(b)) / CAST(len(t) - 1 AS DOUBLE), 6) " +
          "ELSE 0.0 END AS dup_bigram_frac FROM bg"),
      "q70_quality_gate" ->
        ("WITH d AS (SELECT lang, len(string_split(text, ' ')) AS n, " +
          "len(list_distinct(string_split(text, ' '))) AS nd, " +
          "CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) " +
          "/ len(string_split(text, ' ')) AS ml FROM documents) " +
          "SELECT lang, COUNT(*) AS n_docs, " +
          "CAST(SUM(CASE WHEN n >= 10 AND n <= 100000 AND nd / CAST(n AS DOUBLE) >= 0.2 " +
          "AND ml >= 2.0 AND ml <= 12.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass " +
          "FROM d GROUP BY lang"),
      "q71_source_sampling" ->
        ("SELECT source, COUNT(*) AS n_total, " +
          "CAST(SUM(CASE WHEN doc_id % 1000 < 100 + (CAST(substr(source, 4) AS INT) % 7) * 100 " +
          "THEN 1 ELSE 0 END) AS BIGINT) AS n_kept FROM documents GROUP BY source"),
      "q72_packing" ->
        ("WITH d AS (SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
          "c AS (SELECT source, doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER " +
          "(PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bf FROM d) " +
          "SELECT source, CAST(bf // 256 AS BIGINT) AS bin, COUNT(*) AS n_docs, " +
          "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, " +
          "ROUND(SUM(n_tokens) / CAST(256 AS DOUBLE), 6) AS fill_frac " +
          "FROM c GROUP BY source, bf // 256"),
      "q51_asof_join" ->
        ("WITH clicks AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
          "WHERE event_type = 'click'), " +
          "p AS (SELECT user_id, epoch_us(ts) AS ts_us, arg_max(value, event_id) AS p_value " +
          "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
          "SELECT c.event_id, c.user_id, c.ts_us, p.p_value " +
          "FROM clicks c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts_us <= c.ts_us"),
      "q13b_cc_c10" -> ccOracle(copurchase10),
      "q14_triangles" ->
        s"WITH c AS ($copurchase) SELECT COUNT(*) AS triangles $triangleJoin",
      // butterflies = sum over supplier pairs of C(common parts, 2)
      // (wedges pivot on parts, matching the Spark side); DuckDB's `/`
      // is FLOAT division (returns DOUBLE, summed in floating point) —
      // `//` keeps the whole oracle in exact integers, matching the
      // Spark side's deliberate integer `div` discipline (ADVICE r6)
      "q149_butterflies" ->
        ("WITH e AS (SELECT DISTINCT l_partkey AS l, l_suppkey AS r FROM lineitem), " +
          "w AS (SELECT a.r AS a, b.r AS b, COUNT(*) AS w FROM e a " +
          "JOIN e b ON a.l = b.l AND a.r < b.r GROUP BY 1, 2) " +
          "SELECT CAST(COALESCE(SUM(w * (w - 1) // 2), 0) AS BIGINT) AS n_butterflies, " +
          "CAST(COUNT(*) AS BIGINT) AS n_wedge_pairs FROM w"),
      "q150_butterfly_degrees" ->
        ("WITH e AS (SELECT DISTINCT l_partkey AS l, l_suppkey AS r FROM lineitem), " +
          "w AS (SELECT a.r AS a, b.r AS b, COUNT(*) AS w FROM e a " +
          "JOIN e b ON a.l = b.l AND a.r < b.r GROUP BY 1, 2), " +
          "bf AS (SELECT a, b, w * (w - 1) // 2 AS bf FROM w WHERE w >= 2) " +
          "SELECT id, CAST(SUM(bf) AS BIGINT) AS butterfly_degree FROM " +
          "(SELECT a AS id, bf FROM bf UNION ALL SELECT b, bf FROM bf) GROUP BY id"),
      "q15_triangles_per_vertex" ->
        (s"WITH c AS ($copurchase), t AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c3 $triangleJoin) " +
          "SELECT id, COUNT(*) AS triangles FROM (SELECT a AS id FROM t " +
          "UNION ALL SELECT b FROM t UNION ALL SELECT c3 FROM t) GROUP BY id"),
      "q16_window_triangles" ->
        ("WITH cw AS (SELECT DISTINCT CAST(FLOOR(epoch(o.o_orderdate) / 5184000) * 5184000 AS BIGINT) AS win, " +
          "a.l_partkey AS x, b.l_partkey AS y FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
          "JOIN orders o ON o.o_orderkey = a.l_orderkey) " +
          "SELECT e1.win AS win, COUNT(*) AS triangles FROM cw e1 " +
          "JOIN cw e2 ON e2.win = e1.win AND e2.x = e1.y " +
          "JOIN cw e3 ON e3.win = e1.win AND e3.x = e1.x AND e3.y = e2.y GROUP BY 1"),
      "q17_bipartite" -> bipartiteSql,
      // the scalable iterative path must reach the same verdicts
      "q90_bipartite_iterative" -> bipartiteSql,
      "q18_histogram" ->
        "SELECT CAST(FLOOR(l_quantity / 5) * 5 AS BIGINT) AS bin, COUNT(*) AS cnt FROM lineitem GROUP BY 1",
      // streaming replay must converge to the same histogram
      "q80_streaming_histogram" ->
        "SELECT CAST(FLOOR(l_quantity / 5) * 5 AS BIGINT) AS bin, COUNT(*) AS cnt FROM lineitem GROUP BY 1",
      "q19_similarity_topk" ->
        ("WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id <= 9), " +
          "s AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
          "ROUND(list_cosine_similarity(q.qe, e.embedding::DOUBLE[]), 6) AS sim " +
          "FROM q, embeddings e WHERE e.vec_id <> q.query_id), " +
          "r AS (SELECT query_id, neighbor_id, sim, ROW_NUMBER() OVER " +
          "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s) " +
          "SELECT query_id, CAST(rn AS BIGINT) AS \"rank\", neighbor_id, sim FROM r WHERE rn <= 5"),
      "q20_dedup_exact" ->
        "SELECT lang, COUNT(DISTINCT lower(trim(text))) AS n_unique FROM documents GROUP BY lang",
      // streaming replay must converge to the same per-lang counts
      "q73_streaming_dedup" ->
        "SELECT lang, COUNT(DISTINCT lower(trim(text))) AS n_unique FROM documents GROUP BY lang",
      "q21_text_tokens" ->
        ("SELECT token, COUNT(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS token " +
          "FROM documents) t WHERE token <> '' GROUP BY token ORDER BY cnt DESC, token LIMIT 10"),
      "q22_events_windows" ->
        ("SELECT event_type, CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS win, " +
          "COUNT(*) AS cnt, ROUND(SUM(value), 6) AS sum_value, " +
          "MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k FROM events GROUP BY 1, 2"),
      "q23_tpch_q1" ->
        ("SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, " +
          "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, " +
          "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, " +
          "ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*) AS cnt " +
          "FROM lineitem GROUP BY l_returnflag, l_linestatus"),
      "q24_revenue_nation" ->
        ("SELECT n_name AS nation, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey " +
          "JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name"),
      "q25_ngram_jaccard" -> jaccardSql,
      "q29_fingerprints" ->
        ("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))), " +
          "(a, x) -> (a * 31 + x) % 1000000007) AS fp FROM documents"),
      "q30_dedup_minhash" -> jaccardSql,
      // streaming replay must converge to the same exact-Jaccard pairs
      "q126_streaming_minhash" -> jaccardSql,
      "q102_winnow_pairs" ->
        ("WITH c AS (SELECT doc_id, list_transform(string_split(text, ''), " +
          "ch -> CAST(unicode(ch) AS BIGINT)) AS codes FROM documents), " +
          "kk AS (SELECT doc_id, CASE WHEN len(codes) >= 5 THEN " +
          "list_transform(range(0, len(codes) - 4), i -> " +
          "list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i+1:i+5]), " +
          "(a, x) -> (a * 31 + x) % 1000000007)) " +
          "ELSE CAST([] AS BIGINT[]) END AS kg FROM c), " +
          "s AS (SELECT doc_id, CASE WHEN len(kg) = 0 THEN CAST([] AS BIGINT[]) " +
          "WHEN len(kg) < 4 THEN [list_min(kg)] " +
          "ELSE list_distinct(list_transform(range(0, len(kg) - 3), j -> " +
          "list_min(kg[j+1:j+4]))) END AS sel FROM kk), " +
          "e0 AS (SELECT doc_id, unnest(sel) AS h FROM s), " +
          "keep AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM e0 GROUP BY h) WHERE df <= 10), " +
          "e AS (SELECT e0.doc_id, e0.h FROM e0 JOIN keep USING (h)), " +
          "ns AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id), " +
          "p AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared " +
          "FROM e x JOIN e y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
          "SELECT p.a, p.b, p.n_shared, " +
          "ROUND(p.n_shared * 1.0 / (na.n + nb.n - p.n_shared), 6) AS jaccard " +
          "FROM p JOIN ns na ON na.doc_id = p.a JOIN ns nb ON nb.doc_id = p.b " +
          "WHERE ROUND(p.n_shared * 1.0 / (na.n + nb.n - p.n_shared), 6) >= 0.5"),
      "q101_winnowing" ->
        ("WITH c AS (SELECT doc_id, list_transform(string_split(text, ''), " +
          "ch -> CAST(unicode(ch) AS BIGINT)) AS codes FROM documents), " +
          "kk AS (SELECT doc_id, CASE WHEN len(codes) >= 5 THEN " +
          "list_transform(range(0, len(codes) - 4), i -> " +
          "list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i+1:i+5]), " +
          "(a, x) -> (a * 31 + x) % 1000000007)) " +
          "ELSE CAST([] AS BIGINT[]) END AS kg FROM c), " +
          "s AS (SELECT doc_id, kg, CASE WHEN len(kg) = 0 THEN CAST([] AS BIGINT[]) " +
          "WHEN len(kg) < 4 THEN [list_min(kg)] " +
          "ELSE list_distinct(list_transform(range(0, len(kg) - 3), j -> " +
          "list_min(kg[j+1:j+4]))) END AS sel FROM kk) " +
          "SELECT doc_id, CAST(len(kg) AS BIGINT) AS n_kgrams, " +
          "CAST(len(sel) AS BIGINT) AS n_selected, " +
          "CAST(COALESCE(list_sum(sel), 0) AS BIGINT) AS fp_sum FROM s"),
      "q32_langid" ->
        ("WITH lt AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents), " +
          "ltf AS (SELECT lang, token FROM lt WHERE token <> ''), " +
          "cnt AS (SELECT lang, token, COUNT(*) AS c FROM ltf GROUP BY 1, 2), " +
          "tot AS (SELECT lang, COUNT(*) AS tot FROM ltf GROUP BY 1), " +
          "prof AS (SELECT cnt.lang, cnt.token, " +
          "CAST(FLOOR(LN((cnt.c + 1) * 1.0 / (tot.tot + 1000)) * 1000000) AS BIGINT) AS logp " +
          "FROM cnt JOIN tot ON cnt.lang = tot.lang), " +
          "dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
          "dtf AS (SELECT doc_id, token FROM dt WHERE token <> ''), " +
          "sc AS (SELECT dtf.doc_id, prof.lang, SUM(prof.logp) AS score " +
          "FROM dtf JOIN prof ON dtf.token = prof.token GROUP BY 1, 2), " +
          "r AS (SELECT doc_id, lang, ROW_NUMBER() OVER " +
          "(PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM sc) " +
          "SELECT doc_id, lang AS predicted FROM r WHERE rn = 1"),
      "q33_ann_lsh" -> annGateSql,
      "q34_multimodal_features" ->
        ("SELECT doc_id AS id, CASE WHEN doc_id % 3 = 0 THEN 'image' " +
          "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
          "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents"),
      "q36_ann_ivf" -> annGateSql,
      "q162_ann_pq" -> annGateSql,
      // persisted-index lifecycle serves the identical recall-gate row
      "q212_ann_pq_persisted" -> annGateSql,
      "q216_ann_ivf_persisted" -> annGateSql,
      "q217_random_walks" -> walksSql,
      "q220_hyperball" -> hyperballSql,
      "q224_hyperball_closeness" -> hyperballHcSql,
      "q221_node2vec_walks" -> node2vecSql,
      "q222_partition_quality" -> partitionQualitySql,
      "q223_pps_sample" -> ppsSql,
      "q225_landmark_index" -> landmarkIdxSql,
      "q226_landmark_distances" -> landmarkEstSql,
      "q230_landmark_persisted" -> landmarkEstSqlPersisted,
      "q231_landmark_maintained" -> landmarkMaintSql,
      "q236_landmark_maintained_del" -> landmarkMaintDelSql,
      "q239_cdc_maintained_landmark" -> landmarkCdcSql,
      "q232_cdc_maintained_coreness" -> corenessMaintSql,
      "q237_cdc_maintained_trussness" -> trussnessMaintSql,
      "q233_distance_distribution" -> hyperballDistSql,
      // maintained HyperBall legs: full register replay over the NET
      // edge set — the oracle never sees the changelog
      "q255_cdc_maintained_hyperball" -> hyperballMaintSql,
      "q256_cdc_maintained_distdist" -> hyperballDistMaintSql,
      "q257_cdc_maintained_harmonic" -> hyperballHcMaintSql,
      "q258_cdc_maintained_clustering" -> clusteringSqlFor(netCopurchase10),
      // grown registers ≡ the cold rounds over the WHOLE C10 (base ∪
      // tag-8 inserts) — q220's oracle verbatim
      "q263_hyperball_grown" -> hyperballSql,
      // maintained moments ≡ the cold statistic over the net edge set
      "q264_cdc_maintained_assortativity" ->
        assortativitySqlFor(netCopurchase10),
      "q265_cdc_maintained_transitivity" ->
        transitivitySqlFor(netCopurchase10),
      "q234_streaming_hyperball_r2" -> hyperballR2Sql,
      "q227_streaming_hyperball" -> hyperballT1Sql,
      "q228_corpus_overlap" -> corpusOverlapSql,
      // the stream-ingested persisted index serves the same gate row
      "q219_ann_pq_stream_ingest" -> annGateSql,
      "q246_ann_ivf_stream_ingest" -> annGateSql,
      // compaction gates: full-universe recall + fold contract (ingest
      // emptied, membership = whole corpus) folded into recall_ok
      "q250_ann_pq_compacted" -> annGateSql,
      "q251_ann_ivf_compacted" -> annGateSql,
      // deletion gates: the query set and exact side both live in the
      // NET (tombstone-free) vector universe
      "q229_ann_pq_deleted" -> annGateNetSql,
      "q235_ann_ivf_deleted" -> annGateNetSql,
      "q26_embedding_neardup" ->
        ("SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
          "ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim " +
          "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
          "WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3"),
      // bucketed near-dup gate: the verify step applies the exact
      // formula, so false positives are structurally impossible and the
      // oracle predicts the full row from the exact audit alone
      "q122_neardup_bucketed" ->
        ("SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, " +
          "CAST(0 AS BIGINT) AS n_false_pos, true AS recall_ok " +
          "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
          "WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3"),
      // min-label propagation CC over the exact cosine pairs (the
      // dedupPipelineSql pattern on the embedding side)
      "q131_semantic_clusters" ->
        ("WITH RECURSIVE pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb " +
          "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
          "WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3), " +
          "sym AS (SELECT va AS a, vb AS b FROM pairs UNION SELECT vb, va FROM pairs), " +
          "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym " +
          "UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b), " +
          "comp AS (SELECT v AS id, MIN(l) AS c FROM lbl GROUP BY v) " +
          "SELECT e.vec_id, COALESCE(comp.c, e.vec_id) AS cluster, " +
          "(e.vec_id = COALESCE(comp.c, e.vec_id)) AS is_canonical " +
          "FROM embeddings e LEFT JOIN comp ON comp.id = e.vec_id"),
      // cluster-level gate: refinement is structural (bucketed pairs ⊆
      // exact ⇒ clusters refine), agreement is recall-backed ≥99.9% by
      // the adaptive sizing — the oracle predicts the whole row from
      // the vector count alone
      "q137_semantic_clusters_bucketed" ->
        ("SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, true AS agreement_ok, " +
          "true AS refinement_ok FROM embeddings"),
      "q27_text_quality" ->
        ("WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents) " +
          "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
          "CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct, " +
          "ROUND((length(text) - len(toks) + 1) * 1.0 / len(toks), 6) AS avg_token_len, " +
          "ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio FROM t"),
      // DuckDB regexp_replace needs the 'g' flag to match Spark's
      // replace-all default; character-class patterns keep RE2 and Java
      // regex semantics identical
      "q96_text_clean" ->
        ("WITH c AS (SELECT doc_id, text, TRIM(regexp_replace(" +
          "regexp_replace(text, '[0-9]+', '#', 'g'), '[ \\t\\n\\r\\f]+', ' ', 'g')) AS ct FROM documents) " +
          "SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS raw_len, " +
          "CAST(LENGTH(ct) AS BIGINT) AS clean_len, " +
          "CAST(len(string_split(ct, ' ')) AS BIGINT) AS n_tokens FROM c"),
      "q107_temperature_mix" ->
        ("WITH c AS (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source), " +
          "m AS (SELECT MAX(n_total) AS mx FROM c), " +
          "q AS (SELECT source, n_total, LEAST(CAST(FLOOR(SQRT(m.mx * 1.0 / n_total) * 800000) AS BIGINT), " +
          "1000000) AS quota_ppm FROM c, m) " +
          "SELECT q.source, q.n_total, q.quota_ppm, " +
          "CAST(SUM(CASE WHEN d.doc_id % 1000000 < q.quota_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
          "FROM documents d JOIN q ON d.source = q.source " +
          "GROUP BY q.source, q.n_total, q.quota_ppm"),
      "q97_stratified_sample" ->
        ("WITH r AS (SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source " +
          "ORDER BY ((doc_id % 2147483648) * 2654435761) % 2147483648, doc_id) AS rn " +
          "FROM documents) SELECT source, doc_id FROM r WHERE rn <= 5"),
      "q155_domain_caps" ->
        (s"WITH u AS (SELECT doc_id, $provenanceUrlSql AS url FROM documents), " +
          s"h AS (SELECT doc_id, $hostExtractSql AS host FROM u), " +
          "r AS (SELECT host, doc_id, ROW_NUMBER() OVER (PARTITION BY host " +
          "ORDER BY ((doc_id % 2147483648) * 2654435761) % 2147483648, doc_id) AS rn " +
          "FROM h) SELECT host, doc_id FROM r WHERE rn <= 3"),
      "q157_pii_redaction" ->
        (s"WITH p AS (SELECT doc_id, $plantedPiiSql AS text FROM documents) " +
          "SELECT doc_id, " +
          "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, " +
          "CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4, " +
          "CAST(len(regexp_extract_all(text, '\\+\\d[\\d-]{6,14}\\d')) AS BIGINT) AS n_phones, " +
          "regexp_replace(regexp_replace(regexp_replace(text, " +
          "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
          "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
          "'\\+\\d[\\d-]{6,14}\\d', '<PHONE>', 'g') AS clean_text " +
          "FROM p"),
      "q161_pii_wide" ->
        (s"WITH p AS (SELECT doc_id, $plantedPiiWideSql AS text FROM documents) " +
          "SELECT doc_id, " +
          "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, " +
          "CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4, " +
          "CAST(len(regexp_extract_all(text, '\\+\\d[\\d-]{6,14}\\d')) AS BIGINT) AS n_phones, " +
          "CAST(len(list_filter(list_transform(" +
          "regexp_extract_all(text, '\\b\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{4}\\b'), " +
          "m -> regexp_replace(m, '[^0-9]', '', 'g')), " +
          "ds -> list_sum(list_transform(range(1, len(ds) + 1), i -> " +
          "CASE WHEN ((len(ds) - i) % 2) = 1 " +
          "THEN CASE WHEN CAST(ds[i] AS INT) * 2 > 9 THEN CAST(ds[i] AS INT) * 2 - 9 " +
          "ELSE CAST(ds[i] AS INT) * 2 END " +
          "ELSE CAST(ds[i] AS INT) END)) % 10 = 0)) AS BIGINT) AS n_cards, " +
          "CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn, " +
          "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, " +
          "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
          "'\\b\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{4}\\b', '<CARD>', 'g'), " +
          "'\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'), " +
          "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
          "'\\+\\d[\\d-]{6,14}\\d', '<PHONE>', 'g') AS clean_text " +
          "FROM p"),
      "q156_domain_mix" ->
        (s"WITH u AS (SELECT doc_id, $provenanceUrlSql AS url FROM documents), " +
          s"h AS (SELECT doc_id, $hostExtractSql AS host FROM u), " +
          "c AS (SELECT host, COUNT(*) AS n_total FROM h GROUP BY host), " +
          "m AS (SELECT MAX(n_total) AS mx FROM c), " +
          "q AS (SELECT host, n_total, LEAST(CAST(FLOOR(SQRT(m.mx * 1.0 / n_total) * 800000) AS BIGINT), " +
          "1000000) AS quota_ppm FROM c, m) " +
          "SELECT q.host, q.n_total, q.quota_ppm, " +
          "CAST(SUM(CASE WHEN d.doc_id % 1000000 < q.quota_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
          "FROM h d JOIN q ON d.host = q.host " +
          "GROUP BY q.host, q.n_total, q.quota_ppm"),
      "q98_embedding_decontam" ->
        ("WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id > 9), " +
          "b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id <= 9), " +
          "s AS (SELECT t.vec_id, ROUND(list_cosine_similarity(t.e, b.e), 6) AS sim " +
          "FROM t, b WHERE t.vec_id <> b.bid) " +
          "SELECT vec_id, COUNT(*) AS n_hits, MAX(sim) AS max_sim FROM s " +
          "WHERE sim >= 0.3 GROUP BY vec_id"),
      "q28_cc_iterative" -> ccOracle(copurchase10),
      "q37_window_cc" ->
        ("WITH RECURSIVE cw AS (SELECT DISTINCT CAST(FLOOR(epoch(o.o_orderdate) / 7776000) * 7776000 AS BIGINT) AS win, " +
          "a.l_partkey AS x, b.l_partkey AS y FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
          "JOIN orders o ON o.o_orderkey = a.l_orderkey WHERE a.l_orderkey % 10 = 0), " +
          "sym AS (SELECT win, x AS a, y AS b FROM cw UNION SELECT win, y, x FROM cw), " +
          "lbl(win, v, l) AS (SELECT DISTINCT win, a, a FROM sym " +
          "UNION SELECT s.win, s.b, lbl.l FROM sym s JOIN lbl ON lbl.win = s.win AND lbl.v = s.a) " +
          "SELECT win, v AS id, MIN(l) AS component FROM lbl GROUP BY win, v"),
      "q106_ego_sizes" ->
        ("WITH sym AS (SELECT l_partkey AS u, l_suppkey + 1000000000 AS v FROM lineitem " +
          "UNION SELECT l_suppkey + 1000000000, l_partkey FROM lineitem), " +
          "st AS (SELECT DISTINCT l_partkey AS s FROM lineitem WHERE l_partkey % 100 = 0), " +
          "h1 AS (SELECT st.s, sym.v FROM st JOIN sym ON sym.u = st.s), " +
          "h2 AS (SELECT h1.s, sym.v FROM h1 JOIN sym ON sym.u = h1.v), " +
          "r AS (SELECT s, s AS v FROM st UNION SELECT s, v FROM h1 UNION SELECT s, v FROM h2) " +
          "SELECT s AS id, COUNT(*) AS ego_size FROM r GROUP BY s"),
      "q105_hash_walks" -> {
        // mirrors graft.Portable.prio31(v, step): reduce mod 2^31 FIRST
        def pr(step: Int) =
          s"{'p': ((((v % 2147483648) * 31 + $step) % 2147483648) * 2654435761) % 2147483648, 'i': v}"
        def hop(s: Int) =
          s"n$s AS (SELECT u, MIN(${pr(s)}) AS m FROM sym GROUP BY u), " +
            s"w$s AS (SELECT w${s - 1}.start, COALESCE(struct_extract(n$s.m, 'i'), w${s - 1}.cur) AS cur " +
            s"FROM w${s - 1} LEFT JOIN n$s ON n$s.u = w${s - 1}.cur)"
        "WITH sym AS (SELECT l_partkey AS u, l_suppkey + 1000000000 AS v FROM lineitem " +
          "UNION SELECT l_suppkey + 1000000000, l_partkey FROM lineitem), " +
          "w0 AS (SELECT DISTINCT l_partkey AS start, l_partkey AS cur FROM lineitem " +
          "WHERE l_partkey % 100 = 0), " +
          Seq(1, 2, 3).map(hop).mkString(", ") +
          " SELECT start, cur AS \"end\" FROM w3"
      },
      "q104_snapshot_diff" ->
        ("WITH e AS (SELECT l_shipdate AS ts, l_partkey AS id FROM lineitem " +
          "UNION ALL SELECT l_shipdate, l_suppkey + 1000000000 FROM lineitem) " +
          "SELECT id, " +
          "CAST(SUM(CASE WHEN ts < DATE '1997-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS deg_before, " +
          "CAST(SUM(CASE WHEN ts >= DATE '1997-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS deg_after, " +
          "CAST(SUM(CASE WHEN ts >= DATE '1997-01-01' THEN 1 ELSE 0 END) - " +
          "SUM(CASE WHEN ts < DATE '1997-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS delta " +
          "FROM e GROUP BY id"),
      "q110_label_propagation" -> (lpaPrefix + " SELECT id, label FROM l3"),
      // exact modularity ingredients over the SAME 3-round labeling
      "q111_community_stats" -> (lpaPrefix + ", " +
        "lab AS MATERIALIZED (SELECT id, label FROM l3), " +
        "int_e AS (SELECT la.label, COUNT(*) AS internal_edges FROM c " +
        "JOIN lab la ON la.id = c.x JOIN lab lb ON lb.id = c.y " +
        "WHERE la.label = lb.label GROUP BY 1), " +
        "deg AS (SELECT la.label, COUNT(*) AS total_degree FROM sym s " +
        "JOIN lab la ON la.id = s.u GROUP BY 1), " +
        "nv AS (SELECT label, COUNT(*) AS n_vertices FROM lab GROUP BY label) " +
        "SELECT nv.label, nv.n_vertices, " +
        "COALESCE(int_e.internal_edges, 0) AS internal_edges, " +
        "COALESCE(deg.total_degree, 0) AS total_degree " +
        "FROM nv LEFT JOIN int_e ON int_e.label = nv.label " +
        "LEFT JOIN deg ON deg.label = nv.label"),
      // Louvain level-1 move pass over the l3 LPA labeling: integer
      // gain 2m(kC−kD) − k(ΣtotC−ΣtotD+k), best positive move per
      // vertex (ties → smallest label), kept only if the exact integer
      // modularity 4mΣin − Σd² does not decrease — then q111's stats
      "q124_louvain_multilevel" -> louvainMLSql,
      "q141_louvain_leiden" -> louvainLeidenSql,
      "q148_louvain_weighted" -> louvainWeightedSql,
      "q238_cdc_maintained_communities" -> louvainCompSql,
      "q112_louvain_refine" -> (lpaPrefix + ", " +
        "deg AS MATERIALIZED (SELECT u AS id, COUNT(*) AS k FROM sym GROUP BY 1), " +
        "mm AS MATERIALIZED (SELECT COUNT(*) AS m FROM c), " +
        "stot AS MATERIALIZED (SELECT l.label, SUM(d.k) AS stot FROM l3 l " +
        "JOIN deg d ON d.id = l.id GROUP BY 1), " +
        "kic AS MATERIALIZED (SELECT s.u, l.label AS lv, COUNT(*) AS kc " +
        "FROM sym s JOIN l3 l ON l.id = s.v GROUP BY 1, 2), " +
        "cur AS MATERIALIZED (SELECT l.id AS u, l.label AS lu, d.k, " +
        "st.stot AS stotd, COALESCE(kd.kc, 0) AS kd FROM l3 l " +
        "JOIN deg d ON d.id = l.id JOIN stot st ON st.label = l.label " +
        "LEFT JOIN kic kd ON kd.u = l.id AND kd.lv = l.label), " +
        "best AS MATERIALIZED (SELECT u, lv FROM (SELECT cur.u, kic.lv, " +
        "ROW_NUMBER() OVER (PARTITION BY cur.u ORDER BY " +
        "2 * (SELECT m FROM mm) * (kic.kc - cur.kd) " +
        "- cur.k * (st.stot - cur.stotd + cur.k) DESC, kic.lv) AS rn " +
        "FROM cur JOIN kic ON kic.u = cur.u AND kic.lv <> cur.lu " +
        "JOIN stot st ON st.label = kic.lv " +
        "WHERE 2 * (SELECT m FROM mm) * (kic.kc - cur.kd) " +
        "- cur.k * (st.stot - cur.stotd + cur.k) > 0) WHERE rn = 1), " +
        "l4 AS MATERIALIZED (SELECT l.id, COALESCE(b.lv, l.label) AS label " +
        "FROM l3 l LEFT JOIN best b ON b.u = l.id), " +
        "stot4 AS MATERIALIZED (SELECT l.label, SUM(d.k) AS stot FROM l4 l " +
        "JOIN deg d ON d.id = l.id GROUP BY 1), " +
        "q0 AS (SELECT 4 * (SELECT m FROM mm) * (SELECT COUNT(*) FROM c " +
        "JOIN l3 a ON a.id = c.x JOIN l3 b ON b.id = c.y WHERE a.label = b.label) " +
        "- (SELECT SUM(stot * stot) FROM stot) AS q), " +
        "q1 AS (SELECT 4 * (SELECT m FROM mm) * (SELECT COUNT(*) FROM c " +
        "JOIN l4 a ON a.id = c.x JOIN l4 b ON b.id = c.y WHERE a.label = b.label) " +
        "- (SELECT SUM(stot * stot) FROM stot4) AS q), " +
        "lab AS MATERIALIZED (SELECT l4.id, CASE WHEN (SELECT q FROM q1) >= " +
        "(SELECT q FROM q0) THEN l4.label ELSE l3.label END AS label " +
        "FROM l4 JOIN l3 ON l3.id = l4.id), " +
        "int_e AS (SELECT la.label, COUNT(*) AS internal_edges FROM c " +
        "JOIN lab la ON la.id = c.x JOIN lab lb ON lb.id = c.y " +
        "WHERE la.label = lb.label GROUP BY 1), " +
        "degc AS (SELECT la.label, COUNT(*) AS total_degree FROM sym s " +
        "JOIN lab la ON la.id = s.u GROUP BY 1), " +
        "nv AS (SELECT label, COUNT(*) AS n_vertices FROM lab GROUP BY label) " +
        "SELECT nv.label, nv.n_vertices, " +
        "COALESCE(int_e.internal_edges, 0) AS internal_edges, " +
        "COALESCE(degc.total_degree, 0) AS total_degree " +
        "FROM nv LEFT JOIN int_e ON int_e.label = nv.label " +
        "LEFT JOIN degc ON degc.label = nv.label"),
      "q108_moving_window" ->
        ("WITH d AS (SELECT o_orderdate AS day, " +
          "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents, " +
          "COUNT(*) AS n FROM orders GROUP BY 1) " +
          "SELECT CAST(epoch(day) AS BIGINT) AS day, day_cents, " +
          "CAST(SUM(day_cents) OVER w AS BIGINT) AS ma7_cents, " +
          "CAST(SUM(n) OVER w AS BIGINT) AS ma7_orders FROM d " +
          "WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)"),
      "q109_json_props" ->
        ("SELECT event_type, COUNT(*) AS n, " +
          "CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
          "CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k " +
          "FROM events GROUP BY event_type"),
      "q103_funnel" ->
        ("WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events " +
          "WHERE event_type = 'signup' GROUP BY 1), " +
          "s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id) " +
          "WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1), " +
          "s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id) " +
          "WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1) " +
          "SELECT s1.user_id, CAST(1 + (s2.user_id IS NOT NULL)::INT + " +
          "(s3.user_id IS NOT NULL)::INT AS BIGINT) AS stage " +
          "FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id " +
          "LEFT JOIN s3 ON s1.user_id = s3.user_id"),
      "q123_temporal_triangles" ->
        ("WITH ct AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y, " +
          "epoch(o.o_orderdate) AS t FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
          "JOIN orders o ON o.o_orderkey = a.l_orderkey WHERE a.l_orderkey % 2 = 0), " +
          "sym AS (SELECT x AS p, y AS o, t FROM ct UNION ALL SELECT y, x, t FROM ct), " +
          "w AS (SELECT e1.p AS center, LEAST(e1.o, e2.o) AS u3, " +
          "GREATEST(e1.o, e2.o) AS v3, e1.t AS t1, e2.t AS t2 " +
          "FROM sym e1 JOIN sym e2 ON e2.p = e1.p AND e2.t > e1.t " +
          "AND e2.t <= e1.t + 7776000 AND e2.o <> e1.o) " +
          "SELECT center, COUNT(*) AS n_triangles FROM w " +
          "JOIN ct e3 ON e3.x = w.u3 AND e3.y = w.v3 AND e3.t > w.t2 " +
          "AND e3.t <= w.t1 + 7776000 GROUP BY center"),
      "q121_temporal_wedges" ->
        ("WITH e AS (SELECT l_suppkey + 1000000000 AS v, epoch(l_shipdate) AS t FROM lineitem) " +
          "SELECT a.v AS supplier, COUNT(*) AS n_wedges FROM e a JOIN e b " +
          "ON b.v = a.v AND b.t > a.t AND b.t - a.t <= 604800 GROUP BY 1"),
      "q120_event_transitions" ->
        ("WITH m AS (SELECT event_type, epoch_ns(ts) AS tn, " +
          "LAG(event_type) OVER w AS prev_type, LAG(epoch_ns(ts)) OVER w AS prev_tn " +
          "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
          "SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n " +
          "FROM m WHERE prev_tn IS NOT NULL AND tn - prev_tn <= 1800000000000 " +
          "GROUP BY 1, 2"),
      "q119_retention_cohorts" ->
        ("WITH ev AS (SELECT user_id, event_type, epoch_us(ts) // 604800000000 AS wk FROM events), " +
          "cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev " +
          "WHERE event_type = 'signup' GROUP BY user_id) " +
          "SELECT c.cohort_wk, e.wk AS activity_wk, " +
          "CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users " +
          "FROM ev e JOIN cohort c ON c.user_id = e.user_id " +
          "WHERE e.wk >= c.cohort_wk GROUP BY 1, 2"),
      "q38_sessions" ->
        ("WITH m AS (SELECT user_id, ts, CASE WHEN LAG(ts) OVER w IS NULL " +
          "OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s " +
          "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
          "s AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts " +
          "ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
          "SELECT user_id, CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_sessions, " +
          "COUNT(*) AS n_events FROM s GROUP BY user_id"),
      // session_window semantics: NEW session at gap >= 30min (half-open
      // windows), µs precision on both sides (the q51 ts_us convention)
      "q78_session_window" ->
        ("WITH m AS (SELECT user_id, epoch_us(ts) AS tu FROM events), " +
          "x AS (SELECT user_id, tu, CASE WHEN LAG(tu) OVER w IS NULL " +
          "OR tu - LAG(tu) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s " +
          "FROM m WINDOW w AS (PARTITION BY user_id ORDER BY tu)), " +
          "s AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tu " +
          "ROWS UNBOUNDED PRECEDING) AS sid FROM x) " +
          "SELECT user_id, CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_sessions, " +
          "COUNT(*) AS n_events FROM s GROUP BY user_id"),
      "q39_top_docs_per_lang" ->
        ("WITH d AS (SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
          "r AS (SELECT lang, doc_id, n_tokens, ROW_NUMBER() OVER " +
          "(PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS rnk FROM d) " +
          "SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, n_tokens FROM r WHERE rnk <= 3"),
      "q185_kmeans_exact" -> kmeansSql,
      // the incremental path must equal CC of the FULL edge set
      "q186_incremental_cc" -> ccOracle(
        "SELECT DISTINCT l_partkey AS x, l_suppkey + 1000000000 AS y FROM lineitem"),
      // incremental triangles: the oracle recounts old and full sets —
      // n_new must be exactly their difference
      "q187_delta_triangles" ->
        (s"WITH c AS MATERIALIZED ($copurchase10), " +
          "o AS MATERIALIZED (SELECT x, y FROM c WHERE " +
          "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 <> 7), " +
          "told AS (SELECT COUNT(*) AS n_old FROM o e1 " +
          "JOIN o e2 ON e2.x = e1.y JOIN o e3 ON e3.x = e1.x AND e3.y = e2.y), " +
          "tfull AS (SELECT COUNT(*) AS n_total FROM c e1 " +
          "JOIN c e2 ON e2.x = e1.y JOIN c e3 ON e3.x = e1.x AND e3.y = e2.y) " +
          "SELECT CAST(n_old AS BIGINT) AS n_old, CAST(n_total - n_old AS BIGINT) AS n_new, " +
          "CAST(n_total AS BIGINT) AS n_total FROM told, tfull"),
      // MSF structure: a spanning forest of component C has exactly
      // |C|−1 edges touching all |C| vertices — the oracle needs only
      // the components (no singleton vertices exist in a co-purchase
      // projection: every vertex arrives via an edge)
      "q188_msf_structure" ->
        (s"WITH RECURSIVE c AS ($copurchase10), " +
          "sym AS (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
          "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym " +
          "UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b), " +
          "comp AS (SELECT v, MIN(l) AS component FROM lbl GROUP BY v) " +
          "SELECT component, COUNT(*) AS n_vertices, " +
          "COUNT(*) - 1 AS n_msf_edges, COUNT(*) AS n_msf_vertices " +
          "FROM comp GROUP BY component"),
      // single-linkage ≡ CC over the weight-filtered ORIGINAL edges
      // (the oracle replays the integer weight hash and never sees the
      // Spark-side forest); isolated-at-τ vertices cluster as themselves
      "q189_single_linkage" ->
        (s"WITH RECURSIVE e0 AS ($copurchase10), " +
          "c AS (SELECT x, y FROM e0 WHERE " +
          "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 <= 1073741824), " +
          "sym AS (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
          "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym " +
          "UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b), " +
          "comp AS (SELECT v AS id, MIN(l) AS cluster FROM lbl GROUP BY v), " +
          // explicit DISTINCT: inside a RECURSIVE with-clause DuckDB
          // runs a plain UNION here with ALL semantics
          "verts AS (SELECT DISTINCT id FROM (SELECT x AS id FROM e0 UNION ALL SELECT y FROM e0)) " +
          "SELECT verts.id, COALESCE(comp.cluster, verts.id) AS cluster " +
          "FROM verts LEFT JOIN comp ON comp.id = verts.id"),
      // incremental MSF: single-linkage at τ through the DELTA-composed
      // forest ≡ CC over the weight-filtered FULL edge set (q189's
      // identity at a fresh τ — the oracle never sees either forest)
      "q190_incremental_msf" ->
        (s"WITH RECURSIVE e0 AS ($copurchase10), " +
          "c AS (SELECT x, y FROM e0 WHERE " +
          "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 <= 536870912), " +
          "sym AS (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
          "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym " +
          "UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b), " +
          "comp AS (SELECT v AS id, MIN(l) AS cluster FROM lbl GROUP BY v), " +
          "verts AS (SELECT DISTINCT id FROM (SELECT x AS id FROM e0 UNION ALL SELECT y FROM e0)) " +
          "SELECT verts.id, COALESCE(comp.cluster, verts.id) AS cluster " +
          "FROM verts LEFT JOIN comp ON comp.id = verts.id"),
      // decremental CC ≡ full CC over E∖D with the FULL vertex set
      // (vertices isolated by the deletion cluster as themselves)
      "q191_decremental_cc" ->
        ("WITH RECURSIVE e0 AS (SELECT DISTINCT l_partkey AS x, l_suppkey + 1000000000 AS y FROM lineitem), " +
          "c AS (SELECT x, y FROM e0 WHERE " +
          "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 <> 3), " +
          "sym AS (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
          "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym " +
          "UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b), " +
          "comp AS (SELECT v AS id, MIN(l) AS component FROM lbl GROUP BY v), " +
          "verts AS (SELECT DISTINCT id FROM (SELECT x AS id FROM e0 UNION ALL SELECT y FROM e0)) " +
          "SELECT verts.id, COALESCE(comp.component, verts.id) AS component " +
          "FROM verts LEFT JOIN comp ON comp.id = verts.id"),
      // trained perceptron: the oracle replays the WHOLE 4-epoch batch
      // training loop — features with multiplicity, zero-weight first
      // epoch updating every doc, margin rule y·score ≤ 0 — then scores
      // under the final weights (q138's unrolled-merge pattern)
      "q192_perceptron_quality" -> perceptronOracle(averaged = false),
      // averaged perceptron: identical training trajectory; the final
      // scores use the positive-scale-equivalent integer SUM of the
      // four epoch weight snapshots (sign unchanged vs the average)
      "q195_perceptron_averaged" -> perceptronOracle(averaged = true),
      "q196_densest_subgraph" -> densestSql,
      "q241_densest_by_component" -> densestCompSql,
      "q242_cdc_maintained_densest" -> densestCompMaintSql,
      "q243_dedup_index_persisted" -> dedupProbeSql,
      "q244_dedup_index_ingested" -> dedupProbeSql,
      // compacted index must serve the identical pair set the LSM
      // shape served (q244's oracle verbatim)
      "q252_dedup_index_compacted" -> dedupProbeSql,
      "q245_dedup_index_deleted" -> dedupProbeDelSql,
      // phash-index lifecycle: persisted + ingested + compacted serve
      // the identical cross-split pair set; deleted serves the net one
      "q259_phash_index_persisted" -> phashProbeSql,
      "q260_phash_index_ingested" -> phashProbeSql,
      "q262_phash_index_compacted" -> phashProbeSql,
      "q261_phash_index_deleted" -> phashProbeDelSql,
      "q247_bipartiteness_by_component" -> bipCompSql,
      "q248_cdc_maintained_bipartiteness" -> bipCompMaintSql,
      // q181's oracle with the deterministic delete op and alive flag
      "q197_cdc_tombstones" ->
        ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu, " +
          "CAST(ROUND(value * 100) AS BIGINT) AS cents, " +
          "CASE WHEN event_id % 7 = 0 THEN 0 ELSE 1 END AS alv FROM events), " +
          "r AS (SELECT user_id, event_id, tu, cents, alv, " +
          "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tu DESC, event_id DESC) AS rn, " +
          "COUNT(*) OVER (PARTITION BY user_id) AS n FROM e) " +
          "SELECT user_id, CAST(tu AS BIGINT) AS last_tu, event_id AS last_event_id, " +
          "cents AS last_cents, CAST(alv AS BIGINT) AS alive, " +
          "CAST(n AS BIGINT) AS n_events FROM r WHERE rn = 1"),
      // BM25: one idf ROUND (the q77 LN discipline), then HUGEINT
      // integer arithmetic mirroring the operator's DECIMAL(38,0)
      "q198_bm25_topk" -> bm25Sql("SELECT doc_id, text FROM documents"),
      // maintained index ≡ full rebuild of the NET corpus (the oracle
      // never sees the old index — it re-derives everything from the
      // final doc set, so a stale df/N/T or a surviving removed
      // posting flips the hash)
      "q218_bm25_maintained" -> bm25Sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3 " +
          "UNION ALL SELECT doc_id + 1000000, COALESCE(text, '') || ' spark merge' " +
          "FROM documents WHERE doc_id % 10 = 8"),
      "q199_temporal_bfs" -> temporalBfsSql,
      "q206_temporal_departure" -> temporalDepartureSql,
      // generate_series replays the per-user dense hour grid
      "q207_gapfill" ->
        ("WITH h AS (SELECT user_id, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h, " +
          "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
          "sp AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM h GROUP BY 1), " +
          "grid AS (SELECT sp.user_id, unnest(generate_series(sp.h0, sp.h1)) AS h FROM sp) " +
          "SELECT g.user_id, CAST(g.h * 3600 AS BIGINT) AS win, " +
          "CAST(COALESCE(h.cnt, 0) AS BIGINT) AS cnt " +
          "FROM grid g LEFT JOIN h ON h.user_id = g.user_id AND h.h = g.h"),
      "q208_rolling_counts" ->
        ("WITH h AS (SELECT user_id, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h, " +
          "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
          "sp AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM h GROUP BY 1), " +
          "grid AS (SELECT sp.user_id, unnest(generate_series(sp.h0, sp.h1)) AS h FROM sp), " +
          "f AS (SELECT g.user_id, g.h * 3600 AS win, COALESCE(h.cnt, 0) AS cnt " +
          "FROM grid g LEFT JOIN h ON h.user_id = g.user_id AND h.h = g.h) " +
          "SELECT user_id, CAST(win AS BIGINT) AS win, CAST(cnt AS BIGINT) AS cnt, " +
          "CAST(SUM(cnt) OVER w * 1000000 // COUNT(*) OVER w AS BIGINT) AS ma_micro " +
          "FROM f WINDOW w AS (PARTITION BY user_id ORDER BY win " +
          "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"),
      // decremental MSF: single-linkage at τ through the maintained
      // forest ≡ CC over the weight-filtered SURVIVING edge set (q189's
      // identity on E∖D — the oracle never sees either forest; the
      // vertex set is the surviving graph's, matching the Spark side)
      "q209_decremental_msf" ->
        (s"WITH RECURSIVE e0 AS ($copurchase10), " +
          "surv AS (SELECT x, y, ((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 AS w " +
          "FROM e0 WHERE ((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 <> 3), " +
          "c AS (SELECT x, y FROM surv WHERE w <= 268435456), " +
          "sym AS (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
          "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym " +
          "UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b), " +
          "comp AS (SELECT v AS id, MIN(l) AS cluster FROM lbl GROUP BY v), " +
          "verts AS (SELECT DISTINCT id FROM (SELECT x AS id FROM surv UNION ALL SELECT y FROM surv)) " +
          "SELECT verts.id, COALESCE(comp.cluster, verts.id) AS cluster " +
          "FROM verts LEFT JOIN comp ON comp.id = verts.id"),
      // CDC-driven maintenance: the oracle replays only the NET effect
      // of the changelog — final edges = tags ∉ {3,4} (tag 8 inserted,
      // tag 9 resurrected, tags 3/4 tombstoned) — with the full vertex
      // set; the streamed CDC resolution + incremental/decremental
      // composition on the Spark side must land on the same labels
      "q210_cdc_maintained_cc" ->
        ("WITH RECURSIVE e0 AS (SELECT DISTINCT l_partkey AS x, l_suppkey + 1000000000 AS y FROM lineitem), " +
          "c AS (SELECT x, y FROM e0 WHERE " +
          "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 NOT IN (3, 4)), " +
          "sym AS (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
          "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym " +
          "UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b), " +
          "comp AS (SELECT v AS id, MIN(l) AS component FROM lbl GROUP BY v), " +
          "verts AS (SELECT DISTINCT id FROM (SELECT x AS id FROM e0 UNION ALL SELECT y FROM e0)) " +
          "SELECT verts.id, COALESCE(comp.component, verts.id) AS component " +
          "FROM verts LEFT JOIN comp ON comp.id = verts.id"),
      // triangle twin: full recounts of base (tag ≠ 8), grown (all
      // edges — tag-9 resurrections are already members), and final
      // (tags ∉ {3,4}); created/destroyed are the differences
      "q211_cdc_maintained_triangles" ->
        (s"WITH c AS MATERIALIZED ($copurchase10), " +
          "b AS MATERIALIZED (SELECT x, y FROM c WHERE " +
          "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 <> 8), " +
          "f AS MATERIALIZED (SELECT x, y FROM c WHERE " +
          "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 NOT IN (3, 4)), " +
          "tb AS (SELECT COUNT(*) AS n_base FROM b e1 " +
          "JOIN b e2 ON e2.x = e1.y JOIN b e3 ON e3.x = e1.x AND e3.y = e2.y), " +
          "tg AS (SELECT COUNT(*) AS n_grown FROM c e1 " +
          "JOIN c e2 ON e2.x = e1.y JOIN c e3 ON e3.x = e1.x AND e3.y = e2.y), " +
          "tf AS (SELECT COUNT(*) AS n_final FROM f e1 " +
          "JOIN f e2 ON e2.x = e1.y JOIN f e3 ON e3.x = e1.x AND e3.y = e2.y) " +
          "SELECT CAST(n_base AS BIGINT) AS n_base, " +
          "CAST(n_grown - n_base AS BIGINT) AS n_created, " +
          "CAST(n_grown AS BIGINT) AS n_grown, " +
          "CAST(n_grown - n_final AS BIGINT) AS n_destroyed, " +
          "CAST(n_final AS BIGINT) AS n_final FROM tb, tg, tf"),
      // CDC-maintained MSF ≡ CC of the weight-filtered NET edge set
      // (q189's identity; net = tags ∉ {3,4} — inserted tag 8 present,
      // resurrected tag 9 present, tombstoned 3/4 absent)
      "q215_cdc_maintained_msf" ->
        (s"WITH RECURSIVE e0 AS ($copurchase10), " +
          "surv AS (SELECT x, y, ((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 AS w " +
          "FROM e0 WHERE ((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 NOT IN (3, 4)), " +
          "c AS (SELECT x, y FROM surv WHERE w <= 429496729), " +
          "sym AS (SELECT x AS a, y AS b FROM c UNION SELECT y, x FROM c), " +
          "lbl(v, l) AS (SELECT DISTINCT a, a FROM sym " +
          "UNION SELECT s.b, lbl.l FROM sym s JOIN lbl ON lbl.v = s.a AND lbl.l < s.b), " +
          "comp AS (SELECT v AS id, MIN(l) AS cluster FROM lbl GROUP BY v), " +
          "verts AS (SELECT DISTINCT id FROM (SELECT x AS id FROM surv UNION ALL SELECT y FROM surv)) " +
          "SELECT verts.id, COALESCE(comp.cluster, verts.id) AS cluster " +
          "FROM verts LEFT JOIN comp ON comp.id = verts.id"),
      // the oracle states containment directly (DuckDB plans the
      // inequality join natively); the operator's binning must be
      // invisible in the result
      "q200_range_join" ->
        ("WITH iv AS (SELECT o_orderkey AS i_id, epoch(o_orderdate) AS lo, " +
          "epoch(o_orderdate) + 1209600 AS hi FROM orders WHERE o_orderkey % 20 = 0), " +
          "p AS (SELECT l_orderkey * 10 + l_linenumber AS p_id, epoch(l_shipdate) AS p " +
          "FROM lineitem WHERE l_orderkey % 10 = 0) " +
          "SELECT CAST(iv.i_id AS BIGINT) AS i_id, CAST(COUNT(p.p_id) AS BIGINT) AS n_points " +
          "FROM iv LEFT JOIN p ON p.p >= iv.lo AND p.p < iv.hi GROUP BY iv.i_id"),
      "q201_reciprocity" ->
        (s"WITH $directedCtes, " +
          "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d), " +
          "rc AS (SELECT CAST(COUNT(*) AS BIGINT) AS r FROM d a " +
          "JOIN d b ON b.src = a.dst AND b.dst = a.src) " +
          "SELECT st.n AS n_edges, rc.r AS n_reciprocal, " +
          "CAST(rc.r * 1000000 // st.n AS BIGINT) AS reciprocity_micro FROM st, rc"),
      // both gate flags are the hash-checked CLAIM (q57's pattern):
      // the 5·rsd tolerance and the streaming≡batch sketch parity
      "q202_streaming_hll" ->
        ("WITH lt AS (SELECT lang, unnest(string_split(COALESCE(text, ''), ' ')) AS token FROM documents) " +
          "SELECT lang, COUNT(DISTINCT token) AS n_exact, true AS within_tol, " +
          "true AS stream_eq_batch FROM lt WHERE token <> '' GROUP BY lang"),
      // the oracle is the PLAIN anti-join — the bloom prefilter must be
      // invisible in the result (q83's shingle CTEs, survivors side)
      "q203_bloom_decontam" ->
        ("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
          "sh AS (SELECT DISTINCT doc_id, sg FROM (SELECT doc_id, " +
          "unnest(list_transform(range(1, len(t) - 3), " +
          "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS sg " +
          "FROM tk WHERE len(t) >= 5) u), " +
          "bench AS (SELECT DISTINCT sg FROM sh WHERE doc_id % 10 = 7), " +
          "dirty AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON b.sg = s.sg " +
          "WHERE s.doc_id % 10 <> 7) " +
          "SELECT d.doc_id FROM documents d WHERE d.doc_id % 10 <> 7 " +
          "AND d.doc_id NOT IN (SELECT doc_id FROM dirty)"),
      // dims replayed from the generator formula; the Spark side reads
      // them through the REAL ImageIO decode — round-trip equality
      // q56's gate rows + the byte-parity flag as hash-checked claims
      "q205_streaming_cms" ->
        ("WITH tc AS (SELECT token, COUNT(*) AS cnt FROM " +
          "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) t " +
          "WHERE token <> '' GROUP BY token) " +
          "SELECT token, cnt AS exact_cnt, true AS within_bound, " +
          "true AS stream_eq_batch FROM tc ORDER BY cnt DESC, token LIMIT 10"),
      "q204_aspect_buckets" ->
        ("WITH d AS (SELECT doc_id, 8 + (doc_id % 5) * 4 AS w, " +
          "8 + (doc_id % 3) * 8 AS h FROM documents), " +
          "b AS (SELECT CASE WHEN w * 3 >= h * 4 THEN 'landscape' " +
          "WHEN h * 3 >= w * 4 THEN 'portrait' ELSE 'square' END AS bucket, " +
          "w * h AS px FROM d) " +
          "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_images, " +
          "CAST(SUM(px) AS BIGINT) AS sum_px, " +
          "CAST((SUM(px) + 65535) // 65536 AS BIGINT) AS n_batches " +
          "FROM b GROUP BY bucket"),
      // decremental triangles: the oracle recounts the old and the
      // surviving edge sets — n_destroyed must be exactly their
      // difference (q187's identity pointed backwards)
      "q194_decremental_triangles" ->
        (s"WITH c AS MATERIALIZED ($copurchase10), " +
          "k AS MATERIALIZED (SELECT x, y FROM c WHERE " +
          "((((x % 2147483648) * 31 + y) % 2147483648) * 2654435761) % 2147483648 % 10 <> 3), " +
          "told AS (SELECT COUNT(*) AS n_old FROM c e1 " +
          "JOIN c e2 ON e2.x = e1.y JOIN c e3 ON e3.x = e1.x AND e3.y = e2.y), " +
          "tkept AS (SELECT COUNT(*) AS n_kept FROM k e1 " +
          "JOIN k e2 ON e2.x = e1.y JOIN k e3 ON e3.x = e1.x AND e3.y = e2.y) " +
          "SELECT CAST(n_old AS BIGINT) AS n_old, " +
          "CAST(n_old - n_kept AS BIGINT) AS n_destroyed, " +
          "CAST(n_kept AS BIGINT) AS n_remaining FROM told, tkept"),
      // streaming ANN gate: same contract as q122 — the streamed
      // candidates' verify step applies the exact formula (no false
      // positives by construction) and recall is the sizing calculus's
      "q193_streaming_ann" ->
        ("SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, " +
          "CAST(0 AS BIGINT) AS n_false_pos, true AS recall_ok " +
          "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
          "WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3"),
      // streaming complete-mode leaderboard ≡ batch top-5 by count
      "q184_streaming_topk" ->
        ("WITH c AS (SELECT user_id, COUNT(*) AS n_events FROM events " +
          "WHERE event_type = 'purchase' GROUP BY 1), " +
          "r AS (SELECT user_id, n_events, ROW_NUMBER() OVER " +
          "(ORDER BY n_events DESC, user_id) AS rnk FROM c) " +
          "SELECT user_id, CAST(rnk AS BIGINT) AS rnk, CAST(n_events AS BIGINT) AS n_events " +
          "FROM r WHERE rnk <= 5"),
      // the bounded-Aggregator path must produce the identical ranking
      "q183_topk_bounded" ->
        ("WITH d AS (SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
          "r AS (SELECT lang, doc_id, n_tokens, ROW_NUMBER() OVER " +
          "(PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS rnk FROM d) " +
          "SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, n_tokens FROM r WHERE rnk <= 3"),
      "q52_cube_quantity" ->
        ("SELECT COALESCE(l_returnflag, 'ALL') AS returnflag, " +
          "COALESCE(l_linestatus, 'ALL') AS linestatus, " +
          "ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS cnt " +
          "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"),
      "q53_set_ops" ->
        ("WITH early AS (SELECT l_partkey AS id FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-07-01'), " +
          "late AS (SELECT l_partkey AS id FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-07-01') " +
          "SELECT id, 'both' AS op FROM (SELECT id FROM early INTERSECT SELECT id FROM late) " +
          "UNION ALL SELECT id, 'early_only' FROM (SELECT id FROM early EXCEPT SELECT id FROM late)"),
      "q41_rollup_revenue" ->
        ("SELECT COALESCE(l_returnflag, 'ALL') AS returnflag, " +
          "COALESCE(l_linestatus, 'ALL') AS linestatus, " +
          "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, COUNT(*) AS cnt " +
          "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
      "q42_tpch_q3" ->
        ("SELECT l_orderkey AS orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS orderdate, " +
          "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "WHERE o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate >= TIMESTAMP '1998-01-01' " +
          "GROUP BY l_orderkey, o_orderdate " +
          "ORDER BY revenue DESC, orderkey LIMIT 10"),
      "q54_pagerank_fixed" -> pagerankSql,
      "q240_pagerank_warm" -> pagerankWarmSql,
      // CDC-wired warm starts: the changelog resolution must land on
      // the tag-predicate replay (q210's identity for the seeded legs)
      "q253_cdc_warm_pagerank" -> pagerankWarmSql,
      // sketch gates: the oracle recomputes the exact side and expects the
      // (deterministic, fixed-seed) sketch guarantee to hold
      "q56_cms_heavy_hitters" ->
        ("WITH tc AS (SELECT token, COUNT(*) AS cnt FROM " +
          "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) t " +
          "WHERE token <> '' GROUP BY token) " +
          "SELECT token, cnt AS exact_cnt, true AS within_bound FROM tc " +
          "ORDER BY cnt DESC, token LIMIT 10"),
      "q57_hll_distinct" ->
        ("WITH lt AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents) " +
          "SELECT lang, COUNT(DISTINCT token) AS n_exact, true AS within_tol " +
          "FROM lt WHERE token <> '' GROUP BY lang"),
      "q58_clustering_coeff" -> clusteringSqlFor(copurchase10),
      // sliding windows: size = 2×slide ⇒ every edge is in exactly the two
      // epoch-aligned 30-day buckets (bkt, bkt-1) — expand and aggregate
      "q55_sliding_windows" ->
        ("WITH b AS (SELECT CAST(FLOOR(epoch(l_shipdate) / 2592000) AS BIGINT) AS bkt, " +
          "l_partkey AS src, l_quantity AS v FROM lineitem), " +
          "ex AS (SELECT CAST((bkt - k) * 2592000 AS BIGINT) AS win, src, v " +
          "FROM b CROSS JOIN (SELECT unnest([0, 1]) AS k) ks) " +
          "SELECT win, src, COUNT(*) AS cnt, MAX(v) AS max_value FROM ex GROUP BY 1, 2"),
      "q47_apply_neighbors" ->
        ("SELECT CAST(FLOOR(epoch(l_shipdate) / 2592000) * 2592000 AS BIGINT) AS win, " +
          "l_partkey AS src, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_nbrs " +
          "FROM lineitem GROUP BY 1, 2"),
      "q46_string_keys" ->
        ("SELECT key, COUNT(*) AS degree FROM (SELECT 'P' || l_partkey AS key FROM lineitem " +
          "UNION ALL SELECT 'S' || l_suppkey FROM lineitem) GROUP BY key"),
      "q43_source_stats" ->
        ("SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs, " +
          "ROUND(AVG(n_chars), 6) AS avg_chars FROM documents GROUP BY source"),
      "q44_regex_tokens" ->
        ("SELECT lang, " +
          "CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_subwords, " +
          "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words " +
          "FROM documents GROUP BY lang"),
    )
  }
}
