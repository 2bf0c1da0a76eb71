package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraphStream
import graft.functions.DedupIndex
import graft.operators.{Centrality, Communities, ConnectedComponents, LocalGraph, PageRank}
import graft.streaming.StreamingOps

import perfbench.Inputs._

/** A workload: seeded inputs, one pass of calls into the program, and the
  * correctness checks run on the last pass's outputs after the timed
  * passes. Inputs live in driver memory and reach the program as local
  * DataFrames, so no pass depends on cached or checkpointed blocks.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** Regenerates the input arrays from the seed; returns their checksum.
    * Needs no Spark session.
    */
  def makeInputs(): Long
  /** Wraps the input arrays as local DataFrames. */
  def frames(): Unit
  def generate(): Long = { val sum = makeInputs(); frames(); sum }
  def pass(c: Ctx): Unit
  /** Failed correctness checks, as readable messages. */
  def check(c: Ctx): Seq[String]
  /** Counters of the last pass that are not timings. */
  def counters: Map[String, Double] = Map.empty
}

object Workload {
  val Names = Seq("graph_distributed", "stream_ingest")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "graph_distributed" => new GraphWorkload(spark, seed)
    case "stream_ingest" => new StreamWorkload(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  private val EdgeSchema = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  def edgesDf(spark: SparkSession, edges: Array[Edge]): DataFrame =
    spark.createDataFrame(edges.toSeq.map(e =>
      Row(e.src, e.dst, e.value, new Timestamp(e.ts * 1000L))).asJava, EdgeSchema)

  def docsDf(spark: SparkSession, docs: Array[Doc]): DataFrame =
    spark.createDataFrame(docs.toSeq.map(d => Row(d.id, d.text)).asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))

  /** Driver-side union-find: vertex → min id of its component. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  def longPairs(rows: Array[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
}

/** graph_distributed: the round legs of PageRank, Louvain and betweenness
  * centrality, forced with a one-task bar of 0, plus the GraphStream
  * degree and windowed-fold calls. The round legs cost a few Spark jobs
  * per round whatever the graph size, so the graph is small and dense
  * (shallow BFS layers): the pass is bound by the fixed cost of each job
  * (scheduling, planning, stage set-up). It shuffles under 1 MB, so it
  * measures what these legs cost per round, not what they cost per byte.
  */
final class GraphWorkload(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import Workload._

  private val nVertices = 200
  private val nEdges = 1200
  private val prIters = 3
  private val louvainLevels = 1
  // the BFS depth is the deepest source's eccentricity: with four random
  // sources it is close to the graph's diameter for every seed
  private val nSources = 4

  private var edges: Array[Edge] = _
  private var edgesDf: DataFrame = _
  private var sources: Seq[Long] = _
  private val last = mutable.LinkedHashMap.empty[String, Array[Row]]

  def makeInputs(): Long = {
    edges = powerLawGraph(seed, nVertices, nEdges)
    val verts = edges.flatMap(e => Seq(e.src, e.dst)).distinct.sorted
    val r = new java.util.SplittableRandom(seed ^ 0xbe7L)
    sources = Seq.fill(nSources)(verts(r.nextInt(verts.length))).distinct
    checksum(edges) + checksum(sources)
  }

  def frames(): Unit = edgesDf = Workload.edgesDf(spark, edges)

  /** The operator calls; `bar` 0 selects the round legs, the default bar
    * the one-task legs.
    */
  private def operators(c: Ctx, bar: Long): Unit = {
    val n = edges.length.toLong
    def run(name: String)(df: => DataFrame): Unit = last(name) = c.rows(name, n)(df)
    run("operators.pagerank")(PageRank.fixedPoint(edgesDf, prIters, bar))
    run("operators.louvain")(Communities.louvain(edgesDf, louvainLevels, louvainLevels,
      oneTaskBar = if (bar == 0L) 0L else LocalGraph.SymRowBar / 2))
    run("operators.betweenness")(Centrality.betweennessCentrality(edgesDf, sources, oneTaskBar = bar))
  }

  def pass(c: Ctx): Unit = {
    operators(c, 0L)
    val n = edges.length.toLong
    c.rows("graphstream.degrees", n)(GraphStream(edgesDf).getDegrees)
    c.rows("graphstream.slice_fold", n)(
      GraphStream(edgesDf).slice("15 minutes").reduceOnEdges(sum(col("value")).as("value_sum")))
  }

  def check(c: Ctx): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    // every round leg must be bit-equal to its one-task leg
    val round = last.map { case (k, v) => k -> checksum(v.toSeq) }.toMap
    c.untimed(operators(c, LocalGraph.SymRowBar))
    last.foreach { case (k, v) =>
      if (checksum(v.toSeq) != round(k)) failures += s"$k: the round leg differs from the one-task leg"
    }
    failures.toSeq
  }
}

/** stream_ingest: the connected-components replay harness (one trigger
  * per micro-batch, the next batch fed only after `processAllAvailable`
  * returns) and a dedup-index lifecycle rebuilt in every pass: bulk save,
  * streamed ingest, then compaction of the ingest table into the index.
  */
final class StreamWorkload(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import Workload._

  private val nEdges = 3000
  private val ccBatches = 6
  private val nBase = 600
  private val nNew = 240
  private val ingestBatches = 3
  private val Index = "perfbench_dedup"

  private var edges: Array[Edge] = _
  private var base, fresh: Array[Doc] = _
  private var edgesDf, baseDf, newDf: DataFrame = _
  private var ccRows: Array[Row] = _
  private var filesBefore, filesAfter = 0L

  def makeInputs(): Long = {
    edges = powerLawGraph(seed, nEdges / 3, nEdges)
    base = corpus(seed, nBase, nBase / 10)
    fresh = corpus(seed + 1, nNew, nNew / 10, firstId = 1000000L, copyOf = base)
    checksum(edges) + checksum(base ++ fresh)
  }

  def frames(): Unit = {
    edgesDf = Workload.edgesDf(spark, edges)
    baseDf = docsDf(spark, base)
    newDf = docsDf(spark, fresh)
  }

  def pass(c: Ctx): Unit = {
    ccRows = c.rows("streaming.replay_cc", edges.length)(
      StreamingOps.replayConnectedComponents(edgesDf, ccBatches))
    c.unit("functions.dedup_index_save", 0L)(DedupIndex.save(baseDf, Index))
    c.unit("streaming.dedup_ingest", nNew.toLong)(
      StreamingOps.replayDedupIngest(newDf, Index, ingestBatches))
    filesBefore = indexFiles()
    c.unit("sources.compact", 0L)(DedupIndex.compact(spark, Index))
    filesAfter = indexFiles()
  }

  /** Data files of the index's base and ingest tables. */
  private def indexFiles(): Long = {
    val wh = new java.io.File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    def count(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(count).sum).getOrElse(0L)
      else if (f.getName.startsWith("part-")) 1L else 0L
    count(new java.io.File(wh, s"${Index}_buckets")) +
      count(new java.io.File(wh, s"${Index}_buckets_ingest"))
  }

  override def counters: Map[String, Double] = Map(
    "sources.index_files_before_compact" -> filesBefore.toDouble,
    "sources.index_files_after_compact" -> filesAfter.toDouble)

  def check(c: Ctx): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    val expected = components(edges.map(e => (e.src, e.dst)))
    if (longPairs(ccRows) != expected)
      failures += "streaming.replay_cc final state differs from a driver-side union-find"
    if (longPairs(ConnectedComponents.auto(edgesDf).collect()) != expected)
      failures += "ConnectedComponents.auto differs from a driver-side union-find"
    // the compacted index must hold exactly the bulk encoding of every
    // document saved or streamed in
    val (n, bands, rows) = DedupIndex.params(spark, Index)
    def keys(df: DataFrame) = df.select("doc_id", "band", "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val stored = keys(DedupIndex.loadBuckets(spark, Index))
    val encoded = keys(DedupIndex.encode(docsDf(spark, base ++ fresh), n, bands, rows))
    if (stored != encoded)
      failures += s"compacted index holds ${stored.size} band keys, the bulk encoding ${encoded.size}"
    failures.toSeq
  }
}
