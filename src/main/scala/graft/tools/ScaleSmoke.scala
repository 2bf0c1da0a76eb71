package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only scale smoke (results recorded in SCALE.md): drive the
  * dedup/similarity scale paths on a deterministic synthetic corpus well
  * past the bench scale factors — generated distributed (no driver-side
  * data), duplicates planted so recall is checkable.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(100000)
    // "all" | "docs" | "graph" | "summary" — section selector for quick reruns
    val mode = args.lift(1).getOrElse("all")
    val spark = graft.GraftSession.localBuilder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[smoke] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }
    // tier-2 instrumentation: wall + total shuffle write + max task peak
    // memory per operator (shared by the tier2/tier2docs modes)
    val shuffleW = new java.util.concurrent.atomic.AtomicLong()
    val peakMem = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuffleW.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        peakMem.getAndAccumulate(sc.stageInfo.taskMetrics.peakExecutionMemory, Math.max)
      }
    })
    def tm[A](label: String)(f: => A): A = {
      val s0 = shuffleW.get(); peakMem.set(0L)
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[smoke] $label%-40s $dt%8.1f s  shuffleW=${(shuffleW.get() - s0) / 1e9}%.2f GB  peakTask=${peakMem.get() / 1e6}%.0f MB")
      r
    }
    // 30 tokens/doc from a 10k vocab, seeded per (id, pos); every 20th doc
    // gets a near-dup twin (first token perturbed) in the upper id range
    if (mode == "all" || mode == "docs") {
    val tokenCols = (0 until 30).map(p =>
      concat(lit("w"), pmod(xxhash64(col("id"), lit(p)), lit(10000))))
    val base = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", tokenCols: _*).as("text"))
    val twins = spark.range(nDocs).where(col("id") % 20 === 0)
      .select((col("id") + nDocs).as("doc_id"),
        concat_ws(" ", lit("perturbed") +: tokenCols.tail: _*).as("text"))
    val docs = base.unionByName(twins).localCheckpoint(true)
    println(s"[smoke] corpus: ${docs.count()} docs")

    val pairs = t(s"minhashPairs (j>=0.5)")(
      graft.functions.Dedup.minhashPairs(docs, 2, 0.5).count())
    println(s"[smoke] near-dup pairs found: $pairs (planted ${nDocs / 20})")
    val clusters = t("nearDupClusters end-to-end")(
      graft.functions.Dedup.nearDupClusters(docs, 2, 0.5)
        .where(col("doc_id") =!= col("cluster")).count())
    println(s"[smoke] docs clustered to a smaller id: $clusters")
    t("simhashPairs (dist<=3)")(
      graft.functions.Dedup.simhashPairs(docs, 3).count())
    t("exact dedup counts")(
      graft.functions.Dedup.exactCountsByLang(
        docs.withColumn("lang", lit("en"))).count())
    t("fingerprints")(
      graft.functions.TextStats.fingerprints(docs)
        .write.format("noop").mode("overwrite").save())
    }

    // traversal smoke: same deterministic 10M-edge / 1M-vertex graph as
    // the r1 core smoke (xxhash64 endpoints => connected, ~20 avg degree)
    val nEdges = 10000000L
    val nVerts = 1000000L
    val g = spark.range(nEdges).select(
      pmod(xxhash64(col("id"), lit(1)), lit(nVerts)).as("src"),
      pmod(xxhash64(col("id"), lit(2)), lit(nVerts)).as("dst"),
      (pmod(xxhash64(col("id"), lit(3)), lit(50)) + 1).cast("double").as("value"))
      .localCheckpoint(true)
    println(s"[smoke] graph: ${g.count()} edges / ~$nVerts vertices")
    // summary-agg wire-format A/B: identical union-find aggregation, one
    // with the r2 Java-serialized buffer, one with the compact array-
    // product codec (SummaryCodecs). The partial-merge exchange moves one
    // ~|V|-entry summary per input partition, so the buffer format IS the
    // cost here. The explode-and-count action consumes the summary —
    // a bare count() lets ColumnPruning elide the aggregation entirely.
    if (mode == "all" || mode == "summary") {
    def ccCount(edges: org.apache.spark.sql.DataFrame,
                agg: graft.operators.ConnectedComponentsAgg): Long =
      graft.operators.SummaryAggregations.run(edges, agg)
        .select(explode(col("summary"))).count()
    def javaSerAgg = new graft.operators.ConnectedComponentsAgg {
      override def bufferEncoder = org.apache.spark.sql.Encoders
        .javaSerialization[graft.summaries.DisjointSet]
    }
    // the codec path completes at the full 10M/1M scale; the javaSer
    // variant OOMs an 8g heap here (32 concurrent ~60 MB Java-serialized
    // partials) — measured 2026-08-13, hence the head-to-head below runs
    // at 3M edges where BOTH formats fit
    val nFull = t("CC summary agg, array codec (10M/1M)")(
      ccCount(g, new graft.operators.ConnectedComponentsAgg))
    println(s"[smoke] CC summary vertices (10M): $nFull")
    val gAB = g.limit(3000000).localCheckpoint(true)
    val nJ = t("CC summary agg, javaSer buffer (3M)")(ccCount(gAB, javaSerAgg))
    val nA = t("CC summary agg, array codec (3M)")(
      ccCount(gAB, new graft.operators.ConnectedComponentsAgg))
    println(s"[smoke] CC summary rows (3M): javaSer=$nJ arrayCodec=$nA (must match)")
    locally {
      val ds = new graft.summaries.DisjointSet
      var i = 0L
      while (i < 100000L) { ds.union(i, (i * 2654435761L) % 100000L); i += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos); oos.writeObject(ds); oos.close()
      val rows = new graft.summaries.SummaryCodecs.DisjointSetCodec().encode(ds)
      val packed = (rows.ids.length + rows.parent.length + rows.size.length) * 8
      println(f"[smoke] 100k-vertex summary wire bytes: javaSer=${bos.size()}%,d  arrayCodec=$packed%,d (${bos.size().toDouble / packed}%.1fx)")
    }
    }

    if (mode == "truss") {
      // incremental vs full-recount k-truss A/B on the sf0.1 co-purchase
      // subsample (the q81 input)
      val c10 = graft.model.GraphFixtures.coPurchase10(
        spark, "/root/testdata/sf0.1").localCheckpoint(true)
      println(s"[smoke] c10 sf0.1: ${c10.count()} edges")
      // warm the triangle codepath once so the first timed variant isn't
      // charged JVM/codegen warmup
      graft.operators.Triangles.globalCount(c10).count()
      for (k <- Seq(5, 7)) {
        val nR = t(s"ktruss k=$k always-recount (sf0.1 c10)")(
          graft.operators.Triangles.ktrussRecompute(c10, k).count())
        val nD = t(s"ktruss k=$k always-delta (sf0.1 c10)")(
          graft.operators.Triangles.ktruss(c10, k, deltaFraction = 1.0).count())
        val nH = t(s"ktruss k=$k hybrid (sf0.1 c10)")(
          graft.operators.Triangles.ktruss(c10, k).count())
        println(s"[smoke] truss k=$k edges: hybrid=$nH delta=$nD recount=$nR (must match)")
      }
    }

    if (mode == "all" || mode == "salt") {
      // power-law smoke: 10M edges, src Zipf-ish (log-uniform rank ⇒ the
      // head vertex owns ~7% of all edges), dst uniform — the hub-reducer
      // stress shape. Deterministic via xxhash64.
      val u = pmod(xxhash64(col("id"), lit(11)), lit(1000000L)).cast("double") / 1e6
      val zipf = spark.range(nEdges).select(
        (exp(u * math.log(nVerts.toDouble))).cast("long").as("src"),
        pmod(xxhash64(col("id"), lit(12)), lit(nVerts)).as("dst"))
        .localCheckpoint(true)
      val hub = zipf.groupBy("src").count().orderBy(col("count").desc).limit(1).collect()(0)
      println(s"[smoke] zipf graph: hub vertex ${hub.getLong(0)} has ${hub.getLong(1)} edges")
      def consume(df: org.apache.spark.sql.DataFrame): Long =
        df.select(sum(size(col("nbrs")))).collect()(0).getLong(0)
      val nP = t("adjacency build, plain groupBy (zipf)")(
        consume(graft.operators.Salting.plainAdjacency(zipf)))
      val nS = t("adjacency build, salted 2-phase (zipf)")(
        consume(graft.operators.Salting.saltedAdjacency(zipf)))
      println(s"[smoke] adjacency entries: plain=$nP salted=$nS (must match)")
      // count-like agg for contrast: partial aggregation already absorbs
      // the hub, so salting is parity-not-speedup here (see Salting doc)
      val dP = t("degrees, plain groupBy (zipf)")(
        graft.GraphStream(zipf.withColumn("value", lit(1.0)))
          .getDegrees.select(sum("degree")).collect()(0).getLong(0))
      val dS = t("degrees, salted 2-phase (zipf)")(
        graft.operators.Salting.saltedDegrees(zipf)
          .select(sum("degree")).collect()(0).getLong(0))
      println(s"[smoke] degree mass: plain=$dP salted=$dS (must match)")
    }

    if (mode == "tier2docs") {
      // tier-2 for the PIPELINE side (VERDICT r4 item 5): nDocs synthetic
      // docs (pass 1000000–10000000) through the banded near-dup and
      // LSH-bucketed decontamination scale paths. Same planting scheme as
      // the 105k smoke (a near-dup twin every 20th doc) so candidate
      // volume is checkable against planted truth; 100k vocab keeps the
      // accidental-shingle-collision floor realistic at 10M docs.
      val tokenCols = (0 until 30).map(p =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(p)), lit(100000))))
      val base = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", tokenCols: _*).as("text"))
      val twins = spark.range(nDocs).where(col("id") % 20 === 0)
        .select((col("id") + nDocs).as("doc_id"),
          concat_ws(" ", lit("perturbed") +: tokenCols.tail: _*).as("text"))
      val docs = base.unionByName(twins).localCheckpoint(true)
      println(s"[smoke] tier2docs corpus: ${docs.count()} docs (planted twins: ${nDocs / 20})")
      val pairs = tm(s"minhashPairs j>=0.5 ($nDocs docs)")(
        graft.functions.Dedup.minhashPairs(docs, 2, 0.5).count())
      println(s"[smoke] near-dup pairs: $pairs (planted ${nDocs / 20})")
      val clustered = tm(s"nearDupClusters end-to-end ($nDocs docs)")(
        graft.functions.Dedup.nearDupClusters(docs, 2, 0.5)
          .where(col("doc_id") =!= col("cluster")).count())
      println(s"[smoke] docs clustered to a smaller id: $clustered")
      // decontamination at the same tier: nDocs train vectors, 2M-row
      // benchmark (past the 1M broadcast budget — exercises the bucketed
      // path through the public dispatcher). Every 100th train vector is
      // planted verbatim in the benchmark; the rest of the benchmark is
      // drawn from a disjoint seed space so it matches nothing.
      val dim = 16
      def vecOf(seedCol: org.apache.spark.sql.Column) = transform(
        sequence(lit(0), lit(dim - 1)),
        i => ((pmod(xxhash64(seedCol, i), lit(2000L)) - 1000L).cast("double") / 500.0))
      val train = spark.range(nDocs)
        .select(col("id").as("vec_id"), vecOf(col("id")).as("embedding"))
      val planted = spark.range(nDocs / 100)
        .select((col("id") * 100).as("vec_id"), vecOf(col("id") * 100).as("embedding"))
      val noise = spark.range(2000000L - nDocs / 100)
        .select((col("id") + 3000000000L).as("vec_id"),
          vecOf(col("id") + 3000000000L).as("embedding"))
      val bench = planted.unionByName(noise).localCheckpoint(true)
      println(s"[smoke] benchmark rows: ${bench.count()} (planted ${nDocs / 100})")
      val hits = tm(s"embeddingContamination bucketed ($nDocs train / 2M bench)")(
        graft.functions.Corpus.embeddingContamination(
          train, bench, threshold = 0.999).count())
      println(s"[smoke] contaminated train vecs: $hits (planted ${nDocs / 100}, " +
        "LSH recall>=1-2e-4 at c~1.0)")
    }

    if (mode == "tier2") {
      // one tier up (VERDICT r3 item 8): 100M edges / 10M vertices,
      // recording wall + total shuffle write + max task peak memory per
      // operator. Run with SPARK_DRIVER_MEM=96g. Riskiest (the bounded-
      // summary CC, whose partials are ~|V|-sized) runs LAST so an OOM
      // can't take earlier results with it.
      val n2E = 100000000L
      val n2V = 10000000L
      val g2 = spark.range(n2E).select(
        pmod(xxhash64(col("id"), lit(1)), lit(n2V)).as("src"),
        pmod(xxhash64(col("id"), lit(2)), lit(n2V)).as("dst"),
        (pmod(xxhash64(col("id"), lit(3)), lit(50)) + 1).cast("double").as("value"))
        .localCheckpoint(true)
      println(s"[smoke] tier2 graph: ${g2.count()} edges / ~$n2V vertices")
      tm("CC iterative pointer-jump (100M/10M)")(
        graft.operators.ConnectedComponents.iterative(g2).count())
      // canonical a<b distinct for the triangle family
      val c2 = g2.select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .where(col("src") < col("dst")).distinct().localCheckpoint(true)
      println(s"[smoke] tier2 canonical edges: ${c2.count()}")
      tm("triangles globalCount (100M/10M)")(
        println("[smoke] triangles: " +
          graft.operators.Triangles.globalCount(c2).head().getLong(0)))
      tm("ktruss k=5 hybrid (100M/10M)")(
        println("[smoke] truss edges: " + graft.operators.Triangles.ktruss(c2, 5).count()))
      tm("CC summary agg, array codec (100M/10M)")(
        println("[smoke] summary vertices: " + graft.operators.SummaryAggregations
          .run(g2, new graft.operators.ConnectedComponentsAgg)
          .select(explode(col("summary"))).count()))
    }

    if (mode == "tier2iter") {
      // tier-2 for the late-r5 iterative family: HITS, sampled harmonic
      // closeness, hash-priority maximal matching — same 100M-edge/10M-
      // vertex graph and instrumentation as the tier2 mode. Run with
      // SPARK_DRIVER_MEM=96g.
      val n2E = 100000000L
      val n2V = 10000000L
      val g2 = spark.range(n2E).select(
        pmod(xxhash64(col("id"), lit(1)), lit(n2V)).as("src"),
        pmod(xxhash64(col("id"), lit(2)), lit(n2V)).as("dst"))
        .where(col("src") =!= col("dst"))
        .localCheckpoint(true)
      println(s"[smoke] tier2iter graph: ${g2.count()} edges / ~$n2V vertices")
      tm("HITS 5 rounds (100M/10M)")(
        println("[smoke] hits rows: " + graft.operators.Hits.fixedPoint(g2, 5).count()))
      tm("harmonicCloseness 3 sources (100M/10M)")(
        println("[smoke] closeness rows: " + graft.operators.Centrality
          .harmonicCloseness(g2, Seq(0L, 1L, 2L)).count()))
      tm("maximalMatching (100M/10M)")(
        println("[smoke] matched pairs: " + graft.operators.Matching
          .maximalMatching(g2).count()))
    }

    if (mode == "tier2cos") {
      // tier-2 for the bucketed cosine kernel (VERDICT r5 item 1): nDocs
      // vectors (pass 1000000), every 100th vector gets a planted twin
      // (one coordinate nudged, cosine ≥ 0.999) in the upper id range.
      // At threshold 0.99 the adaptive sizing lands ~(20 planes, 14
      // tables) for 1M rows — occupancy ~1, candidates ∝ tables×rows —
      // vs the old fixed (4, 8) whose candidate join would be
      // rows²/16·8 = 5e11 rows at this scale. Accidental random pairs
      // at ≥0.99 in dim 16 are ~1.6e-13·n²/2 ≈ 0.1 — found pairs are
      // checkable against planted truth.
      val dim = 16
      def vecOf(seedCol: org.apache.spark.sql.Column) = transform(
        sequence(lit(0), lit(dim - 1)),
        i => ((pmod(xxhash64(seedCol, i), lit(2000L)) - 1000L).cast("double") / 500.0))
      val base = spark.range(nDocs)
        .select(col("id").as("vec_id"), vecOf(col("id")).as("embedding"))
      val twins = spark.range(nDocs).where(col("id") % 100 === 0)
        .select((col("id") + nDocs).as("vec_id"),
          transform(vecOf(col("id")),
            (x, i) => when(i === 0, x + lit(0.01)).otherwise(x)).as("embedding"))
      val corpus = base.unionByName(twins).localCheckpoint(true)
      println(s"[smoke] tier2cos corpus: ${corpus.count()} vectors (planted twins: ${nDocs / 100})")
      val (pl, tb) = graft.functions.Similarity.lshSizing(corpus.count(), 0.99)
      println(s"[smoke] adaptive sizing at 0.99: planes=$pl tables=$tb")
      val found = tm(s"cosinePairsBucketed 0.99 ($nDocs vecs)")(
        graft.functions.Similarity.cosinePairsBucketed(corpus, 0.99).count())
      println(s"[smoke] pairs found: $found (planted ${nDocs / 100})")
      val clustered = tm(s"clustersFromPairs over bucketed ($nDocs vecs)")(
        graft.functions.Similarity.clustersFromPairs(corpus,
          graft.functions.Similarity.cosinePairsBucketed(corpus, 0.99))
          .where(col("vec_id") =!= col("cluster")).count())
      println(s"[smoke] vecs clustered to a smaller id: $clustered")
    }

    if (mode == "tier2zipf") {
      // tier-2 for the iterative family on a SKEWED graph (VERDICT r5
      // item 7): the salt-mode Zipf generator (head vertex owns ~7% of
      // edges) at 10M edges / 1M vertices — exposes hub skew in the
      // per-layer joins that the uniform tier2iter graph cannot.
      val u = pmod(xxhash64(col("id"), lit(11)), lit(1000000L)).cast("double") / 1e6
      val zipf = spark.range(nEdges).select(
        (exp(u * math.log(nVerts.toDouble))).cast("long").as("src"),
        pmod(xxhash64(col("id"), lit(12)), lit(nVerts)).as("dst"))
        .where(col("src") =!= col("dst"))
        .localCheckpoint(true)
      val hub = zipf.groupBy("src").count().orderBy(col("count").desc).limit(1).collect()(0)
      println(s"[smoke] tier2zipf: ${zipf.count()} edges, hub ${hub.getLong(0)} has ${hub.getLong(1)} out-edges")
      tm("betweenness 3 sources (zipf 10M)")(
        println("[smoke] betweenness rows: " + graft.operators.Centrality
          .betweennessCentrality(zipf, Seq(0L, 1L, 2L)).count()))
      tm("louvain 2 levels (zipf 10M)")(
        println("[smoke] louvain communities: " + graft.operators.Communities
          .louvain(zipf).select("community").distinct().count()))
      tm("maximalMatching (zipf 10M)")(
        println("[smoke] matched pairs: " + graft.operators.Matching
          .maximalMatching(zipf).count()))
    }

    if (mode == "tier2core") {
      // full core decomposition at 10M edges, uniform AND Zipf: the
      // h-index fixed point's round count is data-dependent (long
      // few-vertex tails on chain-like regions), so measure both the
      // benign and the skewed shape
      tm("coreness (uniform 10M)") {
        val c = graft.operators.Traversals.coreness(g)
        println("[smoke] uniform coreness: " + c.agg(max("coreness"), count(lit(1)))
          .collect()(0).toString)
      }
      val u = pmod(xxhash64(col("id"), lit(11)), lit(1000000L)).cast("double") / 1e6
      val zipf = spark.range(nEdges).select(
        (exp(u * math.log(nVerts.toDouble))).cast("long").as("src"),
        pmod(xxhash64(col("id"), lit(12)), lit(nVerts)).as("dst"))
        .where(col("src") =!= col("dst"))
        .localCheckpoint(true)
      tm("coreness (zipf 10M)") {
        val c = graft.operators.Traversals.coreness(zipf)
        println("[smoke] zipf coreness: " + c.agg(max("coreness"), count(lit(1)))
          .collect()(0).toString)
      }
    }

    if (mode == "tier2ttl") {
      // Bounded vs unbounded running-CC state (VERDICT r5 item 6's
      // quantification): a sliding-population edge stream — edge i links
      // vertex i/2 to a recent vertex, ts advances 1s per 100 edges —
      // so old vertices stop arriving, exactly the regime TTL exists
      // for. The final TTL state holds only the horizon's vertices; the
      // unbounded sibling's state holds every vertex ever seen.
      val n = 1000000L
      val edges = spark.range(n).select(
          floor(col("id") / 2).cast("long").as("src"),
          greatest(lit(0L),
            floor(col("id") / 2).cast("long")
              - pmod(xxhash64(col("id"), lit(21)), lit(200L)) - 1L).as("dst"),
          timestamp_seconds(floor(col("id") / 100)).as("ts"))
        .where(col("src") =!= col("dst"))
        .localCheckpoint(true)
      val nv = edges.select(explode(array(col("src"), col("dst"))).as("v"))
        .distinct().count()
      println(s"[smoke] tier2ttl stream: ${edges.count()} edges, $nv distinct vertices, " +
        s"event time spans ${n / 100}s")
      tm("running CC unbounded (1M-edge replay)") {
        val full = graft.streaming.StreamingOps
          .replayConnectedComponents(edges, nBatches = 10).count()
        println(s"[smoke] unbounded final state: $full vertex entries")
      }
      tm("running CC TTL 600s (1M-edge replay)") {
        val live = graft.streaming.StreamingOps
          .replayConnectedComponentsTtl(edges, "600 seconds", nBatches = 10).count()
        println(s"[smoke] TTL'd final state: $live vertex entries")
      }
    }

    if (mode == "tier2bpe") {
      // Production-k BPE learning (VERDICT r6 item 3's "done" evidence):
      // learn k=1000 merges on a 50k-doc corpus. The incremental learner
      // touches only affected words + pair-count deltas per round, so
      // per-round wall must stay FLAT as rules accumulate (the rescan
      // learner's per-round cost grows with the rule count — re-encode
      // everything under r rules — which is why it was capped at k=10).
      // 5-char seeded words keep the symbol space busy for thousands of
      // distinct merges.
      val nD = 50000L
      val tokenCols = (0 until 30).map(p =>
        concat(lit("w"),
          lpad(pmod(xxhash64(col("id"), lit(p)), lit(10000)).cast("string"), 4, "0")))
      val docs = spark.range(nD).select(col("id").as("doc_id"),
        concat_ws(" ", tokenCols: _*).as("text")).localCheckpoint(true)
      val wf = graft.Lineage.cut(graft.functions.Bpe.wordFrequencies(docs))
      println(s"[smoke] tier2bpe corpus: ${docs.count()} docs, ${wf.count()} distinct words")
      // per-merge cost at k=200 vs k=1000: FLAT (same ms/merge) means
      // per-round work does not grow with the accumulated rule count —
      // the sub-quadratic claim. BATCHED selection (r8) then divides the
      // driver-paced round count by the realized batch width: per-merge
      // wall should drop ~in proportion to the mean width vs maxBatch=1.
      // The rescan learner at k=200 is the growth contrast: its
      // per-merge cost reflects re-encoding the vocabulary under up to
      // 200 rules and grows linearly in k.
      Seq(200, 1000).foreach { k =>
        val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
        val t0 = System.nanoTime()
        val got = graft.functions.Bpe.learnMergesFrom(wf, k,
          batchTrace = Some(widths)).length
        val dt = (System.nanoTime() - t0) / 1e9
        val mw = if (widths.isEmpty) 0.0 else got.toDouble / widths.length
        println(f"[smoke] batched(64) learn k=$k%5d: $dt%7.1f s (${dt / k * 1000}%6.1f ms/merge; " +
          f"rounds=${widths.length}%d meanWidth=$mw%.1f; got $got)")
      }
      Seq(200).foreach { k =>
        val t0 = System.nanoTime()
        val got = graft.functions.Bpe.learnMergesFrom(wf, k, maxBatch = 1).length
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[smoke] width-1     learn k=$k%5d: $dt%7.1f s (${dt / k * 1000}%6.1f ms/merge; got $got)")
      }
      Seq(200).foreach { k =>
        val t0 = System.nanoTime()
        val got = graft.functions.Bpe.learnMergesRescan(wf, k).length
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[smoke] rescan      learn k=$k%5d: $dt%7.1f s (${dt / k * 1000}%6.1f ms/merge; got $got)")
      }
      // batch width is CORPUS-dependent: the wXXXX vocab above is
      // symbol-narrow (11 chars), so top pairs fight over the same
      // digits and the no-skip prefix rule keeps batches thin. A
      // letter-diverse vocabulary (26-char alphabet, 8-char words) is
      // the natural-text-like contrast — top pairs are mostly
      // symbol-disjoint and batches widen accordingly.
      val letterCols = (0 until 12).map(p =>
        concat((0 until 8).map(c =>
          chr(lit(97) + pmod(xxhash64(col("id"), lit(p * 8 + c)), lit(26)))): _*))
      val docsL = spark.range(20000L).select(col("id").as("doc_id"),
        concat_ws(" ", letterCols: _*).as("text")).localCheckpoint(true)
      val wfL = graft.Lineage.cut(graft.functions.Bpe.wordFrequencies(docsL))
      println(s"[smoke] tier2bpe letters corpus: ${wfL.count()} distinct words")
      Seq(1000).foreach { k =>
        val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
        val t0 = System.nanoTime()
        val got = graft.functions.Bpe.learnMergesFrom(wfL, k,
          batchTrace = Some(widths)).length
        val dt = (System.nanoTime() - t0) / 1e9
        val mw = if (widths.isEmpty) 0.0 else got.toDouble / widths.length
        println(f"[smoke] batched(64) letters k=$k%5d: $dt%7.1f s (${dt / k * 1000}%6.1f ms/merge; " +
          f"rounds=${widths.length}%d meanWidth=$mw%.1f; got $got)")
      }
    }

    if (mode == "tier2pq") {
      // PQ ANN at 1M deterministic 64-dim vectors: the searched index is
      // 8 ints/vector; the scored-candidate stream folds to per-partition
      // top-shortlist heaps BEFORE any exchange, so shuffle stays
      // ∝ partitions × queries × shortlist while the scan is ∝ corpus.
      // Uniform-random vectors are PQ's ADVERSARIAL case (no cluster
      // structure to quantize) — the recall reported here is the floor.
      val nV = 1000000L
      val vecCol = expr("transform(sequence(0, 63), i -> " +
        "CAST(pmod(xxhash64(id, i), 2000001) - 1000000 AS DOUBLE) / 1000000.0)")
      val vecs = spark.range(nV).select(col("id").as("vec_id"), vecCol.as("embedding"))
      val queries = vecs.where(col("vec_id") < 10).localCheckpoint(true)
      val model = tm("PQ fit (64k sample, 5 iters)") {
        graft.functions.PQ.fit(vecs, m = 8, ks = 16)
      }
      val indexed = tm("PQ index 1M (codes only)") {
        graft.functions.PQ.index(vecs, model).localCheckpoint(true)
      }
      val pq = tm("PQ ADC topK (10 queries, shortlist 256)") {
        graft.functions.PQ.topK(indexed, vecs, queries, model, 10, shortlist = 256)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      }
      val brute = tm("brute-force topK (10 queries, exact)") {
        graft.functions.Similarity.bruteForceTopK(vecs, queries, 10)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      }
      println(s"[smoke] tier2pq UNIFORM recall@10: ${(pq & brute).size.toDouble / brute.size} " +
        s"(index bytes/vec: 8 ints vs 64 doubles raw = 16x cut)")
      // the uniform row above is the honest FLOOR (rank-10 vs rank-5000
      // cosine gaps are ~1e-2 at 1M random vectors — no quantizer can
      // separate them); real embedding corpora cluster, which is the
      // regime PQ exists for. Planted structure: 100k groups × 10
      // jittered members — a query's true neighbors are its group
      // siblings at cosine ≈ 0.99 and PQ must surface them.
      val baseCol = expr("transform(sequence(0, 63), i -> " +
        "CAST(pmod(xxhash64(id div 10, i), 2000001) - 1000000 AS DOUBLE) / 1000000.0)")
      val jitCol = expr("transform(sequence(0, 63), i -> " +
        "CAST(pmod(xxhash64(id, i, 99), 20001) - 10000 AS DOUBLE) / 200000.0)")
      val clustered2 = spark.range(nV)
        .select(col("id").as("vec_id"), baseCol.as("base"), jitCol.as("jit"))
        .select(col("vec_id"), expr("zip_with(base, jit, (b, j) -> b + j)").as("embedding"))
      val queriesC = clustered2.where(col("vec_id") % 10 === 0 && col("vec_id") < 100)
        .localCheckpoint(true)
      val modelC = graft.functions.PQ.fit(clustered2, m = 8, ks = 16)
      val idxC = graft.functions.PQ.index(clustered2, modelC).localCheckpoint(true)
      val pqC = tm("PQ ADC topK planted (10 queries)") {
        graft.functions.PQ.topK(idxC, clustered2, queriesC, modelC, 9, shortlist = 256)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      }
      val bruteC = tm("brute-force topK planted (exact)") {
        graft.functions.Similarity.bruteForceTopK(clustered2, queriesC, 9)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      }
      println(s"[smoke] tier2pq PLANTED recall@9: ${(pqC & bruteC).size.toDouble / bruteC.size}")
    }

    if (mode == "colorprobe") {
      // round-count probe for the greedy-coloring oracle's unroll
      // budget (args: nDocs is reused as a no-op; probes the fixture
      // graphs at sf0.001 and sf0.01)
      Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
        val tr = scala.collection.mutable.Buffer.empty[Long]
        val c = graft.operators.Communities.greedyColoring(
          graft.model.GraphFixtures.coPurchase10(spark, dir), trace = Some(tr))
        val nc = c.agg(max("color")).collect()(0).getLong(0) + 1
        println(s"[smoke] colorprobe $dir: rounds=${tr.length} colors=$nc vertices=${c.count()}")
      }
      // tier-2: the uniform 10M-edge / 1M-vertex graph (avg degree ~20,
      // random priorities — the JP depth is what bounds rounds at scale)
      val tr = scala.collection.mutable.Buffer.empty[Long]
      tm("greedyColoring (uniform 10M)") {
        val c = graft.operators.Communities.greedyColoring(g, maxRounds = 200,
          trace = Some(tr))
        val nc = c.agg(max("color")).collect()(0).getLong(0) + 1
        println(s"[smoke] 10M coloring: rounds=${tr.length} colors=$nc vertices=${c.count()}")
      }
    }

    if (mode == "tier2substr") {
      // Substring-level dedup at 100k docs (q153/q154's scale check):
      // every 10th doc gets the SAME 8-token boilerplate injected at a
      // doc-dependent offset inside its 30 unique-ish tokens — the
      // cross-document repeat class MinHash can't see (no doc pair is
      // near-duplicate). Expected: every planted doc reports exactly
      // one maximal span of exactly the boilerplate's 8 tokens (offsets
      // differ, so no flanking token can extend a span consistently);
      // organic 5-gram repeats among the w0000..w9999 tokens are
      // possible but the planted count is the floor.
      val bp = "lorem ipsum dolor sit amet consectetur adipiscing elit"
      val tokenCols = (0 until 30).map(p =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(p)), lit(100000000L))))
      val baseText = concat_ws(" ", tokenCols: _*)
      val docs = spark.range(100000).select(col("id").as("doc_id"),
        when(col("id") % 10 === 0,
          concat_ws(" ",
            concat_ws(" ", tokenCols.take(5): _*), lit(bp),
            concat_ws(" ", tokenCols.drop(5): _*)))
          .otherwise(baseText).as("text"))
        .localCheckpoint(true)
      println(s"[smoke] tier2substr corpus: ${docs.count()} docs, 10000 planted boilerplate copies")
      tm("repeatedSpans k=5 (100k docs)") {
        val spans = graft.functions.Dedup.repeatedSpans(docs, 5).localCheckpoint(true)
        val planted = spans.where(col("doc_id") % 10 === 0 &&
          col("start_tok") === 5 && col("span_tokens") === 8).count()
        println(s"[smoke] spans: ${spans.count()} total; planted found $planted/10000 " +
          s"(exact 8-token span at offset 5)")
        require(planted == 10000, s"planted recall failed: $planted")
      }
      tm("stripRepeatedSpans k=5 (100k docs)") {
        val cleaned = graft.functions.Dedup.stripRepeatedSpans(docs, 5)
        val stats = cleaned.agg(count(lit(1)), sum("repeated_tokens")).collect()(0)
        println(s"[smoke] cleaned docs: ${stats.getLong(0)}, repeated tokens removed: ${stats.getLong(1)}")
      }
    }

    if (mode == "tier2topk") {
      // Bounded top-k per group vs the window idiom at 10M rows / 1k
      // groups (q183's scale claim): the window exchange carries all
      // 10M rows to rank 5k of them; the Aggregator's map-side combine
      // caps its exchange at parts × groups × k buffered rows. Both
      // paths must agree exactly. Shuffle records/bytes are read from a
      // dedicated listener with a drain wait (the shared tm counter can
      // race the async listener bus on short jobs).
      val sRec = new java.util.concurrent.atomic.AtomicLong()
      val sByt = new java.util.concurrent.atomic.AtomicLong()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          sRec.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
          sByt.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      })
      def measured[A](label: String)(f: => A): A = {
        Thread.sleep(2000)
        val r0 = sRec.get(); val b0 = sByt.get(); val t0 = System.nanoTime()
        val r = f
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(2000) // drain the listener bus before reading deltas
        println(f"[smoke] $label%-40s $dt%8.1f s  shuffleRecords=${sRec.get() - r0}%,d  shuffleBytes=${(sByt.get() - b0) / 1e6}%.1f MB")
        r
      }
      val rows = spark.range(10000000).select(
        pmod(xxhash64(col("id")), lit(1000L)).cast("string").as("g"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000000L)).as("key"),
        col("id").as("rid")).localCheckpoint(true)
      println(s"[smoke] tier2topk corpus: ${rows.count()} rows, 1000 groups")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
        .orderBy(col("key").desc, col("rid").asc)
      val viaWindow = measured("window row_number top-5 (10M rows)") {
        rows.withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 5).select("g", "rnk", "rid", "key")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      }
      val viaAgg = measured("TopK.perGroup top-5 (10M rows)") {
        graft.functions.TopK.perGroup(rows, "g", "key", "rid", 5)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      }
      require(viaAgg == viaWindow, "bounded top-k diverged from the window answer")
    }

    if (mode == "tier2cdc") {
      // CDC latest-per-key at 2M events over 100k keys in 8 triggers
      // (q181's scale probe): per-trigger work ∝ batch + touched keys,
      // state 32 B/key. The replay answer must equal the batch argmax.
      import spark.implicits._
      val n = 2000000L
      val ev = spark.range(n).select(
        col("id").as("event_id"),
        pmod(xxhash64(col("id")), lit(100000L)).as("user_id"),
        pmod(xxhash64(col("id"), lit(3)), lit(10000000L)).as("tu"),
        (pmod(xxhash64(col("id"), lit(5)), lit(100000L)).cast("double") / 100).as("value"))
        .withColumn("ts_ns", col("tu") * 1000L)
        .localCheckpoint(true)
      println(s"[smoke] tier2cdc corpus: ${ev.count()} events, 100k keys")
      val got = tm("replayLatestPerKey 8 triggers (2M events)") {
        graft.streaming.StreamingOps.replayLatestPerKey(ev, nBatches = 8)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
      }
      val expected = tm("batch argmax (2M events)") {
        val w2 = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("tu").desc, col("event_id").desc)
        ev.withColumn("rn", row_number().over(w2))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
          .where(col("rn") === 1)
          .select("user_id", "tu", "event_id", "n")
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      }
      require(got == expected, "streaming CDC diverged from the batch argmax")
    }

    if (mode == "tier2ingest") {
      // Per-trigger ingest parallelism of the running summaries (VERDICT
      // r6 item 1's "done" evidence): the same 4M-edge trigger over a
      // bounded 20k-vertex population — the high-rate regime the TTL
      // variants target — fed once through a 1-partition MemoryStream
      // and once through a 16-partition one. With the per-partition
      // partial fold, the serial merger sees Σ|partial| ≤ P×|V| pairs
      // instead of 4M raw edges, so the 16-partition trigger must be
      // substantially faster; before the fix both shapes serialized the
      // full 4M edges through one task and tied.
      val nE = 4000000L
      val nV = 20000L
      // (p, fanIn): 1 vs 16 input partitions reproduces the r7 row;
      // 64 partitions with and without the two-level fan-in is the r8
      // evidence that the merger's Σ|partial| replay stops being the
      // floor once P outgrows the horizon population's usefulness
      // (64 partials × ≤20k pairs = 1.28M pairs/trigger serialized at
      // the merger without fan-in; ≤8 × ≤20k with fanIn=8)
      Seq((1, 0), (16, 0), (64, 0), (64, 8)).foreach { case (p, fi) =>
        // rate-micro-batch: exactly nE fresh rows per trigger, generated
        // ON THE EXECUTORS across p input partitions (a MemoryStream
        // harness java-serializes its rows into task closures — useless
        // at millions of rows per trigger)
        val src = spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", nE.toString)
          .option("numPartitions", p.toString)
          .load()
          .select(
            pmod(xxhash64(col("value"), lit(31)), lit(nV)).as("src"),
            pmod(xxhash64(col("value"), lit(32)), lit(nV)).as("dst"))
        val ckpt = java.nio.file.Files.createTempDirectory(
          new java.io.File("/dev/shm").toPath, "graft-ingest-smoke").toString
        val q = graft.streaming.StreamingOps
          .runningConnectedComponents(src, fanIn = fi)
          .toDF("id", "component")
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .format("noop").start()
        try {
          // let 4 triggers of 4M edges complete; report the post-warmup
          // per-trigger wall (median of triggers 2-4). Fail loud if the
          // query dies (a terminated query's progress never grows — a
          // bare poll would spin forever)
          while (q.recentProgress.count(_.numInputRows == nE) < 4) {
            q.exception.foreach(e => throw e)
            Thread.sleep(200)
          }
          val durs = q.recentProgress.filter(_.numInputRows == nE)
            .map(_.durationMs.get("triggerExecution").toLong).toSeq.tail.sorted
          println(f"[smoke] running CC sustained 4M-edge triggers, $p%2d input partition(s), " +
            f"fanIn=$fi%d: median trigger ${durs(durs.length / 2) / 1000.0}%6.2f s " +
            f"(all post-warmup: ${durs.mkString(",")} ms)")
        } finally q.stop()
      }
    }

    if (mode == "tier2msf") {
      // Borůvka MSF on the uniform 10M-edge / 1M-vertex graph, verified
      // AT SCALE by the τ=∞ single-linkage identity: the components of
      // the forest must equal the components of the full graph — a
      // non-spanning or cross-component forest fails loud here
      val gw = g.withColumn("weight",
        pmod(xxhash64(col("src"), col("dst")), lit(2147483648L)))
      val msf = tm("boruvka MSF (10M edges)") {
        val m = graft.operators.SpanningForest.boruvka(gw).localCheckpoint(true)
        println(s"[smoke] msf edges: ${m.count()}")
        m
      }
      tm("tau=inf identity: CC(MSF) == CC(G)") {
        val a = graft.operators.SpanningForest
          .singleLinkage(gw, msf, Long.MaxValue).toDF("id", "ca")
        val b = graft.operators.ConnectedComponents.iterative(g).toDF("id", "cb")
        val joined = a.join(b, Seq("id"), "full")
        val bad = joined.where(col("ca").isNull || col("cb").isNull ||
          col("ca") =!= col("cb")).count()
        println(s"[smoke] vertices=${a.count()} mismatched=$bad")
        require(bad == 0, s"single-linkage identity violated on $bad vertices")
      }
    }

    if (mode == "tier2msfdec") {
      // decremental MSF at the 10M-edge tier: delete a hash-selected
      // ~10% slice (forest AND non-forest edges mixed), maintain the
      // forest via the q209 carve-out, and verify AT SCALE by the
      // τ=∞ single-linkage identity on the SURVIVING graph — plus an
      // A/B against the full Borůvka over E∖D the maintenance avoids
      // canonicalize orientation BEFORE tagging: the deletion set and
      // the survivor filter must agree on edge identity with the
      // operator's normalized (least, greatest) keys — a pair present
      // in both orientations would otherwise be deleted on one side
      // and survive on the other (found by the block-graph probe below)
      val gw = g.select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
        .withColumn("weight",
          pmod(xxhash64(col("src"), col("dst")), lit(2147483648L)))
        .localCheckpoint(true)
      val delTag = pmod(xxhash64(col("src"), col("dst"), lit(9)), lit(10L))
      val surviving = gw.where(delTag =!= 3).localCheckpoint(true)
      val deleted = gw.where(delTag === 3).select("src", "dst").localCheckpoint(true)
      println(s"[smoke] deleting ${deleted.count()} of ${gw.count()} edges")
      val oldForest = tm("boruvka MSF of the FULL graph (build)") {
        val m = graft.operators.SpanningForest.boruvka(gw).localCheckpoint(true)
        println(s"[smoke] old forest edges: ${m.count()}")
        m
      }
      val dec = tm("boruvkaDecremental (maintain)") {
        val m = graft.operators.SpanningForest
          .boruvkaDecremental(oldForest, gw, deleted).localCheckpoint(true)
        println(s"[smoke] maintained forest edges: ${m.count()}")
        m
      }
      val full = tm("boruvka over E-minus-D (the avoided recompute)") {
        val m = graft.operators.SpanningForest.boruvka(surviving)
          .localCheckpoint(true)
        println(s"[smoke] recomputed forest edges: ${m.count()}")
        m
      }
      tm("bit-equality: maintained == full recompute") {
        // marker columns: a USING full-outer coalesces the key cols, so
        // asymmetry shows as a null MARKER, never a null key
        val bad = dec.toDF("u", "v", "w").withColumn("l", lit(1))
          .join(full.toDF("u", "v", "w").withColumn("r", lit(1)),
            Seq("u", "v", "w"), "full")
          .where(col("l").isNull || col("r").isNull).count()
        val n1 = dec.count(); val n2 = full.count()
        println(s"[smoke] maintained=$n1 recomputed=$n2 asymmetric=$bad")
        require(n1 == n2 && bad == 0, s"decremental forest diverged ($bad rows)")
      }
      tm("tau=inf identity: CC(maintained MSF) == CC(E minus D)") {
        val a = graft.operators.SpanningForest
          .singleLinkage(surviving, dec, Long.MaxValue).toDF("id", "ca")
        val b = graft.operators.ConnectedComponents
          .iterative(surviving.select("src", "dst")).toDF("id", "cb")
        val bad = a.join(b, Seq("id"), "full")
          .where(col("ca").isNull || col("cb").isNull || col("ca") =!= col("cb"))
          .count()
        println(s"[smoke] vertices=${a.count()} mismatched=$bad")
        require(bad == 0, s"single-linkage identity violated on $bad vertices")
      }

      // ---- the operator's ACTUAL regime: many small components +
      // small delta + STORED labels (the dedup-cluster forest shape:
      // the giant-component case above is the documented worst case,
      // where maintenance degenerates to recompute + overhead)
      val nBlocks = 1000000L
      val bg = spark.range(nEdges).select(
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(4)), lit(10))).as("s0"),
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(5)), lit(10))).as("d0"))
        .select(least(col("s0"), col("d0")).as("src"),
          greatest(col("s0"), col("d0")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
        .withColumn("weight",
          pmod(xxhash64(col("src"), col("dst")), lit(2147483648L)))
        .localCheckpoint(true)
      val bTag = pmod(xxhash64(col("src"), col("dst"), lit(11)), lit(1000L))
      val bDel = bg.where(bTag === 3).select("src", "dst").localCheckpoint(true)
      val bSurv = bg.where(bTag =!= 3).localCheckpoint(true)
      println(s"[smoke] block graph: ${bg.count()} edges, ~$nBlocks components, " +
        s"deleting ${bDel.count()} (~0.1%)")
      val bForest = tm("block graph: nightly forest (build)") {
        graft.operators.SpanningForest.boruvka(bg).localCheckpoint(true)
      }
      val bLabels = tm("block graph: nightly labels (stored byproduct)") {
        graft.operators.ConnectedComponents.iterative(
            bForest.select(col("u").as("src"), col("v").as("dst")))
          .localCheckpoint(true)
      }
      val bDec = tm("boruvkaDecremental (0.1% delta, stored labels)") {
        val m = graft.operators.SpanningForest
          .boruvkaDecremental(bForest, bg, bDel, labels = Some(bLabels))
          .localCheckpoint(true)
        println(s"[smoke] maintained forest edges: ${m.count()}")
        m
      }
      val bFull = tm("block graph: full recompute over E-minus-D") {
        val m = graft.operators.SpanningForest.boruvka(bSurv)
          .localCheckpoint(true)
        println(s"[smoke] recomputed forest edges: ${m.count()}")
        m
      }
      tm("block graph bit-equality") {
        val bad = bDec.toDF("u", "v", "w").withColumn("l", lit(1))
          .join(bFull.toDF("u", "v", "w").withColumn("r", lit(1)),
            Seq("u", "v", "w"), "full")
          .where(col("l").isNull || col("r").isNull).count()
        println(s"[smoke] asymmetric=$bad")
        require(bad == 0, s"block-graph decremental forest diverged ($bad rows)")
      }
    }

    if (mode == "tier2coremaint") {
      // maintained coreness at the 10M-edge tier, in the operator's
      // ACTUAL regime (the tier2msfdec block-graph shape: ~1M small
      // components, 0.1% delta, stored nightly labels). The
      // giant-component degenerate case is documented on the operator.
      val nBlocks = 1000000L
      def blockEdges(salt: Int) = spark.range(nEdges).select(
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(salt)), lit(10))).as("s0"),
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(salt + 1)), lit(10))).as("d0"))
        .select(least(col("s0"), col("d0")).as("src"),
          greatest(col("s0"), col("d0")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      val base = blockEdges(4).localCheckpoint(true)
      val tag = pmod(xxhash64(col("src"), col("dst"), lit(11)), lit(1000L))
      // deletes: a 0.1% slice of REAL base edges
      val dels = base.where(tag === 3).select("src", "dst").localCheckpoint(true)
      // inserts: a fresh 0.1% slice from an independent salt (stays
      // inside blocks, so the many-component regime holds); excluded
      // from base AND from the deletes — the operator's tombstone-wins
      // precedence would otherwise kill an insert that collides with a
      // delete (observed: exactly one such collision at this scale)
      val ins = blockEdges(40)
        .where(pmod(xxhash64(col("src"), col("dst"), lit(13)), lit(1000L)) === 7)
        .join(base, Seq("src", "dst"), "left_anti")
        .join(dels, Seq("src", "dst"), "left_anti").localCheckpoint(true)
      println(s"[smoke] block graph: ${base.count()} base edges, " +
        s"+${ins.count()} / -${dels.count()} delta")
      val oldCore = tm("nightly coreness (build)") {
        graft.operators.Traversals.coreness(base).localCheckpoint(true)
      }
      val labels = tm("nightly supergraph labels (stored byproduct)") {
        graft.operators.ConnectedComponents.iterative(
          base.unionByName(ins)).localCheckpoint(true)
      }
      val trace = scala.collection.mutable.Buffer.empty[Long]
      val maint = tm("corenessMaintain (0.1% delta, stored labels)") {
        graft.operators.Traversals.corenessMaintain(oldCore, base, ins, dels,
          labels = Some(labels), trace = Some(trace)).localCheckpoint(true)
      }
      println(s"[smoke] affected vertices: ${trace.head} of ${oldCore.count()}")
      val net = base.join(dels, Seq("src", "dst"), "left_anti")
        .unionByName(ins).localCheckpoint(true)
      val full = tm("full coreness over the net graph (the avoided recompute)") {
        graft.operators.Traversals.coreness(net).localCheckpoint(true)
      }
      tm("bit-equality: maintained == full recompute") {
        val bad = maint.toDF("id", "a").join(full.toDF("id", "b"), Seq("id"), "full")
          .where(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
          .count()
        println(s"[smoke] vertices=${full.count()} mismatched=$bad")
        require(bad == 0, s"maintained coreness diverged on $bad vertices")
      }
    }

    if (mode == "tier2lmmaint") {
      // landmark-index insert maintenance at the 10M-edge tier on the
      // giant random graph: build on a 90% base, relax in the 10%
      // delta, verify bit-equality against per-landmark BFS over the
      // grown graph from the SAME base-picked landmarks, and A/B the
      // avoided full rebuild
      val tag = pmod(xxhash64(col("src"), col("dst"), lit(17)), lit(10L))
      val ge = g.select("src", "dst")
      val base = ge.where(tag =!= 3).localCheckpoint(true)
      val ins = ge.where(tag === 3).localCheckpoint(true)
      println(s"[smoke] base ${base.count()} edges, +${ins.count()} inserts")
      val idx = tm("landmarkDistances on the base (build)") {
        val i = graft.operators.Traversals.landmarkDistances(base, 8)
          .localCheckpoint(true)
        println(s"[smoke] index rows: ${i.count()}")
        i
      }
      val maint = tm("landmarkMaintainInserts (10% delta)") {
        val m = graft.operators.Traversals.landmarkMaintainInserts(idx, ge, ins)
          .localCheckpoint(true)
        println(s"[smoke] maintained rows: ${m.count()}")
        m
      }
      val rebuilt = tm("full rebuild over the grown graph (the avoided cost)") {
        graft.operators.Traversals.landmarkDistances(ge, 8).localCheckpoint(true)
      }
      tm("bit-equality vs per-landmark BFS from the base landmarks") {
        val lms = idx.where(col("dist") === 0).select("lm")
          .collect().map(_.getLong(0))
        val exact = lms.map(lm =>
            graft.operators.Traversals.bfsDepths(ge, lm)
              .select(lit(lm).as("lm"), col("id"), col("dist")))
          .reduce(_ unionByName _).localCheckpoint(true)
        val bad = maint.toDF("lm", "id", "a")
          .join(exact.toDF("lm", "id", "b"), Seq("lm", "id"), "full")
          .where(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
          .count()
        println(s"[smoke] index rows=${exact.count()} mismatched=$bad " +
          s"(rebuilt-for-timing rows=${rebuilt.count()})")
        require(bad == 0, s"maintained landmark index diverged on $bad rows")
      }
    }

    if (mode == "tier2walks") {
      // deterministic walks at the 10M-edge tier: ~1M walkers × 8
      // steps; verified AT SCALE by transition validity (every
      // consecutive (v_t, v_{t+1}) pair must be an edge of the
      // symmetric adjacency — a wrong argmin or a frontier mix-up
      // surfaces as an invalid transition) and by per-step cardinality
      // (every walker advances every step — no dead ends on the
      // symmetrized view)
      val walks = tm("deterministicWalks (10M edges, 8 steps)") {
        graft.operators.Walks.deterministicWalks(g, 8).localCheckpoint(true)
      }
      tm("validity: every transition is an edge; every walker advances") {
        val n = walks.count()
        val starts = walks.where(col("step") === 0).count()
        require(n == starts * 9, s"expected ${starts}×9 rows, got $n")
        val half = g.select(col("src").cast("long").as("u"),
          col("dst").cast("long").as("v"))
        val sym = half.union(half.select(col("v"), col("u")))
          .where(col("u") =!= col("v")).distinct()
        val steps = walks.toDF("sid", "step", "a")
        val next = walks.toDF("sid", "step2", "b")
          .withColumn("step", col("step2") - 1).drop("step2")
        val bad = steps.join(next, Seq("sid", "step"))
          .join(sym, steps("a") === sym("u") && next("b") === sym("v"),
            "left_anti")
          .count()
        println(s"[smoke] walkers=$starts rows=$n invalid_transitions=$bad")
        require(bad == 0, s"$bad invalid walk transitions")
      }
    }

    if (mode == "tier2hyperball") {
      // HyperBall at the 10M-edge / 1M-vertex tier, k=3. No oracle at
      // this scale; correctness rides (1) register-range validity,
      // (2) per-vertex monotonicity of the estimate in t (balls only
      // grow; register max is idempotent), and (3) estimator accuracy
      // against EXACT 2-hop ball sizes for a 200-vertex sample (HLL
      // m=16 ⇒ rsd ≈ 26%; the deterministic fixture either passes
      // forever or fails forever — no flakiness).
      val hb = tm("hyperball k=3 (10M edges / 1M vertices)") {
        graft.operators.HyperBall.ballSizes(g, 3).localCheckpoint(true)
      }
      tm("monotonicity + range") {
        val n = hb.count()
        val mono = hb.groupBy("id").pivot("t", Seq(1, 2, 3)).sum("est")
          .where(col("2") < col("1") || col("3") < col("2")).count()
        println(s"[smoke] rows=$n monotonicity_violations=$mono")
        require(mono == 0, s"$mono vertices with shrinking ball estimates")
      }
      tm("accuracy vs exact 2-hop balls (200-vertex sample)") {
        val half = g.select(col("src").cast("long").as("u"),
          col("dst").cast("long").as("v"))
        val sym = half.union(half.select(col("v"), col("u")))
          .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
        val sample = sym.select(col("u").as("id")).distinct()
          .where(pmod(xxhash64(col("id")), lit(5000L)) === 0)
          .limit(200).localCheckpoint(true)
        val h1 = sample.join(sym, sample("id") === sym("u"))
          .select(col("id"), col("v"))
          .union(sample.select(col("id"), col("id")))
        val h2 = h1.toDF("id", "m").join(sym.toDF("m", "v2"), Seq("m"))
          .select(col("id"), col("v2").as("m"))
          .union(h1.toDF("id", "m"))
          .distinct().groupBy("id").agg(count(lit(1)).as("exact2"))
        val cmp = h2.join(hb.where(col("t") === 2), Seq("id"))
          .select(col("id"), col("exact2"), col("est"))
          .localCheckpoint(true)
        val nS = cmp.count()
        val inBand = cmp.where(col("est") >= col("exact2") / 2 &&
          col("est") <= col("exact2") * 3).count()
        println(s"[smoke] sampled=$nS within [0.5x,3x]=$inBand")
        require(inBand * 10 >= nS * 9,
          s"HyperBall estimate off-band for ${nS - inBand} of $nS sampled vertices")
      }
    }

    if (mode == "tier2n2v") {
      // node2vec-biased walks at the 10M-edge tier: tier2walks'
      // validity contract plus the BIAS direction — with fReturn=4 the
      // immediate-backtrack rate must be strictly below the uniform
      // walk's on the same graph (the property the bias exists for).
      def backtracks(w: org.apache.spark.sql.DataFrame): Long = {
        val a = w.toDF("sid", "step", "x")
        val b = w.toDF("sid", "step2", "y")
          .withColumn("step", col("step2") - 2).drop("step2")
        a.join(b, Seq("sid", "step")).where(col("x") === col("y")).count()
      }
      val biased = tm("biasedWalks (10M edges, 8 steps)") {
        graft.operators.Walks.biasedWalks(g, 8).localCheckpoint(true)
      }
      tm("validity: every transition is an edge; every walker advances") {
        val n = biased.count()
        val starts = biased.where(col("step") === 0).count()
        require(n == starts * 9, s"expected ${starts}×9 rows, got $n")
        val half = g.select(col("src").cast("long").as("u"),
          col("dst").cast("long").as("v"))
        val sym = half.union(half.select(col("v"), col("u")))
          .where(col("u") =!= col("v")).distinct()
        val steps = biased.toDF("sid", "step", "a")
        val next = biased.toDF("sid", "step2", "b")
          .withColumn("step", col("step2") - 1).drop("step2")
        val bad = steps.join(next, Seq("sid", "step"))
          .join(sym, steps("a") === sym("u") && next("b") === sym("v"),
            "left_anti")
          .count()
        println(s"[smoke] walkers=$starts rows=$n invalid_transitions=$bad")
        require(bad == 0, s"$bad invalid walk transitions")
      }
      tm("bias direction: fewer immediate backtracks than uniform") {
        val uniform = graft.operators.Walks.deterministicWalks(g, 8)
          .localCheckpoint(true)
        val bB = backtracks(biased)
        val bU = backtracks(uniform)
        println(s"[smoke] backtracks biased=$bB uniform=$bU")
        require(bB < bU, s"bias direction violated: biased=$bB >= uniform=$bU")
      }
    }

    if (mode == "tier2scc") {
      // directed SCC at the 10M-edge tier. No oracle exists at this
      // scale, so correctness rides two structural identities:
      //  (1) direction symmetry — SCC(G) must equal SCC(reverse(G))
      //      label-for-label (mutual reachability is symmetric; the
      //      reversed run takes a DIFFERENT execution path: trim peels
      //      the opposite fringe first and fwd/bwd swap roles);
      //  (2) refinement — every SCC must sit inside one weakly-
      //      connected component (an SCC straddling weak components
      //      is structurally impossible).
      val scc = tm("scc (10M directed edges)") {
        val s = graft.operators.Scc.stronglyConnectedComponents(g)
          .localCheckpoint(true)
        val n = s.select("scc").distinct().count()
        val giant = s.groupBy("scc").count().agg(max("count")).head().getLong(0)
        println(s"[smoke] sccs=$n giant=$giant of ${s.count()} vertices")
        s
      }
      tm("direction symmetry: SCC(G) == SCC(reverse G)") {
        val r = graft.operators.Scc.stronglyConnectedComponents(
          g.select(col("dst").as("src"), col("src").as("dst")))
        val bad = scc.toDF("id", "a").join(r.toDF("id", "b"), Seq("id"), "full")
          .where(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
          .count()
        require(bad == 0, s"scc direction symmetry violated on $bad vertices")
        println(s"[smoke] mismatched=$bad")
      }
      tm("refinement: each SCC within one weak component") {
        val cc = graft.operators.ConnectedComponents.iterative(g)
        val bad = scc.toDF("id", "s").join(cc.toDF("id", "c"), Seq("id"))
          .groupBy("s").agg(countDistinct("c").as("nc"))
          .where(col("nc") =!= 1).count()
        require(bad == 0, s"$bad SCCs straddle weak components")
        println(s"[smoke] straddling=$bad")
      }
    }

    if (mode == "tier2text") {
      // BM25 + bloom decontamination at the 1M-doc tier (30 tokens/doc
      // from a 10k vocab → 30M tokens, ~26M distinct 5-gram train
      // shingles). Bloom correctness at scale = set equality with the
      // exact anti-join (both directions EXCEPT), required; bench =
      // every 50th doc, so the expected dirty set is ~the bench docs
      // themselves (random 5-grams collide only by duplication).
      val nD = 1000000L
      val tokenCols2 = (0 until 30).map(p =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(p)), lit(10000))))
      val corpus = spark.range(nD).select(col("id").as("doc_id"),
        concat_ws(" ", tokenCols2: _*).as("text")).localCheckpoint(true)
      println(s"[smoke] corpus: ${corpus.count()} docs")
      tm("bm25 topK (1M docs, 3 queries)") {
        val qs = Seq(1L -> Seq("w17", "w333", "w4242"), 2L -> Seq("w1", "w9999"),
          3L -> Seq("w777", "w42"))
        val r = graft.functions.Bm25.topK(corpus, 10, qs).collect()
        println(s"[smoke] bm25 rows: ${r.length} " +
          s"(top q1: ${r.filter(_.getLong(0) == 1L).take(2).mkString(" ")})")
      }
      // bench OVERLAPS train (the realistic leak: benchmark text copied
      // into the crawl), so the expected dirty set is exactly the 20k
      // bench docs — the bloom's positive path (candidate → exact
      // verify) is exercised at scale, not just the reject path
      val train = corpus
      val bench = corpus.where(col("doc_id") % 50 === 0)
      val surv = tm("bloomDecontaminate (1M train / 20k leaked bench)") {
        val s0 = graft.functions.Corpus.bloomDecontaminate(train, bench)
          .localCheckpoint(true)
        println(s"[smoke] survivors: ${s0.count()} of ${train.count()}")
        s0
      }
      tm("exact anti-join equality (both EXCEPTs empty)") {
        val sh = graft.functions.Dedup.shingles(train, 5)
          .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
        val bsh = graft.functions.Dedup.shingles(bench, 5)
          .select(xxhash64(col("shingle")).as("h")).distinct()
        val dirty = sh.join(bsh, Seq("h"), "left_semi").select("doc_id").distinct()
        val exact = train.select("doc_id").join(dirty, Seq("doc_id"), "left_anti")
        val d1 = surv.exceptAll(exact).count()
        val d2 = exact.exceptAll(surv).count()
        require(d1 == 0 && d2 == 0, s"bloom path diverged: +$d1 / -$d2 docs")
        println(s"[smoke] bloom ≡ exact anti-join (${exact.count()} docs)")
      }
    }

    if (mode == "tier2range") {
      // bucketed range join at the 10M-point / 1M-interval tier —
      // the naive theta-join is 10^13 comparisons (BroadcastNestedLoop
      // would never finish); bin expansion makes it linear. Correctness
      // at scale: a 1000-interval sample recounted by direct filtering
      // must match the bucketed counts exactly, `require`d.
      val pts = spark.range(10000000L).select(col("id").as("p_id"),
        pmod(xxhash64(col("id"), lit(11)), lit(1000000000L)).as("p"))
        .localCheckpoint(true)
      val ivs = spark.range(1000000L).select(col("id").as("i_id"),
        pmod(xxhash64(col("id"), lit(12)), lit(1000000000L)).as("lo"))
        .withColumn("hi", col("lo") + lit(500L) + pmod(xxhash64(col("i_id"), lit(13)), lit(1000L)))
        .localCheckpoint(true)
      println(s"[smoke] ${pts.count()} points × ${ivs.count()} intervals")
      val counts = tm("range join countPerInterval (10M × 1M)") {
        val c = graft.operators.RangeJoin.countPerInterval(pts, ivs, 1000L)
          .localCheckpoint(true)
        val tot = c.agg(sum("n_points"), max("n_points")).head()
        println(s"[smoke] total matches=${tot.getLong(0)} max/interval=${tot.getLong(1)}")
        c
      }
      tm("1000-interval direct-filter recount") {
        val sample = ivs.where(col("i_id") % 1000L === 0L)
        val direct = sample.crossJoin(pts)
          .where(col("p") >= col("lo") && col("p") < col("hi"))
          .groupBy("i_id").agg(count(lit(1)).as("nd"))
        val bad = sample.select("i_id")
          .join(direct, Seq("i_id"), "left")
          .join(counts, Seq("i_id"))
          .where(coalesce(col("nd"), lit(0L)) =!= col("n_points")).count()
        require(bad == 0, s"$bad sampled intervals disagree with the direct recount")
        println(s"[smoke] sample recount exact")
      }
    }

    if (mode == "tier2dense") {
      // densest-subgraph peel at the 10M-edge tier with a PLANTED dense
      // core: 200k extra edges among vertices 0..999 (~hundreds avg
      // degree inside vs ~20 outside). No oracle at this scale, so
      // correctness rides the approximation guarantee itself: the
      // peel's best density must be ≥ planted-core density / 2.2
      // (OPT ≥ the planted core, best ≥ OPT/2.2) — a broken threshold
      // or argmax fails this loudly. Plus the geometric round bound.
      val dense = spark.range(200000).select(
        pmod(xxhash64(col("id"), lit(7)), lit(1000L)).as("src"),
        pmod(xxhash64(col("id"), lit(8)), lit(1000L)).as("dst"))
      val gd = g.select("src", "dst").unionByName(dense).localCheckpoint(true)
      // planted-core density in the COMBINED graph (distinct undirected
      // edges, self-loops dropped — symmetrize's normalization)
      val core = gd.where(col("src") < 1000L && col("dst") < 1000L)
        .where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      val mP = core.count()
      val nP = core.select(explode(array(col("a"), col("b")))).distinct().count()
      println(s"[smoke] planted core: $mP edges / $nP vertices (density ${mP / math.max(nP, 1)})")
      val stats = tm("densestSubgraph (10.2M edges)") {
        graft.operators.Traversals.densestSubgraph(gd, maxRounds = 200)
          .orderBy("round").collect()
      }
      val rounds = stats.length
      val best = stats.find(_.getLong(4) == 1L).get
      println(s"[smoke] rounds=$rounds best=round ${best.getLong(0)} " +
        s"n=${best.getLong(1)} m=${best.getLong(2)} density_mu=${best.getLong(3)}")
      val n0 = stats.head.getLong(1)
      val bound = math.ceil(math.log(n0.toDouble) / math.log(1.1)).toLong
      require(rounds <= bound, s"rounds $rounds exceed the log_{1.1} bound $bound")
      // 2.2-approx: best m/n >= (mP/nP)/2.2  <=>  10*best_m*nP >= ... use BigInt
      val lhs = BigInt(best.getLong(2)) * 22 * nP
      val rhs = BigInt(mP) * 10 * best.getLong(1)
      require(lhs >= rhs,
        s"approximation guarantee violated: best ${best.getLong(2)}/${best.getLong(1)} " +
          s"vs planted $mP/$nP — peel or argmax is broken")
    }

    if (mode == "tier2temporal") {
      // time-respecting earliest arrival at the 10M-edge tier, edge
      // times from a 0..999 range. No oracle, so the fixpoint is
      // certified structurally: (1) every reached vertex except the
      // source has a WITNESS edge event (u,v,t) with t == arrival(v)
      // and arrival(u) <= t — an unwitnessed arrival means the relax
      // loop invented a value; (2) temporal reachability ⊆ static
      // reachability (a temporally-reached vertex unreachable by plain
      // BFS is impossible).
      val gt = g.select(col("src"), col("dst"),
        pmod(xxhash64(col("src"), col("dst"), lit(4)), lit(1000L)).as("t"))
        .localCheckpoint(true)
      val arr = tm("temporalBfs (10M edge events)") {
        val a = graft.operators.Traversals
          .temporalBfs(gt, 0L, -1L, maxRounds = 200).localCheckpoint(true)
        println(s"[smoke] temporally reached: ${a.count()} vertices")
        a
      }
      tm("witness certification + static-subset check") {
        val sym = gt.select(col("src").as("u"), col("dst").as("v"), col("t"))
          .unionByName(gt.select(col("dst").as("u"), col("src").as("v"), col("t")))
        val au = arr.toDF("u", "au")
        val witnessed = sym.join(au, Seq("u"))
          .where(col("t") >= col("au"))
          .groupBy(col("v")).agg(min(col("t")).as("wt"))
        val bad = arr.where(col("id") =!= 0L)
          .join(witnessed.withColumnRenamed("v", "id"), Seq("id"), "left")
          .where(col("wt").isNull || col("wt") =!= col("arrival")).count()
        require(bad == 0, s"$bad arrivals lack a consistent witness edge")
        val static = graft.operators.Traversals.bfsDepths(g, 0L).select("id")
        val escaped = arr.join(static, Seq("id"), "left_anti").count()
        require(escaped == 0, s"$escaped temporally-reached vertices are statically unreachable")
        println(s"[smoke] witnessed all, static-subset ok")
      }
    }

    if (mode == "tier2louvmaint") {
      // maintained communities at the 10M-edge tier in the operator's
      // ACTUAL regime (the tier2coremaint block-graph shape: ~1M small
      // components, 0.1% delta, stored nightly labels). The giant-
      // component degenerate case is documented on the operator.
      val nBlocks = 1000000L
      def blockEdges(salt: Int) = spark.range(nEdges).select(
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(salt)), lit(10))).as("s0"),
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(salt + 1)), lit(10))).as("d0"))
        .select(least(col("s0"), col("d0")).as("src"),
          greatest(col("s0"), col("d0")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      val base = blockEdges(4).localCheckpoint(true)
      val tag = pmod(xxhash64(col("src"), col("dst"), lit(11)), lit(1000L))
      val dels = base.where(tag === 3).select("src", "dst").localCheckpoint(true)
      val ins = blockEdges(40)
        .where(pmod(xxhash64(col("src"), col("dst"), lit(13)), lit(1000L)) === 7)
        .join(base, Seq("src", "dst"), "left_anti")
        .join(dels, Seq("src", "dst"), "left_anti").localCheckpoint(true)
      println(s"[smoke] block graph: ${base.count()} base edges, " +
        s"+${ins.count()} / -${dels.count()} delta")
      val oldLab = tm("nightly communities (louvainByComponent build)") {
        graft.operators.Communities.louvainByComponent(base)
          .localCheckpoint(true)
      }
      val labels = tm("nightly supergraph labels (stored byproduct)") {
        graft.operators.ConnectedComponents.iterative(
          base.unionByName(ins)).localCheckpoint(true)
      }
      val trace = scala.collection.mutable.Buffer.empty[Long]
      val maint = tm("louvainMaintain (0.1% delta, stored labels)") {
        graft.operators.Communities.louvainMaintain(oldLab, base, ins, dels,
          labels = Some(labels), trace = Some(trace)).localCheckpoint(true)
      }
      println(s"[smoke] affected vertices: ${trace.head} of ${oldLab.count()}")
      val net = base.join(dels, Seq("src", "dst"), "left_anti")
        .unionByName(ins).localCheckpoint(true)
      val full = tm("full louvainByComponent over the net graph (the avoided recompute)") {
        graft.operators.Communities.louvainByComponent(net).localCheckpoint(true)
      }
      tm("bit-equality: maintained == full recompute") {
        val bad = maint.toDF("id", "a").join(full.toDF("id", "b"), Seq("id"), "full")
          .where(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
          .count()
        println(s"[smoke] vertices=${full.count()} mismatched=$bad")
        require(bad == 0, s"maintained communities diverged on $bad vertices")
      }
    }

    if (mode == "tier2densmaint") {
      // maintained densest subgraph at the 10M-edge tier in the
      // operator's ACTUAL regime (the tier2coremaint block-graph shape:
      // ~1M small components, 0.1% delta, stored nightly labels). The
      // giant-component degenerate case is documented on the operator.
      val nBlocks = 1000000L
      def blockEdges(salt: Int) = spark.range(nEdges).select(
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(salt)), lit(10))).as("s0"),
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(salt + 1)), lit(10))).as("d0"))
        .select(least(col("s0"), col("d0")).as("src"),
          greatest(col("s0"), col("d0")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      val base = blockEdges(4).localCheckpoint(true)
      val tag = pmod(xxhash64(col("src"), col("dst"), lit(11)), lit(1000L))
      val dels = base.where(tag === 3).select("src", "dst").localCheckpoint(true)
      val ins = blockEdges(40)
        .where(pmod(xxhash64(col("src"), col("dst"), lit(13)), lit(1000L)) === 7)
        .join(base, Seq("src", "dst"), "left_anti")
        .join(dels, Seq("src", "dst"), "left_anti").localCheckpoint(true)
      println(s"[smoke] block graph: ${base.count()} base edges, " +
        s"+${ins.count()} / -${dels.count()} delta")
      val oldStats = tm("nightly densestByComponent (build)") {
        graft.operators.Traversals.densestByComponent(base)
          .localCheckpoint(true)
      }
      val labels = tm("nightly supergraph labels (stored byproduct)") {
        graft.operators.ConnectedComponents.iterative(
          base.unionByName(ins)).localCheckpoint(true)
      }
      val trace = scala.collection.mutable.Buffer.empty[Long]
      val maint = tm("densestMaintain (0.1% delta, stored labels)") {
        graft.operators.Traversals.densestMaintain(oldStats, base, ins, dels,
          labels = Some(labels), trace = Some(trace)).localCheckpoint(true)
      }
      println(s"[smoke] affected vertices: ${trace.head}")
      val net = base.join(dels, Seq("src", "dst"), "left_anti")
        .unionByName(ins).localCheckpoint(true)
      val full = tm("full densestByComponent over the net graph (the avoided recompute)") {
        graft.operators.Traversals.densestByComponent(net).localCheckpoint(true)
      }
      tm("bit-equality: maintained == full recompute") {
        def keyed(df: org.apache.spark.sql.DataFrame, v: String) = df.select(
          col("component"), col("round"),
          struct(col("n_vertices"), col("n_edges"),
            col("density_micro"), col("is_best")).as(v))
        val bad = keyed(maint, "a")
          .join(keyed(full, "b"), Seq("component", "round"), "full")
          .where(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
          .count()
        println(s"[smoke] stat rows=${full.count()} mismatched=$bad")
        require(bad == 0, s"maintained densest diverged on $bad stat rows")
      }
    }

    if (mode == "tier2hbmaint") {
      // maintained HyperBall at the 10M-edge tier in the operator's
      // ACTUAL regime (the tier2densmaint block-graph shape: ~1M small
      // components, 0.1% delta, stored nightly labels). The
      // giant-component degenerate case is documented on the operator.
      val nBlocks = 1000000L
      def blockEdges(salt: Int) = spark.range(nEdges).select(
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(salt)), lit(10))).as("s0"),
          (pmod(xxhash64(col("id"), lit(6)), lit(nBlocks)) * 10
            + pmod(xxhash64(col("id"), lit(salt + 1)), lit(10))).as("d0"))
        .select(least(col("s0"), col("d0")).as("src"),
          greatest(col("s0"), col("d0")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      val base = blockEdges(4).localCheckpoint(true)
      val tag = pmod(xxhash64(col("src"), col("dst"), lit(11)), lit(1000L))
      val dels = base.where(tag === 3).select("src", "dst").localCheckpoint(true)
      val ins = blockEdges(40)
        .where(pmod(xxhash64(col("src"), col("dst"), lit(13)), lit(1000L)) === 7)
        .join(base, Seq("src", "dst"), "left_anti")
        .join(dels, Seq("src", "dst"), "left_anti").localCheckpoint(true)
      println(s"[smoke] block graph: ${base.count()} base edges, " +
        s"+${ins.count()} / -${dels.count()} delta")
      val oldBalls = tm("nightly ballSizes k=3 (build)") {
        graft.operators.HyperBall.ballSizes(base, 3).localCheckpoint(true)
      }
      val labels = tm("nightly supergraph labels (stored byproduct)") {
        graft.operators.ConnectedComponents.iterative(
          base.unionByName(ins)).localCheckpoint(true)
      }
      val trace = scala.collection.mutable.Buffer.empty[Long]
      val maint = tm("ballSizesMaintain (0.1% delta, stored labels)") {
        graft.operators.HyperBall.ballSizesMaintain(oldBalls, base, ins, dels,
          3, labels = Some(labels), trace = Some(trace)).localCheckpoint(true)
      }
      println(s"[smoke] affected vertices: ${trace.head}")
      val net = base.join(dels, Seq("src", "dst"), "left_anti")
        .unionByName(ins).localCheckpoint(true)
      val full = tm("full ballSizes over the net graph (the avoided recompute)") {
        graft.operators.HyperBall.ballSizes(net, 3).localCheckpoint(true)
      }
      tm("bit-equality: maintained == full recompute") {
        val bad = maint.toDF("id", "t", "a")
          .join(full.toDF("id", "t", "b"), Seq("id", "t"), "full")
          .where(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
          .count()
        println(s"[smoke] ball rows=${full.count()} mismatched=$bad")
        require(bad == 0, s"maintained hyperball diverged on $bad rows")
      }
    }

    if (mode == "tier2hbgrow") {
      // insert-delta register growth in ITS regime — the one where the
      // carve-out degenerates: the 10M-edge random graph is one giant
      // component, and a 0.1% insert batch arrives. The stored
      // per-round register tables (the nightly build) grow by systolic
      // delta propagation; the cold arm re-runs every full-|E| round.
      val tag = pmod(xxhash64(col("src"), col("dst"), lit(17)), lit(1000L))
      val base = g.where(tag =!= 3).localCheckpoint(true)
      val ins = g.where(tag === 3).localCheckpoint(true)
      println(s"[smoke] giant component: ${base.count()} base edges, " +
        s"+${ins.count()} inserts")
      val rounds = tm("nightly registerRounds k=3 (build)") {
        graft.operators.HyperBall.registerRounds(base, 3)
      }
      val trace = scala.collection.mutable.Buffer.empty[Long]
      val grown = tm("ballSizesGrowFrom (0.1% inserts)") {
        graft.operators.HyperBall.ballSizesGrowFrom(rounds, base, ins, 3,
          trace = Some(trace)).localCheckpoint(true)
      }
      println(s"[smoke] changed wavefront per round: ${trace.mkString(", ")}")
      val cold = tm("full ballSizes over the grown graph (the avoided recompute)") {
        graft.operators.HyperBall.ballSizes(g, 3).localCheckpoint(true)
      }
      tm("bit-equality: grown == cold recompute") {
        val bad = grown.toDF("id", "t", "a")
          .join(cold.toDF("id", "t", "b"), Seq("id", "t"), "full")
          .where(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
          .count()
        println(s"[smoke] ball rows=${cold.count()} mismatched=$bad")
        require(bad == 0, s"grown hyperball diverged on $bad rows")
      }
    }

    if (mode == "tier2grid") {
      // the 2D grid layout APPLIED (q222 measures layout quality; this
      // runs the iterative operators over each layout): write the
      // 10M-edge graph hash1d- and grid2d-partitioned (q222's P=64
      // spec over the portable multiplicative hash), read each back,
      // run CC + coreness, record wall + shuffle, require identical
      // results — the deployment A/B that turns the q222 metric into a
      // layout decision
      val side = 8
      def ph(c: org.apache.spark.sql.Column) =
        pmod(pmod(c, lit(2147483648L)) * lit(2654435761L), lit(2147483648L))
      val root = "/tmp/graft_tier2grid"
      val layouts = Seq(
        "hash1d" -> (ph(col("src")) % (side * side)),
        "grid2d" -> ((ph(col("src")) % side) * side + ph(col("dst")) % side))
      val sums = layouts.map { case (nm, pcol) =>
        val dir = s"$root/$nm"
        tm(s"write $nm layout (64 parts)") {
          g.withColumn("p", pcol.cast("int"))
            .repartition(col("p"))
            .write.mode("overwrite").partitionBy("p").parquet(dir)
        }
        val e = spark.read.parquet(dir).select("src", "dst")
        val cc = tm(s"CC iterative over $nm") {
          graft.operators.ConnectedComponents.iterative(e).localCheckpoint(true)
        }
        val ccSum = cc.agg(expr("bit_xor(xxhash64(id, component))"))
          .head().getLong(0)
        val core = tm(s"coreness over $nm") {
          graft.operators.Traversals.coreness(e).localCheckpoint(true)
        }
        val coreSum = core.agg(expr("bit_xor(xxhash64(id, coreness))"))
          .head().getLong(0)
        println(s"[smoke] $nm checksums: cc=$ccSum core=$coreSum")
        (ccSum, coreSum)
      }
      require(sums.distinct.size == 1,
        s"layouts disagree on results: $sums — the layout must be invisible to the answer")
    }

    if (mode == "tier2hindex") {
      // hub-skew A/B for the h-index inner round (r11 verdict watch
      // item): a 3M-degree hub rides on a 2M-edge background graph.
      // window form sorts the hub's 3M neighbor rows in ONE task per
      // round; the sort-free form collapses them map-side to the
      // #distinct-value rows first. Hashes must match bit for bit.
      val hubDeg = 3000000L
      val star = spark.range(hubDeg)
        .select(lit(0L).as("src"), (col("id") + 10L).as("dst"))
      val bg = spark.range(2000000)
        .select((pmod(xxhash64(col("id"), lit(1)), lit(1000000L)) + 10L).as("src"),
          (pmod(xxhash64(col("id"), lit(2)), lit(1000000L)) + 10L).as("dst"))
        .where(col("src") =!= col("dst"))
      val e = star.unionByName(bg).localCheckpoint(true)
      println(s"[smoke] star+background: ${e.count()} edges, hub degree $hubDeg")
      val a = tm("coreness — window row_number h-index") {
        graft.operators.Traversals.coreness(e).localCheckpoint(true)
      }
      val b = tm("coreness — sort-free conditional-count h-index") {
        graft.operators.Traversals.coreness(e, sortFree = true).localCheckpoint(true)
      }
      tm("bit-equality across the two formulations") {
        val bad = a.toDF("id", "x").join(b.toDF("id", "y"), Seq("id"), "full")
          .where(col("x").isNull || col("y").isNull || col("x") =!= col("y"))
          .count()
        require(bad == 0, s"h-index formulations diverged on $bad vertices")
        println(s"[smoke] identical on ${a.count()} vertices")
      }
    }

    if (mode == "tier2prwarm") {
      // warm-start PageRank at the 10M-edge tier: nightly near-
      // stationary ranks on the 99% base, then a 1% insert delta —
      // rounds-to-stationarity (max per-vertex |Δrank| ≤ τ micro) for
      // the warm seed vs the uniform restart, then each arm re-run
      // untraced at its own round count for the wall comparison
      val tag = pmod(xxhash64(col("src"), col("dst"), lit(23)), lit(100L))
      def sym(df: org.apache.spark.sql.DataFrame) = df.unionByName(
        df.select(col("dst").as("src"), col("src").as("dst")))
      val ge = g.select("src", "dst")
      val bs = sym(ge.where(tag =!= 3)).localCheckpoint(true)
      val ns = sym(ge).localCheckpoint(true)
      println(s"[smoke] base ${bs.count() / 2} edges, net ${ns.count() / 2} (1% delta)")
      val prev = tm("nightly ranks (base, 30 rounds — near-stationary)") {
        graft.operators.PageRank.fixedPoint(bs, 30).localCheckpoint(true)
      }
      val tau = 1000L
      val wt = scala.collection.mutable.Buffer.empty[Long]
      val ct = scala.collection.mutable.Buffer.empty[Long]
      tm("warm-seeded net iteration, 30 traced rounds") {
        graft.operators.PageRank.fixedPointFrom(ns, prev, 30, Some(wt))
          .write.format("noop").mode("overwrite").save()
      }
      tm("uniform-restart net iteration, 30 traced rounds") {
        graft.operators.PageRank.fixedPointFrom(ns, prev.limit(0), 30, Some(ct))
          .write.format("noop").mode("overwrite").save()
      }
      val rw = wt.indexWhere(_ <= tau) + 1
      val rc = ct.indexWhere(_ <= tau) + 1
      println(s"[smoke] rounds to maxDelta<=$tau micro: warm=$rw cold=$rc " +
        s"(warm trace ${wt.take(6).mkString(",")}..., cold ${ct.take(6).mkString(",")}...)")
      require(rw > 0 && rc > 0, "neither arm reached tau in 30 rounds — raise the budget")
      require(rw < rc, s"warm start needed $rw rounds vs cold $rc — no win")
      tm(s"warm run at its own round count ($rw, untraced)") {
        graft.operators.PageRank.fixedPointFrom(ns, prev, rw)
          .write.format("noop").mode("overwrite").save()
      }
      tm(s"cold run at its own round count ($rc, untraced)") {
        graft.operators.PageRank.fixedPoint(ns, rc)
          .write.format("noop").mode("overwrite").save()
      }
    }

    if (mode == "all" || mode == "graph") {
      t("bfsDepths (10M edges)")(
        graft.operators.Traversals.bfsDepths(g, 0L).count())
      t("sssp Bellman-Ford (10M edges)")(
        graft.operators.Traversals.sssp(g, 0L).count())
      t("kcore k=25 (10M edges)")(
        graft.operators.Traversals.kcore(g, 25).count())
      t("pagerank fixed-point 5 rounds (10M)")(
        graft.operators.PageRank.fixedPoint(g, 5).count())
    }
    spark.stop()
  }
}
