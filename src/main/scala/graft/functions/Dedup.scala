package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import graft.Lineage.CutOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** Document deduplication for large-scale training-data pipelines.
  *
  * Four tiers, all deterministic (seeded hash families, no runtime
  * randomness). Every n-gram comes from one per-document tokenizer
  * ([[Ngrams]], one pass over the text's UTF-8 bytes), and the MinHash
  * band keys from one per-document kernel ([[bandKeys]]) that index,
  * probe, batch pairs and streaming candidates share:
  *
  *  - exact: normalize → hash → keep min doc_id per group. One shuffle
  *    on a 64-bit hash, never on the full text.
  *  - n-gram Jaccard: exact shingle-overlap join via an inverted index
  *    (shingle → docs); pair candidates are generated only for docs
  *    sharing ≥1 shingle, then filtered by true Jaccard.
  *  - MinHash + LSH banding: near-dup candidates from banded minhash
  *    signatures (a per-row projection, then one shuffle on band keys,
  *    O(docs × bands) rows), verified with exact Jaccard — the scale
  *    path: no all-pairs join anywhere.
  *  - SimHash: 64-bit weighted-bit fingerprint; Hamming-≤r pairs found
  *    via the pigeonhole band trick (r+1 chunks, equal-chunk join).
  */
object Dedup {

  def normText(text: Column): Column = lower(trim(text))

  /** 128-bit content key: two independent xxhash64 streams over the
    * normalized text. Grouping/distinct-ing on this instead of the text
    * itself shuffles 16 bytes per doc rather than the document body —
    * the difference between shuffling 16 GB and 100 TB at scale.
    * Collision risk at n docs ≈ n²/2¹²⁹: ~10⁻¹⁸ even at 10¹⁰ docs.
    */
  private[graft] def contentKey(text: Column): Seq[Column] = {
    val norm = normText(text)
    Seq(xxhash64(norm), xxhash64(lit(0x9e3779b9L), norm))
  }

  /** Exact dedup: surviving row = min id per normalized text. */
  def exactSurvivors(docs: DataFrame): DataFrame = {
    val Seq(h1, h2) = contentKey(col("text"))
    docs.groupBy(h1.as("h1"), h2.as("h2"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
  }

  /** Per-language count of unique normalized texts. */
  def exactCountsByLang(docs: DataFrame): DataFrame = {
    val Seq(h1, h2) = contentKey(col("text"))
    docs.groupBy(col("lang"))
      .agg(countDistinct(h1, h2).as("n_unique"))
  }

  /** The n-grams of one document, tokenized once. Tokens are what
    * Spark's `split(text, " ")` returns, i.e. Java's `split(" ", -1)`:
    * every space separates, empty tokens are kept. They are found on the
    * text's UTF-8 bytes; a space byte is never part of a multi-byte
    * character, so n-gram i (tokens i..i+n-1 joined with " ") is the
    * byte slice [starts(i), starts(i) + length(i)) of the text itself.
    * A null text, or one of fewer than n tokens, has no n-grams.
    */
  private[graft] final class Ngrams(text: String, n: Int) {
    private val bytes = if (text == null) null else text.getBytes(UTF_8)
    // token t starts at starts(t); starts(tokens) = bytes.length + 1; a
    // null text has no tokens
    private val starts = if (bytes == null) Array(0)
      else (0 +: bytes.indices.filter(bytes(_) == ' ').map(_ + 1) :+ (bytes.length + 1)).toArray
    val count: Int = math.max(starts.length - n, 0)
    private def length(i: Int) = starts(i + n) - 1 - starts(i)
    def hash(i: Int, seed: Long): Long =
      XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + starts(i), length(i), seed)
    def strings: Array[String] =
      Array.tabulate(count)(i => new String(bytes, starts(i), length(i), UTF_8))
  }

  /** The seed Spark's `xxhash64` starts every row from. */
  private val HashSeed = 42L

  /** THE per-document MinHash kernel: the `bands` LSH band keys of
    * `text`'s n-gram shingles, bit-identical to the SQL pipeline
    * `mh_s` = min over the shingles of `xxhash64(s, shingle)`,
    * band key b = `xxhash64(mh_{b·r}, …, mh_{b·r+r-1})` with
    * r = `rowsPerBand`: `xxhash64` hashes its arguments in order from
    * seed 42, an int with `hashInt`, a string's UTF-8 bytes with
    * `hashUnsafeBytes` and a long with `hashLong`. Empty for a text with
    * no n-grams.
    */
  private[graft] def bandKeys(text: String, n: Int, bands: Int,
                              rowsPerBand: Int): Array[Long] = {
    val g = new Ngrams(text, n)
    if (g.count == 0) return Array.emptyLongArray
    val mh = Array.tabulate(bands * rowsPerBand) { s =>
      val seed = XXH64.hashInt(s, HashSeed)
      var m = Long.MaxValue
      for (i <- 0 until g.count) m = math.min(m, g.hash(i, seed))
      m
    }
    Array.tabulate(bands)(b => mh.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
      .foldLeft(HashSeed)((key, row) => XXH64.hashLong(row, key)))
  }

  /** Banded LSH keys `(doc_id, band, key)` of `docs`: [[bandKeys]] as a
    * UDF plus `posexplode`, one row per document and band. A pure
    * per-row projection — no shuffle, no aggregation, no state — so it
    * runs as is in an append-mode stream. Shared by [[minhashPairs]],
    * [[DedupIndex]] and the streaming candidates. Documents with fewer
    * than n tokens or a null text get no rows.
    */
  private[graft] def banded(docs: DataFrame, n: Int, bands: Int,
                            rowsPerBand: Int): DataFrame = {
    val keys = udf((text: String) => bandKeys(text, n, bands, rowsPerBand))
    docs.select(col("doc_id"), posexplode(keys(col("text"))).as(Seq("band", "key")))
  }

  /** Distinct n-gram token shingles per doc: (doc_id, shingle). */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    val grams = udf((text: String) => new Ngrams(text, n).strings)
    Spread(docs).select(col("doc_id"), explode(grams(col("text"))).as("shingle")).distinct()
  }

  /** Exact pairwise n-gram Jaccard with lossless prefix filtering
    * (AllPairs/PPJoin): order shingles globally by (document frequency
    * asc, shingle); a pair with J ≥ t must share a shingle inside both
    * docs' length-(n − ⌈t·n⌉ + 1) prefixes of that order. Candidates come
    * from a prefix⋈prefix join, then exact intersection counts are
    * computed for candidates only. Produces output identical to
    * [[ngramJaccardPairs]] (spec-checked).
    *
    * Choose by shingle-space density: on sparse spaces (real corpora,
    * 5-gram shingles, |shingles| >> |docs|) the prefix join touches only
    * rare shingles and avoids the quadratic co-occurrence blowup; on
    * dense tiny-vocabulary spaces where every doc pair collides anyway,
    * the plain inverted-index join is strictly cheaper — measured 14 s
    * vs 71 s at sf0.1 on the 31-token synthetic corpus.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sh = shingles(docs, n)
    val counts = sh.groupBy(col("doc_id")).agg(count("*").as("n_sh"))
    val cands = prefixCandidates(sh, counts, threshold)
    jaccardOfPairs(cands, sh, counts, threshold)
  }

  /** Candidate pairs surviving the lossless prefix filter — exposed for
    * the sparse-regime audit (the spec compares this count against the
    * full co-occurrence candidate count on a sparse corpus).
    */
  private[graft] def prefixCandidates(sh: DataFrame, counts: DataFrame,
                                      threshold: Double): DataFrame = {
    // rarity order (df asc, shingle) needs no global rank — the per-doc
    // window orders by the key directly, so nothing ever single-partitions
    val df = sh.groupBy("shingle").agg(count("*").as("df"))
    val perDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("shingle").asc)
    val prefix = sh.join(df, Seq("shingle"))
      .withColumn("pos", row_number().over(perDoc))
      .join(counts, Seq("doc_id"))
      .where(col("pos") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select("doc_id", "shingle")
    prefix.toDF("doc_a", "shingle")
      .join(prefix.toDF("doc_b", "shingle"), Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact pairwise n-gram Jaccard. Two physical plans, chosen by the
    * measured shape of the shingle space (one cheap O(|sh|) stats pass
    * over the already-checkpointed shingle table):
    *
    *  - inverted-index co-occurrence join (shingle → docs, pair rows only
    *    for docs sharing ≥1 shingle, map-side partial counts). Cost =
    *    Σ_shingle df² shuffled rows — quadratic when the space is dense.
    *  - bitset kernel (dictionary-encode shingles, pack each doc's set
    *    into an `array<long>`, one fused AND+POPCNT per doc pair). Cost =
    *    |docs|²/2 × words — wins exactly when density makes the join
    *    blow up, and is only feasible for dictionaries ≤64k.
    *
    * The crossover compares join rows (shuffled+aggregated, ~32× the cost
    * of a popcnt word-op) against pair word-ops. Both estimates are
    * fenced by `maxCooccurrence` (join rows, or the word-op equivalent):
    * past the fence this exact AUDIT tool refuses and points at
    * [[minhashPairs]] (the bucketed scale path) or
    * [[ngramJaccardPairsPrefix]] (exact, wins on sparse spaces).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxCooccurrence: Long = 1000000000L): DataFrame = {
    val sh = shingles(docs, n).cutLineage()
    val stats = sh.groupBy("shingle").agg(count("*").as("df"))
      .agg(sum(col("df") * col("df")).as("mass"), count("*").as("dict")).head()
    val (mass, dict) = (stats.getLong(0), stats.getLong(1))
    val nDocs = sh.agg(countDistinct(col("doc_id"))).head().getLong(0)
    val nWords = ((dict + 63) / 64).toInt
    val bitsetWordOps = nDocs * nDocs / 2 * math.max(nWords, 1)
    val joinRowCost = 32L // one shuffled co-occurrence row ≈ 32 popcnt word-ops
    if (dict <= 65536 && bitsetWordOps < mass * joinRowCost) {
      require(bitsetWordOps <= maxCooccurrence * joinRowCost,
        s"ngramJaccardPairs (bitset path) would run $bitsetWordOps word-ops " +
          s"(cap ${maxCooccurrence * joinRowCost}): use Dedup.minhashPairs (bucketed, " +
          "approximate+verified) at this scale, or raise maxCooccurrence to audit.")
      bitsetPairs(sh, dict.toInt, threshold)
    } else {
      require(mass <= maxCooccurrence,
        s"ngramJaccardPairs would expand $mass co-occurrence rows (cap $maxCooccurrence): " +
          "dense shingle space — use Dedup.minhashPairs (bucketed, approximate+verified) " +
          "or ngramJaccardPairsPrefix (exact, wins on sparse spaces), or raise " +
          "maxCooccurrence explicitly to audit at this density.")
      invertedIndexPairs(sh, threshold)
    }
  }

  /** Bitset-encoded all-pairs variant for small shingle dictionaries
    * (≤64k distinct shingles), forced explicitly — [[ngramJaccardPairs]]
    * already picks this plan automatically when the density estimate says
    * it wins.
    */
  def ngramJaccardPairsBitset(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sh = shingles(docs, n).cutLineage()
    val nDistinct = sh.select("shingle").distinct().count()
    require(nDistinct <= 65536, s"bitset variant needs a small dictionary, got $nDistinct shingles")
    bitsetPairs(sh, nDistinct.toInt, threshold)
  }

  private def invertedIndexPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val counts = sh.groupBy(col("doc_id")).agg(count("*").as("n_sh"))
    val inter = sh.toDF("doc_a", "shingle")
      .join(sh.toDF("doc_b", "shingle"), Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count("*").as("inter"))
    inter
      .join(counts.toDF("doc_a", "na"), Seq("doc_a"))
      .join(counts.toDF("doc_b", "nb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6).as("jac"))
      .where(col("jac") >= threshold)
  }

  private def bitsetPairs(sh: DataFrame, nDistinct: Int, threshold: Double): DataFrame = {
    import graft.expressions.{BitsetCorpus, BitsetJaccard}
    import graft.expressions.VectorExpressions.intsToBitset
    val spark = sh.sparkSession
    val nWords = (nDistinct + 63) / 64
    // dictionary is ≤64k entries by precondition — the global window is fine
    val dict = sh.select("shingle").distinct()
      .withColumn("sid", row_number().over(Window.orderBy("shingle")) - 1)
    val bm = sh.join(dict, Seq("shingle"))
      .groupBy("doc_id").agg(collect_list(col("sid").cast("int")).as("ids"))
      .select(col("doc_id"), size(col("ids")).as("n_sh"),
        intsToBitset(col("ids"), nWords).as("bm"))
      .cutLineage()
    // the pair loop runs against the corpus as ONE broadcast primitive
    // matrix: a crossJoin would materialize a joined row per PAIR (the
    // dominant cost — ~500ns each), where the kernel only materializes
    // matches. Collect is fenced by the caller's cost cap (≤ ~65k docs
    // at defaults → single-digit MBs, same class as IVF centroids).
    val rows = bm.select("doc_id", "n_sh", "bm").collect()
      .sortBy(_.getLong(0))
    val bms = new Array[Long](rows.length * nWords)
    rows.zipWithIndex.foreach { case (r, i) =>
      val arr = r.getSeq[Long](2)
      var w = 0
      while (w < nWords) { bms(i * nWords + w) = arr(w); w += 1 }
    }
    val corpus = spark.sparkContext.broadcast(BitsetCorpus(
      rows.map(_.getLong(0)), rows.map(_.getInt(1)), bms, nWords))
    bm.select(col("doc_id").as("doc_a"), col("n_sh").as("na"),
        explode(BitsetJaccard.matches(col("bm"), col("doc_id"), col("n_sh"),
          corpus, threshold)).as("m"))
      .select(col("doc_a"), col("m.doc_b").as("doc_b"),
        round(col("m.inter") / (col("na") + col("m.nb") - col("m.inter")), 6).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** Exact Jaccard for given candidate pairs: expand each pair by doc_a's
    * shingles, then an equi-join on (doc_b, shingle) keeps intersection
    * rows only — never the |sh_a|×|sh_b| cross product.
    */
  private[graft] def jaccardOfPairs(cands: DataFrame, sh: DataFrame,
                             counts: DataFrame, threshold: Double): DataFrame = {
    val inter = cands
      .join(sh.toDF("doc_a", "shingle"), Seq("doc_a"))
      .join(sh.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count("*").as("inter"))
    inter
      .join(counts.toDF("doc_a", "na"), Seq("doc_a"))
      .join(counts.toDF("doc_b", "nb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** Near-duplicate pairs via MinHash LSH banding, verified with exact
    * Jaccard. `bands × rowsPerBand` hash functions; candidate pairs share
    * all rows of ≥1 band.
    */
  def minhashPairs(docs: DataFrame, n: Int, threshold: Double,
                   bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val sh = shingles(docs, n).cutLineage()
    val keys = banded(Spread(docs), n, bands, rowsPerBand).cutLineage()
    val cands = keys.toDF("doc_a", "band", "key")
      .join(keys.toDF("doc_b", "band", "key"), Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // verify candidates with exact Jaccard (candidate set is small)
    val counts = sh.groupBy(col("doc_id")).agg(count("*").as("n_sh"))
    jaccardOfPairs(cands, sh, counts, threshold)
  }

  /** The full near-duplicate pipeline a training-data run actually
    * executes: bucketed MinHash candidates → exact-Jaccard verification →
    * connected components over the (tiny) duplicate-pair graph → every
    * document labeled with its cluster's min doc_id; singletons label
    * themselves. Keep one doc per cluster downstream via
    * [[nearDupSurvivors]].
    *
    * Scale shape: the pair graph is proportional to TRUE duplicates (the
    * banding never materializes all-pairs), so the single-pass union-find
    * summary holds it comfortably; everything else is the scan-shaped
    * work of [[minhashPairs]].
    */
  def nearDupClusters(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val pairs = minhashPairs(docs, n, threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comps = graft.operators.SummaryAggregations.connectedComponents(pairs)
      .toDF("doc_id", "cluster")
    docs.select("doc_id").join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Leakage-free train/validation split: near-dup CLUSTERS are assigned
    * atomically by the portable priority hash of the cluster label, so a
    * validation document can never have a near-duplicate in train — the
    * split-contamination failure mode of doc-level random splits.
    * `valPermille` of the hash range (‰) goes to "val". Composes
    * [[nearDupClusters]] with one projection; the hash is
    * [[graft.Portable.prio31]], so any engine replays the assignment.
    * Output: (doc_id, cluster, split).
    */
  def leakageSafeSplit(docs: DataFrame, n: Int, threshold: Double,
                       valPermille: Long = 100L): DataFrame =
    nearDupClusters(docs, n, threshold)
      .select(col("doc_id"), col("cluster"),
        when(pmod(graft.Portable.prio31(col("cluster")), lit(1000L)) < valPermille,
          lit("val")).otherwise(lit("train")).as("split"))

  /** One surviving doc_id (the cluster minimum) per near-dup cluster. */
  def nearDupSurvivors(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    nearDupClusters(docs, n, threshold)
      .groupBy("cluster").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** Maximal cross-document repeated token spans of length ≥ k — the
    * substring-level dedup capability of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * public), re-expressed for Spark: where the paper builds a corpus
    * suffix array, this engine marks every k-token shingle whose
    * fingerprint occurs in ≥ `minDocs` DISTINCT documents — OR, when
    * `minOccurs` > 0, ≥ `minOccurs` times ANYWHERE, which catches a
    * document repeating its own boilerplate (scraped-page chrome, the
    * self-repeat class Lee et al. also dedup; a within-document repeat
    * has nd = 1 and is invisible to the cross-document criterion) —
    * and merges runs of consecutive marked start positions into maximal spans —
    * a run p₁..p₂ of repeated k-gram starts covers tokens
    * [p₁, p₂+k−1], exactly the union of its repeated k-windows. Any
    * repeated substring of length L ≥ k is covered (all its k-gram
    * starts are marked), so coverage equals the suffix-array method's
    * at ≥k granularity; sub-k repeats are invisible by contract.
    *
    * Document-level MinHash misses this class entirely: boilerplate
    * (licenses, navigation chrome, templated headers) repeats ACROSS
    * otherwise-unrelated documents without making any document pair
    * near-duplicate.
    *
    * Scale shape: one groupBy on the 64-bit shingle fingerprint (8 B
    * shuffle keys, never shingle text), one semi-join back on the
    * fingerprint, and a per-document window over marked positions —
    * every stage ∝ corpus tokens or ∝ true repeats; no all-pairs
    * anything. Tokens are whitespace-split; positions are 0-based.
    *
    * Output: (doc_id, start_tok, end_tok, span_tokens), one row per
    * MAXIMAL COVERED TOKEN INTERVAL: two marked k-windows whose
    * coverage overlaps OR touches (start gap ≤ k) fold into one row,
    * so rows never overlap and span_tokens sums to exactly the covered
    * token count. The correctness oracle replays the same pipeline on
    * shingle STRINGS — identical output absent a 64-bit fingerprint
    * collision (≈n²/2⁶⁵; nil at any validated scale, and the hash gate
    * would surface one loudly).
    */
  def repeatedSpans(docs: DataFrame, k: Int, minDocs: Int = 2,
                    minOccurs: Int = 0): DataFrame = {
    // fp = xxhash64(shingle): the shingle's UTF-8 bytes from seed 42
    val fps = udf { (text: String) =>
      val g = new Ngrams(text, k); Array.tabulate(g.count)(g.hash(_, HashSeed)) }
    val pos = Spread(docs)
      .select(col("doc_id"), posexplode(fps(col("text"))))
      .toDF("doc_id", "pos", "fp")
    // both criteria ride ONE aggregation on the 8 B fingerprint keys;
    // the occurrence count adds no shuffle
    val marked = pos.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"))
    val repeated = (if (minOccurs > 0)
        marked.where(col("nd") >= minDocs || col("occ") >= minOccurs)
      else marked.where(col("nd") >= minDocs))
      .select("fp")
    // (doc_id, pos) is unique by construction — no distinct needed
    val hits = pos.join(repeated, Seq("fp"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // islands of OVERLAPPING-OR-TOUCHING windows: a start within k of
    // the previous start extends the covered interval (its window
    // reaches at least the previous window's end + 1); a larger gap
    // leaves ≥1 uncovered token and breaks the island. Start-position
    // consecutiveness (gap 1) would split intervals whose windows
    // overlap through a non-repeated middle shingle into OVERLAPPING
    // rows, double-counting the shared tokens.
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + (k - 1)).cast("long").as("end_tok"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_tokens"))
  }

  /** The dedup ACTION on [[repeatedSpans]]: strip every token covered by
    * a ≥k-token cross-document repeat and rebuild the document text
    * (Lee et al. 2021 remove the repeated occurrences; this keeps NO
    * copy — the flag-and-review variant is [[repeatedSpans]] itself).
    * Output per input document: (doc_id, n_tokens, repeated_tokens,
    * clean_text); documents with no repeats pass through verbatim, a
    * fully-covered document keeps an empty text. Rebuild order is by
    * token position (array_sort on (pos, token) structs — exact, no
    * collation involved), so spacing is reproduced token-for-token.
    */
  def stripRepeatedSpans(docs: DataFrame, k: Int, minDocs: Int = 2,
                         minOccurs: Int = 0): DataFrame = {
    val toks = split(col("text"), " ")
    val tok = Spread(docs)
      .select(col("doc_id"), posexplode(toks))
      .toDF("doc_id", "pos", "token")
    val covered = repeatedSpans(docs, k, minDocs, minOccurs)
      .select(col("doc_id"),
        explode(sequence(col("start_tok"), col("end_tok"))).as("pos"))
    val rebuilt = tok.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          s => s.getField("token")), " ").as("clean_text"))
    docs.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("repeated_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** 64-bit SimHash over tokens: bit b is the sign of Σ_tokens ±1 where
    * the token's hash decides the sign at bit b.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = Spread(docs).select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .select(col("doc_id"), xxhash64(col("token")).as("h"))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Pairs with SimHash Hamming distance ≤ maxDist, via pigeonhole
    * banding over (maxDist+1) 16-bit chunks (maxDist ≤ 3).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "pigeonhole banding uses 4 chunks of 16 bits")
    // materialized once — 4 chunk branches × both join sides would
    // otherwise re-run the 64-bit-sum aggregation 8 times
    val sh = simhash(docs).cutLineage()
    val chunks = (0 until 4).map { ch =>
      sh.select(col("doc_id"), col("simhash"), lit(ch).as("chunk"),
        shiftright(col("simhash"), ch * 16).bitwiseAND(0xFFFF).as("key"))
    }.reduce(_ unionByName _)
    val cands = chunks.toDF("doc_a", "sha", "chunk", "key")
      .join(chunks.toDF("doc_b", "shb", "chunk", "key"), Seq("chunk", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sha", "shb").distinct()
    cands
      .withColumn("dist", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .where(col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
  }
}
