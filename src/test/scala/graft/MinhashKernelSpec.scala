package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, DedupIndex}
import graft.model.Tables

/** The per-document MinHash kernel ([[Dedup.bandKeys]]) and its
  * tokenizer ([[Dedup.Ngrams]]) against the SQL pipeline they replace,
  * kept here as the reference: Spark's `split` for tokens,
  * `concat_ws(" ", slice(...))` for shingles, `min(xxhash64(lit(s),
  * shingle))` per signature row over a `groupBy`, and `xxhash64` of a
  * band's rows for its key.
  */
class MinhashKernelSpec extends SparkTestBase {

  import spark.implicits._

  private val texts: Seq[Option[String]] = Seq(
    Some("the quick brown fox jumps over the lazy dog"),
    Some("the quick brown fox leaps over the lazy dog"),
    Some("a  b   c"),                   // consecutive spaces
    Some(" leading space"),
    Some("trailing space "),
    Some("  both  "),
    Some(" "),
    Some("naïve café — 東京 タワー 🚀 ünïcödé"), // multi-byte UTF-8
    Some("ü ü ü ü"),
    Some("one"),                        // shorter than n = 2, 3
    Some("two words"),                  // shorter than n = 3
    Some(""),
    None)

  private lazy val docs: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  /** The SQL shingle pipeline `Dedup.shingles` ran before the kernel. */
  private def sqlShingles(n: Int): DataFrame = {
    val toks = split(col("text"), " ")
    docs.where(size(toks) >= n)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))).as("shingle"))
      .distinct()
  }

  /** The SQL signature and banding the index encode ran before the kernel. */
  private def sqlBandKeys(n: Int, bands: Int, rowsPerBand: Int): Set[(Long, Int, Long)] = {
    def mh(s: Int) = min(xxhash64(lit(s), col("shingle"))).as(s"mh$s")
    val sig = sqlShingles(n).groupBy(col("doc_id"))
      .agg(mh(0), (1 until bands * rowsPerBand).map(mh): _*)
    (0 until bands).flatMap { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      sig.select(col("doc_id"), lit(b), xxhash64(rows: _*)).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    }.toSet
  }

  private def keys(df: DataFrame): Seq[(Long, Int, Long)] =
    df.select("doc_id", "band", "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  for (n <- Seq(1, 2, 3); (bands, rowsPerBand) <- Seq((8, 4), (4, 2), (1, 1)))
    test(s"kernel band keys equal the SQL signature banding (n=$n, bands=$bands, rows=$rowsPerBand)") {
      val got = keys(Dedup.banded(docs, n, bands, rowsPerBand))
      val expected = sqlBandKeys(n, bands, rowsPerBand)
      assert(got.size == got.toSet.size, "one row per document and band")
      assert(got.toSet == expected)
      // every document the SQL pipeline shingles gets all its bands
      assert(got.map(_._1).distinct.size * bands == got.size)
    }

  test("kernel shingles and fingerprints equal Spark's split, concat_ws and xxhash64") {
    for (n <- Seq(1, 2, 3)) {
      val got = Dedup.shingles(docs, n).as[(Long, String)].collect().toSet
      assert(got == sqlShingles(n).as[(Long, String)].collect().toSet, s"n=$n")
      // repeatedSpans' positional fingerprints: posexplode of
      // xxhash64(shingle) per n-gram, duplicates and order kept
      val toks = split(col("text"), " ")
      val sqlFps = docs.where(size(toks) >= n)
        .select(col("doc_id"), posexplode(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => xxhash64(concat_ws(" ", slice(toks, i, lit(n)))))))
        .as[(Long, Int, Long)].collect().toSet
      val kernelFps = texts.zipWithIndex.flatMap { case (t, d) =>
        val g = new Dedup.Ngrams(t.orNull, n)
        (0 until g.count).map(i => (d.toLong, i, g.hash(i, 42L)))
      }.toSet
      assert(kernelFps == sqlFps, s"n=$n")
    }
  }

  test("DedupIndex.encode is one shuffle-free projection: one job, one stage, no Exchange or HashAggregate") {
    val corpus = Tables.documents(spark, sf)
    val ((plan, rows), stagesPerJob) = jobsDuring {
      val enc = DedupIndex.encode(corpus, 2, 8, 4)
      val rows = enc.collect()
      (enc.queryExecution.executedPlan.toString, rows)
    }
    assert(rows.nonEmpty)
    assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"), plan)
    // building the frame starts no job of its own (no materialized
    // shingle table or signature), and the collect is a single stage
    assert(stagesPerJob == Seq(1), s"stages per job: $stagesPerJob")
  }
}
