package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // dev knob (same as Bench): SPARK_GRAFT_ONLY=q54,q55 dumps a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // sorted like Bench: q14/q15 must run adjacently so their shared
    // pinned memo is released right after its second consumer — Map
    // iteration order would leave it resident across arbitrary queries
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(f => f.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries are standalone: drop blocks pinned by localCheckpoint /
      // cache so they can't accumulate heap pressure across the run —
      // EXCEPT cross-query memos (unrecomputable once unpersisted)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!SparkEntry.pinnedRddIds(spark).contains(Int.box(id))) rdd.unpersist(false)
      }
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
