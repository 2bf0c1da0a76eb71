package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev-only per-query profiler (optimization guide §1: measure first).
  * For each named query: dumps `.explain("formatted")` to
  * `<outDir>/<name>.txt`, then executes it `reps` times against the
  * noop sink recording wall, job/stage/task counts, summed task time
  * and shuffle read/write bytes — the diagnostic that separates
  * shuffle-byte-bound queries from round-latency-bound ones (many tiny
  * jobs). One JSON line per repetition on stdout.
  *
  * Usage: QueryProbe <sfDir> <outDir> <q1,q2,...> [reps]
  * Env:   SPARK_GRAFT_CPUS (default 32),
  *        SPARK_GRAFT_CONF "k=v;;k=v" extra session confs (A/B knob).
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = args.lift(3).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = GraftSession.localBuilder(cpus.toInt)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";;").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => b.config(k, v)
        case Array("") | Array() => () // empty segment (trailing ;;)
        case bad => sys.error(
          s"SPARK_GRAFT_CONF: malformed entry '${bad.mkString("=")}' — expected k=v")
      }
    })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()

    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    val shufR = new java.util.concurrent.atomic.AtomicLong()
    val shufW = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
        taskMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
        shufR.addAndGet(e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    // same warmup as Bench so the first probed query isn't JVM startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[probe] $name explain failed: ${e.getMessage}")
      }
      (1 to reps).foreach { rep =>
        Seq(jobs, stages, tasks, taskMs, shufR, shufW).foreach(_.set(0L))
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name FAILED: ${e.getMessage}")
        }
        val wall = (System.nanoTime() - t0) / 1e9
        // mirror Bench's between-query hygiene
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!SparkEntry.pinnedRddIds(spark).contains(Int.box(id))) rdd.unpersist(false)
        }
        spark.catalog.clearCache()
        System.gc()
        println(f"""{"q":"$name","rep":$rep,"wall":$wall%.2f,"jobs":${jobs.get},""" +
          f""""stages":${stages.get},"tasks":${tasks.get},"taskSec":${taskMs.get / 1e3}%.1f,""" +
          f""""shufReadMB":${shufR.get / 1e6}%.1f,"shufWriteMB":${shufW.get / 1e6}%.1f}""")
      }
    }
    spark.stop()
  }
}
