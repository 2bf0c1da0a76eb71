package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.BusBridge

/** What the Spark jobs of one measured block did: job count, completed
  * stages, their tasks, summed task run time and shuffle bytes, the
  * completed-stage count of each job in start order, and the Janino
  * compiles (codegen cache misses) during the block. The compile counter
  * is JVM-global: it also counts what other threads compiled meanwhile,
  * labelled or not.
  */
final case class Layers(jobs: Int, stages: Int, tasks: Long, taskS: Double,
                        shuffleReadMb: Double, shuffleWriteMb: Double,
                        stagesPerJob: Seq[Int], compiles: Long)

/** Records the Spark jobs that start while the local property
  * [[RunRecorder.Key]] holds `label`. Stages are attributed to the job
  * that listed them at its start, keyed by stage id, so a stage that
  * completes late still counts against its own block.
  */
final class RunRecorder private (label: String) extends SparkListener {
  private val stagesPerJob = mutable.LinkedHashMap.empty[Int, Int]
  private val jobOfStage = mutable.HashMap.empty[Int, Int]
  private var tasks, taskMs, readBytes, writeBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(p => p.getProperty(RunRecorder.Key) == label)) synchronized {
      stagesPerJob(e.jobId) = 0
      e.stageIds.foreach(jobOfStage(_) = e.jobId)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOfStage.get(e.stageInfo.stageId).foreach { j =>
      stagesPerJob(j) += 1
      val m = e.stageInfo.taskMetrics
      tasks += e.stageInfo.numTasks
      taskMs += m.executorRunTime
      readBytes += m.shuffleReadMetrics.totalBytesRead
      writeBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  private def layers(compiles: Long): Layers = synchronized {
    val perJob = stagesPerJob.values.toVector
    Layers(perJob.size, perJob.sum, tasks, taskMs / 1e3, readBytes / 1e6, writeBytes / 1e6,
      perJob, compiles)
  }
}

object RunRecorder {
  /** The local property that labels a job with the block that issued
    * it. Spark copies local properties to the threads a query starts
    * (broadcasts, AQE query stages, streaming execution), so their jobs
    * carry the label too. Code that sets local properties of its own
    * must leave this one in place.
    */
  val Key = "graft.run"

  /** Janino compiles in this JVM so far: one per codegen cache miss. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `f` with its jobs labelled `label` and returns its result with
    * the [[Layers]] of those jobs. The previous label is restored after
    * `f`, and the listener bus is drained before the totals are read.
    */
  def measure[A](spark: SparkSession, label: String)(f: => A): (A, Layers) = {
    val sc = spark.sparkContext
    val rec = new RunRecorder(label)
    sc.addSparkListener(rec)
    val prev = sc.getLocalProperty(Key)
    try {
      sc.setLocalProperty(Key, label)
      val c0 = compiles
      val a = try f finally sc.setLocalProperty(Key, prev)
      val compiled = compiles - c0
      BusBridge.waitUntilEmpty(sc)
      (a, rec.layers(compiled))
    } finally sc.removeSparkListener(rec)
  }
}
