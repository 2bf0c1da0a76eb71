package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** One span of the trace tree: workload → pass → call → job | trigger.
  * Times are epoch milliseconds (the clock Spark's listener events use).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty)

/** A Spark job as the listener saw it, attributed to the call span whose
  * id was in the `perfbench.call` local property when the job started.
  */
final class JobRec(val id: Int, val call: Long, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
}

/** One streaming trigger (a `QueryProgressEvent` with input rows). */
final case class TriggerRec(startMs: Long, triggerMs: Long, rows: Long,
                            durations: Map[String, Long], stateCommitMs: Long,
                            stateRows: Long, stateMemBytes: Long)

/** The benchmark's own listener. It reads streaming progress from the
  * listener bus (`onOtherEvent`), so it also sees queries started on
  * cloned sessions, which a `spark.streams` listener of the caller's
  * session never hears about. Inactive between traced passes: events
  * that arrive then are dropped.
  */
final class Probe extends SparkListener {
  @volatile var active = false
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val triggers = mutable.ArrayBuffer.empty[TriggerRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    val call = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.CallKey)))
      .map(_.toLong).getOrElse(-1L)
    val j = new JobRec(e.jobId, call, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent if active && p.progress.numInputRows > 0 => synchronized {
      val pr = p.progress
      val d = pr.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val ops = pr.stateOperators.toSeq
      triggers += TriggerRec(
        startMs = java.time.Instant.parse(pr.timestamp).toEpochMilli,
        triggerMs = dur("triggerExecution"),
        rows = pr.numInputRows,
        durations = Probe.TriggerParts.map(k => k -> dur(k)).toMap,
        stateCommitMs = ops.map(_.commitTimeMs).sum,
        stateRows = ops.map(_.numRowsTotal).sum,
        stateMemBytes = ops.map(_.memoryUsedBytes).sum)
    }
    case _ =>
  }

  /** Hands over everything recorded since the last drain. */
  def drain(sc: SparkContext): (Seq[JobRec], Seq[TriggerRec]) = {
    org.apache.spark.perfbench.Bus.waitUntilEmpty(sc)
    synchronized {
      val out = (jobs.values.toSeq, triggers.toSeq)
      jobs.clear(); stageJob.clear(); triggers.clear()
      out
    }
  }
}

object Probe {
  /** Local property that tags every job with the call span issuing it. */
  val CallKey = "perfbench.call"
  /** The `durationMs` entries reported per trigger. */
  val TriggerParts = Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets",
    "latestOffset", "getBatch")
}
