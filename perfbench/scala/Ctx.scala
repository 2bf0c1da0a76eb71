package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed call into the program. `startMs` is epoch time (the clock
  * of the listener's job and trigger records); `wallS` is measured with
  * the monotonic clock.
  */
final case class CallRec(id: Long, name: String, startMs: Double, wallS: Double,
                         records: Long, checksum: Long, failed: Boolean) {
  def endMs: Double = startMs + wallS * 1000.0
}

/** Times calls from outside the program. In a traced pass each call also
  * tags the Spark jobs it issues with its span id (a local property,
  * which the streaming query threads inherit from the calling thread).
  */
final class Ctx(val spark: SparkSession) {
  var traced = false
  private var recording = true
  private var lastId = 0L
  val calls = mutable.ArrayBuffer.empty[CallRec]

  def nextId(): Long = { lastId += 1; lastId }

  def call[T](name: String, records: Long)(body: => T)(sum: T => Long): T =
    if (!recording) body
    else {
      val id = nextId()
      val sc = spark.sparkContext
      if (traced) sc.setLocalProperty(Probe.CallKey, id.toString)
      val startMs = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      def wall = (System.nanoTime() - t0) / 1e9
      try {
        val out = body
        val w = wall
        calls += CallRec(id, name, startMs, w, records, sum(out), failed = false)
        out
      } catch {
        case e: Throwable =>
          calls += CallRec(id, name, startMs, wall, records, 0L, failed = true)
          throw e
      } finally if (traced) sc.setLocalProperty(Probe.CallKey, null)
    }

  /** A call whose result is a DataFrame, collected to the driver. */
  def rows(name: String, records: Long)(df: => DataFrame): Array[Row] =
    call(name, records)(df.collect())(a => Inputs.checksum(a.toSeq))

  def unit(name: String, records: Long)(body: => Unit): Unit =
    call(name, records)(body)(_ => 0L)

  /** Runs `body` without recording its calls (correctness checks). */
  def untimed[T](body: => T): T = {
    val prev = recording
    recording = false
    try body finally recording = prev
  }
}
