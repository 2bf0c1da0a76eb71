package perfbench

import scala.collection.mutable

/** Tallies the outcome of every call. A call is wrong when it threw or when
  * its output checksum differs from the one the same call gave in the first
  * pass of the run; every wrong call, in a warm-up pass or a measured one,
  * is a failure and makes the run incorrect. `attempted` and `failed` count
  * the calls of the measured passes.
  */
final class Verdict {
  private val reference = mutable.HashMap.empty[String, Long]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def record(calls: Seq[CallRec], measured: Boolean): Unit = calls.foreach { c =>
    val wrong = c.failed || reference.getOrElseUpdate(c.name, c.checksum) != c.checksum
    if (measured) { attempted += 1; if (wrong) failed += 1 }
    if (wrong) failures += s"${c.name}: " +
      (if (c.failed) "threw" else "output differs from the first pass") +
      (if (measured) " (measured pass)" else " (warm-up pass)")
  }

  def correct: Boolean = failures.isEmpty
}

object Verdict {
  /** Scripted runs of one call, for the benchmark's tests: each feeds the
    * tally the checksums of some warm-up and measured passes (`None` is a
    * call that threw) and gives whether the run counts as correct.
    */
  def scenarios(): Seq[(String, Boolean)] = {
    def run(warm: Seq[Option[Long]], measured: Seq[Option[Long]]): Boolean = {
      val v = new Verdict
      def rec(sum: Option[Long]) =
        Seq(CallRec(0L, "op", 0.0, 0.0, 0L, sum.getOrElse(0L), failed = sum.isEmpty))
      warm.foreach(s => v.record(rec(s), measured = false))
      measured.foreach(s => v.record(rec(s), measured = true))
      v.correct
    }
    Seq(
      "same_checksums" -> run(Seq(Some(7L)), Seq(Some(7L), Some(7L))),
      "measured_checksum_differs" -> run(Seq(Some(7L)), Seq(Some(7L), Some(8L))),
      "warmup_checksum_differs" -> run(Seq(Some(7L), Some(8L)), Seq(Some(8L))),
      "measured_call_threw" -> run(Seq(Some(7L)), Seq(None)),
      "warmup_call_threw" -> run(Seq(None), Seq(Some(7L))))
  }
}
