package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** A measured pass: wall time, its calls, and (when traced) the Spark jobs
  * and streaming triggers the listener attributed to it.
  */
final case class PassRec(id: Long, traced: Boolean, startMs: Double, wallS: Double,
                         cpuS: Double, jitS: Double, gcS: Double, retainedHeapBytes: Long,
                         calls: Seq[CallRec], jobs: Seq[JobRec], triggers: Seq[TriggerRec]) {
  def endMs: Double = startMs + wallS * 1000.0
}

/** Benchmark harness: one JVM, `local[4]`, one caller thread, closed loop
  * (a pass's next call starts only when the previous one returned).
  *
  * {{{
  * perfbench.PerfBench --workload W --seed N --seconds S --trace 0|1 --out FILE
  *                     [--spans FILE] [--context k=v]...
  * perfbench.PerfBench --inputs-only --workload W --seed N
  * perfbench.PerfBench --list-metrics --trace 0|1
  * perfbench.PerfBench --self-check
  * }}}
  */
object PerfBench {

  val Cores = 4

  /** End-to-end metrics, reported by untraced runs. A pass is measured in
    * CPU seconds of the JVM, not in wall time: when other load slows the
    * host down, wall time spreads from run to run about twice as much as
    * the CPU time of the same work. CPU time does not see waiting (job
    * scheduling, trigger intervals) nor work moved onto idle cores; wall
    * times are in every record and in the per-layer `pass_s` and
    * `records_per_s`.
    */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_cpu_s" -> "s")

  private val Operators = Seq("pagerank", "louvain", "betweenness")
  private val Harnesses = Seq("replay_cc", "dedup_ingest")

  /** Per-layer metrics, reported by traced runs. */
  val PerLayer: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_s" -> "s", "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
      "spark.busy_frac" -> "ratio", "spark.job_gap_s" -> "s", "jvm.gc_s" -> "s",
      "jvm.jit_s" -> "s", "jvm.retained_heap_mb" -> "MB") ++
    Operators.flatMap(o => Seq(s"operators.$o.s" -> "s", s"operators.$o.jobs" -> "count",
      s"operators.$o.shuffle_mb" -> "MB")) ++
    Seq("graphstream.degrees.s" -> "s", "graphstream.slice_fold.s" -> "s") ++
    Harnesses.flatMap(h => Seq(s"streaming.$h.s" -> "s", s"streaming.$h.triggers" -> "count")) ++
    Seq("streaming.trigger.add_batch_ms" -> "ms", "streaming.trigger.query_planning_ms" -> "ms",
      "streaming.trigger.wal_commit_ms" -> "ms", "streaming.trigger.commit_offsets_ms" -> "ms",
      "streaming.state.commit_ms" -> "ms", "streaming.state.rows" -> "count",
      "streaming.state.memory_mb" -> "MB", "streaming.harness_overhead_s" -> "s",
      "streaming.ckpt_leak_mb" -> "MB",
      "sources.compact.s" -> "s", "sources.index_files_before_compact" -> "count",
      "sources.index_files_after_compact" -> "count", "functions.dedup_index_save.s" -> "s",
      "trigger_p50_ms" -> "ms", "trigger_p95_ms" -> "ms", "trigger_count" -> "count",
      "failed_frac" -> "ratio",
      "pass_s" -> "s", "records_per_s" -> "1/s",
      "pass.p25_s" -> "s", "pass.p75_s" -> "s", "pass.count" -> "count",
      "trace.overhead_frac" -> "ratio")

  /** Warm-up passes, counted in `setup_s`. The first pass in a JVM runs
    * two to three times slower than later ones (class loading, code
    * generation, JIT); the second runs within about 10% of the third on
    * both workloads. The count is fixed, not decided by a timing, so that
    * every run measures the same pass of its JVM. A traced run warms up one
    * pass more, so that its traced and untraced passes are both past that
    * drift and their difference is the tracing overhead.
    */
  private val WarmupPasses = 1

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = opts.get("trace").contains("1")
    if (opts.contains("list-metrics")) {
      (if (trace) PerLayer else EndToEnd).foreach { case (n, u) => println(s"$n\t$u") }
      return
    }
    if (opts.contains("self-check")) {
      println(Json.obj(Verdict.scenarios(): _*))
      return
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    if (opts.contains("inputs-only")) {
      println(Json.obj("workload" -> workload, "seed" -> seed,
        "input_checksum" -> Workload(workload, null, seed).makeInputs()))
      return
    }
    val code = run(workload, seed, opt("seconds").toDouble, trace, Paths.get(opt("out")),
      opts.get("spans").map(Paths.get(_)), opts.collect {
        case (k, v) if k.startsWith("context.") => k.stripPrefix("context.") -> v
      })
    System.exit(code)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "inputs-only" || k == "list-metrics" || k == "self-check") { m(k) = "1"; i += 1 }
      else if (k == "context") {
        val Array(ck, cv) = args(i + 1).split("=", 2)
        m("context." + ck) = cv; i += 2
      } else { m(k) = args(i + 1); i += 2 }
    }
    m.toMap
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** CPU time of every thread of this JVM (driver, executor tasks, JIT, GC).
    * Unlike wall time it does not grow when the host takes CPU away from
    * this machine (steal).
    */
  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal, total) jiffies of all CPUs, from /proc/stat; zeros elsewhere. */
  private def stealJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.take(8).sum)
      } finally f.close()
    } catch { case _: Exception => (0L, 0L) }

  /** Time the JIT compiler threads spent compiling, summed over threads. */
  private def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val iv = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Checkpoint directories the streaming harnesses leave in /dev/shm. */
  private def replayDirs(): Map[String, Long] = {
    val shm = new java.io.File("/dev/shm")
    Option(shm.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft-replay-"))
      .map(f => f.getName -> sizeOf(f.toPath)).toMap
  }

  private def sizeOf(p: Path): Long =
    try {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    } catch { case _: java.io.IOException => 0L }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, out: Path,
          spansOut: Option[Path], context: Map[String, String]): Int = {
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val startedAt = java.time.Instant.now().toString
    val shmBefore = replayDirs().keySet
    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9

    val spark = GraftSession.local(Cores, "perfbench")
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    val sessionS = since(t0)
    val ctx = new Ctx(spark)
    try {
      val wl = Workload(workload, spark, seed)
      // several set-ups, median reported: input generation is repeated;
      // session start and warm-up happen once per JVM
      val gens = (1 to 3).map { _ =>
        val t = System.nanoTime(); val sum = wl.generate(); (since(t), sum)
      }
      require(gens.map(_._2).distinct.size == 1, "input generation is not deterministic")
      val inputChecksum = gens.head._2

      val verdict = new Verdict
      var passFailed = false
      def runPass(traced: Boolean, measured: Boolean): PassRec = {
        ctx.calls.clear()
        ctx.traced = traced
        probe.active = traced
        val gc0 = gcSeconds()
        val cpu0 = cpuSeconds()
        val jit0 = jitSeconds()
        val startMs = System.currentTimeMillis().toDouble
        val t = System.nanoTime()
        try wl.pass(ctx) catch {
          case e: Throwable =>
            passFailed = true
            log(s"pass failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val wall = since(t)
        val cpu = cpuSeconds() - cpu0
        val jit = jitSeconds() - jit0
        val gc = gcSeconds() - gc0
        probe.active = false
        val (jobs, triggers) = if (traced) probe.drain(sc) else (Nil, Nil)
        val calls = ctx.calls.toList
        verdict.record(calls, measured)
        // passes are independent: release blocks the operators pinned, and
        // let the context cleaner reap dead shuffles before the next pass
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
        System.gc()
        val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        PassRec(ctx.nextId(), traced, startMs, wall, cpu, jit, gc, retained, calls, jobs, triggers)
      }

      val tw = System.nanoTime()
      val nWarm = WarmupPasses + (if (trace) 1 else 0)
      val warm = (1 to nWarm).map(_ => runPass(traced = false, measured = false).wallS)
      val warmS = since(tw)
      val setupS = sessionS + median(gens.map(_._1)) + warmS
      log(f"setup ${setupS}%.2f s (session $sessionS%.2f, warm-up ${warm.size} passes $warmS%.2f)")

      val steal0 = stealJiffies()
      val tm = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[PassRec]
      def need = since(tm) < seconds ||
        (trace && (!passes.exists(_.traced) || !passes.exists(!_.traced)))
      while (need) passes += runPass(traced = trace && passes.size % 2 == 0, measured = true)

      val steal1 = stealJiffies()
      val stealFrac = (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)
      val failures = mutable.ArrayBuffer.empty[String]
      if (passFailed) failures += "a warm-up or measured pass failed"
      failures ++= verdict.failures
      failures ++= (try wl.check(ctx) catch {
        case e: Throwable => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      })
      failures.foreach(f => log(s"CHECK FAILED: $f"))

      val shmAfter = replayDirs()
      val leakMb = shmAfter.filter { case (k, _) => !shmBefore(k) }.values.sum / 1e6

      val untraced = passes.filterNot(_.traced)
      val walls = passes.map(_.wallS).toSeq
      def recordsPerS(p: PassRec): Double = {
        val cs = p.calls.filter(_.records > 0)
        cs.map(_.records).sum / math.max(1e-9, cs.map(_.wallS).sum)
      }
      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          val v = Map("setup_s" -> setupS, "pass_cpu_s" -> median(passes.map(_.cpuS).toSeq))
          EndToEnd.map { case (n, u) => (n, v(n), u) }
        } else {
          val v = layerMetrics(passes.filter(_.traced).toSeq, untraced.toSeq) ++
            wl.counters ++ Map(
              "streaming.ckpt_leak_mb" -> leakMb,
              "pass_s" -> median(walls), "records_per_s" -> median(passes.map(recordsPerS).toSeq),
              "jvm.retained_heap_mb" -> passes.map(_.retainedHeapBytes).max / 1e6,
              "failed_frac" -> verdict.failed.toDouble / math.max(1L, verdict.attempted))
          val unknown = v.keySet -- PerLayer.map(_._1)
          require(unknown.isEmpty, s"metrics missing from the per-layer table: $unknown")
          PerLayer.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
        }

      spansOut.foreach(p => writeSpans(p, workload, seed, passes.toSeq))
      val loadEnd = os.getSystemLoadAverage
      val record = Json.obj(
        "correct" -> failures.isEmpty,
        "attempted" -> verdict.attempted,
        "failed" -> verdict.failed,
        "metrics" -> Json.Raw(metrics.map { case (n, v, u) =>
          Json.str(n) + ":" + Json.obj("value" -> v, "unit" -> u) }.mkString("{", ",", "}")),
        "failures" -> Json.Raw(failures.map(Json.str).mkString("[", ",", "]")),
        "passes" -> Json.Raw(passes.map(p => Json.obj("wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
          "jit_s" -> p.jitS, "traced" -> p.traced,
          "retained_heap_mb" -> p.retainedHeapBytes / 1e6)).mkString("[", ",", "]")),
        "pass_quartiles_s" -> Json.Raw(Seq(0.25, 0.5, 0.75).map(q => quantile(walls.toSeq, q))
          .mkString("[", ",", "]")),
        "warmup_passes_s" -> Json.Raw(warm.mkString("[", ",", "]")),
        "call_median_s" -> Json.Raw(Json.obj(passes.flatMap(_.calls).groupBy(_.name).toSeq
          .sortBy(_._1).map { case (n, cs) => n -> median(cs.map(_.wallS).toSeq) }: _*)),
        "context" -> Json.Raw(Json.obj((Seq[(String, Any)](
          "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
          "cpus" -> Runtime.getRuntime.availableProcessors, "spark_local_cores" -> Cores,
          "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
          "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
          "started_at" -> startedAt, "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
          "input_checksum" -> inputChecksum, "setup_session_s" -> sessionS,
          "setup_warmup_s" -> warmS, "host_steal_frac" -> stealFrac, "ckpt_leak_mb" -> leakMb) ++ context.toSeq): _*)))
      Files.createDirectories(out.toAbsolutePath.getParent)
      Files.writeString(out, record + "\n")
      0
    } catch {
      case e: Throwable =>
        log(s"run aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        2
    } finally spark.stop()
  }

  /** Per-layer values: medians over traced passes of per-pass totals, and
    * percentiles over every trigger of the traced passes.
    */
  private def layerMetrics(traced: Seq[PassRec], untraced: Seq[PassRec]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def perPass(name: String)(f: PassRec => Double): Unit = m(name) = median(traced.map(f))
    val mb = 1e6
    perPass("spark.jobs")(_.jobs.size)
    perPass("spark.stages")(_.jobs.map(_.stages).sum)
    perPass("spark.tasks")(_.jobs.map(_.tasks).sum)
    perPass("spark.task_s")(_.jobs.map(_.taskMs).sum / 1000.0)
    perPass("spark.shuffle_read_mb")(_.jobs.map(_.shuffleReadBytes).sum / mb)
    perPass("spark.shuffle_write_mb")(_.jobs.map(_.shuffleWriteBytes).sum / mb)
    perPass("spark.busy_frac")(p => p.jobs.map(_.taskMs).sum / 1000.0 / (p.wallS * Cores))
    perPass("spark.job_gap_s")(p => p.wallS - covered(jobIntervals(p.jobs), p.startMs, p.endMs) / 1000.0)
    perPass("jvm.gc_s")(_.gcS)
    perPass("jvm.jit_s")(_.jitS)

    def callsNamed(p: PassRec, name: String) = p.calls.filter(_.name == name)
    def jobsOf(p: PassRec, c: CallRec) = p.jobs.filter(_.call == c.id)
    def triggersOf(p: PassRec, c: CallRec) =
      p.triggers.filter(t => t.startMs >= c.startMs && t.startMs <= c.endMs)
    val names = traced.flatMap(_.calls.map(_.name)).distinct
    names.foreach { n =>
      perPass(s"$n.s")(p => callsNamed(p, n).map(_.wallS).sum)
      if (n.startsWith("operators.")) {
        perPass(s"$n.jobs")(p => callsNamed(p, n).map(jobsOf(p, _).size).sum)
        perPass(s"$n.shuffle_mb")(p =>
          callsNamed(p, n).flatMap(jobsOf(p, _)).map(_.shuffleWriteBytes).sum / mb)
      }
      if (n.startsWith("streaming."))
        perPass(s"$n.triggers")(p => callsNamed(p, n).map(triggersOf(p, _).size).sum)
    }
    val triggers = traced.flatMap(_.triggers)
    if (triggers.nonEmpty) {
      val ms = triggers.map(_.triggerMs.toDouble)
      m("trigger_p50_ms") = quantile(ms, 0.5)
      m("trigger_p95_ms") = quantile(ms, 0.95)
      m("trigger_count") = triggers.size
      Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms").foreach {
        case (k, n) => m(s"streaming.trigger.$n") = median(triggers.map(_.durations(k).toDouble))
      }
      val stateful = triggers.filter(_.stateRows > 0)
      m("streaming.state.commit_ms") = median(stateful.map(_.stateCommitMs.toDouble))
      perPass("streaming.state.rows")(p => p.triggers.map(_.stateRows).maxOption.getOrElse(0L).toDouble)
      perPass("streaming.state.memory_mb")(p =>
        p.triggers.map(_.stateMemBytes).maxOption.getOrElse(0L) / mb)
      perPass("streaming.harness_overhead_s")(p =>
        p.calls.filter(_.name.startsWith("streaming.")).map { c =>
          c.wallS - triggersOf(p, c).map(_.triggerMs).sum / 1000.0
        }.sum)
    }
    val all = traced ++ untraced
    m("pass.p25_s") = quantile(all.map(_.wallS), 0.25)
    m("pass.p75_s") = quantile(all.map(_.wallS), 0.75)
    m("pass.count") = all.size
    m("trace.overhead_frac") = median(traced.map(_.wallS)) / median(untraced.map(_.wallS)) - 1.0
    m.toMap
  }

  private def jobIntervals(jobs: Seq[JobRec]): Seq[(Double, Double)] =
    jobs.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble))

  /** Writes the span tree (workload → pass → call → job | trigger) as JSON
    * lines. A call span carries its self time: its duration minus the part
    * covered by its jobs.
    */
  private def writeSpans(path: Path, workload: String, seed: Long,
                         passes: Seq[PassRec]): Unit = {
    val spans = mutable.ArrayBuffer.empty[Span]
    val rootStart = passes.headOption.map(_.startMs).getOrElse(0.0)
    val rootEnd = passes.lastOption.map(_.endMs).getOrElse(0.0)
    spans += Span(0L, -1L, "workload", workload, rootStart, rootEnd, Map("seed" -> seed.toDouble))
    passes.foreach { p =>
      spans += Span(p.id, 0L, "pass", "pass", p.startMs, p.endMs,
        Map("traced" -> (if (p.traced) 1.0 else 0.0)))
      p.calls.foreach { c =>
        val js = p.jobs.filter(_.call == c.id)
        val busy = covered(jobIntervals(js), c.startMs, c.endMs) / 1000.0
        spans += Span(c.id, p.id, "call", c.name, c.startMs, c.endMs,
          Map("self_s" -> (c.wallS - busy), "jobs" -> js.size.toDouble))
      }
      p.jobs.foreach { j =>
        spans += Span(1000000000L + j.id, if (j.call >= 0) j.call else p.id, "job", s"job ${j.id}",
          j.startMs.toDouble, j.endMs.toDouble, Map("stages" -> j.stages.toDouble,
            "tasks" -> j.tasks.toDouble, "task_s" -> j.taskMs / 1000.0,
            "shuffle_write_mb" -> j.shuffleWriteBytes / 1e6))
      }
      p.triggers.zipWithIndex.foreach { case (t, i) =>
        val parent = p.calls.find(c => t.startMs >= c.startMs && t.startMs <= c.endMs)
          .map(_.id).getOrElse(p.id)
        spans += Span(2000000000L + p.id * 10000L + i, parent, "trigger", "trigger",
          t.startMs.toDouble, (t.startMs + t.triggerMs).toDouble,
          t.durations.map { case (k, v) => k -> v.toDouble } ++
            Map("rows" -> t.rows.toDouble, "state_commit_ms" -> t.stateCommitMs.toDouble))
      }
    }
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, spans.map { s =>
      Json.obj(Seq[(String, Any)]("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs.toSeq: _*)
    }.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON encoding for the result record and the span file. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
