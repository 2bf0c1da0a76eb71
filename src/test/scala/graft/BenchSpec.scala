package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("compact summary line fits the stdout tail with 265 failed queries") {
    val names = (1 to 265).map(i => f"q$i%03d_synthetic_failure")
    val kept = ""","kept_floor":645.2,"kept_floor_note":"canonical BENCH_SIDECAR.json keeps the faster same-set run""""
    val line = Bench.compactLine(877.5, 32, 265, names.reverse,
      "/root/testdata/sf0.1", kept)
    assert(line.getBytes("UTF-8").length <= 1500, line)
    val j = new ObjectMapper().readTree(line)
    assert(j.get("value").asDouble == 877.5)
    assert(j.get("n_queries").asInt == 265)
    assert(j.get("cpus").asInt == 32)
    assert(j.get("n_failed").asInt == 265)
    assert(j.get("failed_truncated").asBoolean)
    val shown = (0 until j.get("failed").size).map(j.get("failed").get(_).asText)
    assert(shown.nonEmpty && shown == names.take(shown.size))

    // under the budget the whole list is kept and no cut is marked
    val few = Bench.compactLine(1.5, 8, 2, Seq("q02", "q01"), "sf", "")
    val f = new ObjectMapper().readTree(few)
    assert(f.get("failed").toString == """["q01","q02"]""")
    assert(!f.has("failed_truncated"))
  }

  test("a full line with per-query layers parses back to its total, query names, sf and cpus") {
    val results = (1 to 265).map(i => QueryRun.Result(f"q$i%03d_synthetic", i / 64.0, None,
      Layers(i % 5 + 1, i % 7 + 1, 4L * i, i / 10.0, i / 3.0, i / 7.0, Seq.fill(i % 5 + 1)(1),
        compiles = 3L * i)))
    val total = results.map(_.seconds).sum
    val sf = "/root/testdata/sf0.1"
    val line = Bench.fullLine(total, 32, results, Seq("q007_synthetic"), sf, "")
    assert(Bench.parsePrev(line) == Some((total, results.map(_.name).toSet, sf, Some("32"))))
    val j = new ObjectMapper().readTree(line)
    assert(j.get("queries").size == 265 && j.get("layers").size == 265)
    val q2 = j.get("layers").get("q002_synthetic")
    assert(q2.get("jobs").asInt == 3 && q2.get("stages").asInt == 3 && q2.get("tasks").asInt == 8)
    assert(q2.get("task_s").asDouble == 0.2 && q2.get("shuffle_read_mb").asDouble == 0.667)
    assert(q2.get("shuffle_write_mb").asDouble == 0.286)
    assert(q2.get("compiles").asLong == 6)
  }
}
