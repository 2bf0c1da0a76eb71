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
}
