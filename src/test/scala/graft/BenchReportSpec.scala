package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.json.Js

/** `Bench.report`: the artifact line keeps unrounded timings and the
  * compact stdout line flags truncation only when it truncated.
  */
class BenchReportSpec extends AnyFunSuite {
  private val times = Map("q_a" -> 0.12345678, "q_b" -> 1.0000049,
    "q_c" -> 2.3333333333)

  test("the artifact keeps full doubles, so value is the sum of queries") {
    val (full, compact) = Bench.report(times, times.map { case (k, v) =>
      k -> v * 2 }, Nil, Nil, filtered = false, "sf")
    val a = Js.parse(full)
    val qs = Js.fields(a.get("queries")).map(_._2.asDouble())
    assert(qs.toSet == times.values.toSet)
    assert(a.get("value").asDouble() == qs.sum)
    assert(a.get("value_min").asDouble() == qs.sum)
    assert(Js.parse(compact).get("queries").get("q_a").asDouble() == 0.123)
  }

  test("queries_partial appears only when the compact map was cut") {
    val small = Js.parse(
      Bench.report(times, times, Nil, Nil, filtered = false, "sf")._2)
    assert(!small.has("queries_partial"))
    assert(small.get("queries").size() == times.size)
    val many = (1 to 300).map(i => f"q_long_query_name_$i%03d" -> i / 100.0)
      .toMap
    val line = Bench.report(many, many, Nil, Nil, filtered = false, "sf")._2
    val cut = Js.parse(line)
    assert(cut.get("queries_partial").asBoolean())
    assert(cut.get("queries").size() < many.size)
    assert(line.length <= 2000)
  }
}
