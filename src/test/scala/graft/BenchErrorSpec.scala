package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench error honesty (r9 VERDICT): a query that throws must surface in
  * the JSON's `errors` map instead of silently reading as a ~0 s success. */
class BenchErrorSpec extends AnyFunSuite {

  test("timeOne records the error and still returns the elapsed wall") {
    val (okSec, okErr) = Bench.timeOne(() => ())
    assert(okErr.isEmpty && okSec >= 0)
    val (sec, err) = Bench.timeOne(() =>
      throw new IllegalStateException("boom  with\nnewline"))
    assert(sec >= 0)
    assert(err.contains("IllegalStateException: boom with newline"),
      s"got $err")
  }

  test("describe truncates and flattens whitespace; null message tolerated") {
    val long = Bench.describe(new RuntimeException("x" * 500))
    assert(long.length <= "RuntimeException: ".length + 160)
    assert(Bench.describe(new RuntimeException(null: String)) ==
      "RuntimeException: ")
  }

  test("errorsJson round-trips quotes/backslashes/controls through a real parser") {
    val raw = "he said \"a\\b\"\tdone"
    val json = Bench.errorsJson(scala.collection.Map("q1" -> raw))
    val node = graft.delta.ActionCodec.mapper.readTree(json)
    assert(node.get("q1").asText == raw)
    assert(Bench.errorsJson(scala.collection.Map.empty) == "{}")
  }

  private val noCommits = Map.empty[String, Long]

  test("wallMin takes the min over clean samples and never picks a crash") {
    val s1 = (Map("qa" -> 5.0, "qb" -> 0.01, "qc" -> 1.0),
              Map("qb" -> "boom"),             // qb crashed in sweep 1 (~0 s)
              noCommits)
    val s2 = (Map("qa" -> 1.2, "qb" -> 2.0, "qc" -> 0.9),
              Map.empty[String, String], noCommits)
    val mins = Bench.wallMin(Seq(s1, s2))
    assert(mins("qa") == 1.2)                   // genuine min across sweeps
    assert(mins("qb") == 2.0)                   // crash sample excluded
    assert(mins("qc") == 0.9)
  }

  test("wallMin falls back to the recorded wall when every sample errored") {
    val s1 = (Map("qa" -> 0.02), Map("qa" -> "boom1"), noCommits)
    val s2 = (Map("qa" -> 0.03), Map("qa" -> "boom2"), noCommits)
    assert(Bench.wallMin(Seq(s1, s2))("qa") == 0.02)
  }

  test("wallMin never picks a sweep that skipped the query's committed work") {
    // r17 verdict: memoized lifecycle gates commit only in sweep 0; the
    // later sweep's memo-hit wall is a lookup, not the query. Only sweeps
    // matching the MAX commit count count as samples of the real cost.
    val s1 = (Map("q_gate" -> 71.5, "q_plain" -> 2.0),
              Map.empty[String, String],
              Map("q_gate" -> 34L))
    val s2 = (Map("q_gate" -> 0.13, "q_plain" -> 1.5),
              Map.empty[String, String],
              noCommits)                        // memo hit: zero commits
    val mins = Bench.wallMin(Seq(s1, s2))
    assert(mins("q_gate") == 71.5)              // the sweep that paid
    assert(mins("q_plain") == 1.5)              // stateless: genuine min
  }

  test("wallMin ranks commit counts over clean sweeps only") {
    // an errored sweep that committed more than any healthy one must not
    // empty the clean set and hand back its own crashed wall
    val crashed = (Map("q" -> 0.01), Map("q" -> "boom"), Map("q" -> 9L))
    val healthy = (Map("q" -> 3.0), Map.empty[String, String], Map("q" -> 4L))
    assert(Bench.wallMin(Seq(crashed, healthy))("q") == 3.0)
    assert(Bench.wallMin(Seq(healthy, crashed))("q") == 3.0)
  }
}
