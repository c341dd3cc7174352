package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's compact tail line: the five headline names always survive
  * the length guard, and a guard that drops timed entries says so. */
class BenchSpec extends AnyFunSuite {

  private val results = (1 to 8).map(i => f"q0${i}_entry_with_a_long_name" -> i * 0.25)
  private val names = results.map(_._1)

  test("a line that fits carries every name and no truncated field") {
    val line = Bench.tailLine(results, Seq("x"), "/sf", names)
    assert(line == """{"metric":"total","value":9.000,"unit":"sec","queries":{""" +
      names.zip(Seq("0.25", "0.5", "0.75", "1", "1.25", "1.5", "1.75", "2"))
        .map { case (n, v) => s""""$n":$v""" }.mkString(",") +
      """},"n_queries":8,"failed":["x"],"detail":"bench_last.json","sf":"/sf"}""")
  }

  test("the length guard drops names from the end and counts them") {
    val full = Bench.tailLine(results, Nil, "/sf", names)
    val line = Bench.tailLine(results, Nil, "/sf", names, maxChars = full.length - 40)
    assert(line.length <= full.length - 40)
    assert(line.contains(""""truncated":2,"""), line)
    assert(names.take(6).forall(line.contains) && !names.drop(6).exists(line.contains), line)
    // never below the first five, even when the line cannot fit
    val tight = Bench.tailLine(results, Nil, "/sf", names, maxChars = 10)
    assert(tight.contains(""""truncated":3,""") && names.take(5).forall(tight.contains), tight)
    // names without a result are not counted as truncated
    val absent = Bench.tailLine(results.take(5), Nil, "/sf", names, maxChars = 10)
    assert(!absent.contains("truncated"), absent)
  }
}
