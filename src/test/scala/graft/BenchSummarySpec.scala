package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's headline sums: a failed query reports -1 and must neither
  * lower `total` / `total_min` nor go uncounted. */
class BenchSummarySpec extends AnyFunSuite {

  test("a failed query is left out of the total and named") {
    val medians = Map("q_a" -> 1.5, "q_b" -> -1.0, "q_c" -> 0.25)
    val (total, failed) = Bench.summed(medians)
    assert(total == 1.75)
    assert(failed == Seq("q_b"))
    assert(failed.size == 1)
  }

  test("no failure: the total is the plain sum") {
    val (total, failed) = Bench.summed(Map("q_a" -> 2.0, "q_c" -> 0.5))
    assert(total == 2.5)
    assert(failed.isEmpty)
    assert(Bench.summed(Map.empty) == ((0.0, Nil)))
  }
}
