package graft

import org.scalatest.funsuite.AnyFunSuite

/** The size cut of Bench's one stdout line. */
class BenchSpec extends AnyFunSuite {
  test("the stdout budget cut stops at the first entry that does not fit") {
    // "aaaa" fits (0 + 4 + 1 <= 10); "bbbbbbbb" needs 4 + 8 + 1 = 13 > 10,
    // and the cut stops there although "c" (4 + 1 + 1 = 6) would fit
    assert(Bench.budgetPrefix(Seq("aaaa", "bbbbbbbb", "c"), 10) == (("aaaa", 1)))
    assert(Bench.budgetPrefix(Seq("ab", "cd"), 7) == (("ab,cd", 2)))
    assert(Bench.budgetPrefix(Seq("abcdef"), 6) == (("", 0)))
    assert(Bench.budgetPrefix(Nil, 6) == (("", 0)))
  }
}
