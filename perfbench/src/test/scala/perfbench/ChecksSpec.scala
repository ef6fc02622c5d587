package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private val good = Map("q_a" -> Checks.Expected("123", 10, hashStable = true),
    "q_b" -> Checks.Expected("456", 5, hashStable = false))

  test("a matching result passes") {
    assert(Checks.query("q_a", "123", 10, good).isEmpty)
  }

  test("a corrupted expected hash is a failure") {
    val corrupted = good.updated("q_a", good("q_a").copy(hash = "124"))
    assert(Checks.query("q_a", "123", 10, corrupted).exists(_.contains("hash")))
  }

  test("a query whose hash does not repeat is still checked by row count") {
    assert(Checks.query("q_b", "999", 5, good).isEmpty)
    assert(Checks.query("q_b", "999", 6, good).exists(_.contains("rows")))
  }

  test("a query with no expected result is a failure, not a skip") {
    assert(Checks.query("q_c", "1", 1, good).isDefined)
  }

  // incremental run: 6 new ids and 2 seed contacts; the lake holds 126
  test("an O(delta) incremental run passes") {
    assert(Checks.oDelta(universe = 8, deltaRows = 8, newIds = 6, seeds = 2).isEmpty)
  }

  test("a full-universe count in place of the delta fires the O(delta) check") {
    assert(Checks.oDelta(universe = 8, deltaRows = 126, newIds = 6, seeds = 2).isDefined)
  }

  test("a universe that re-reads the lake fires the O(delta) check") {
    assert(Checks.oDelta(universe = 126, deltaRows = 8, newIds = 6, seeds = 2).isDefined)
  }

  test("a scoped merge that reads or rewrites the lake fails") {
    def check(touched: Set[Long], input: Long, untouched: Int) =
      Checks.scopedMerge(touched, deltaBuckets = Set(1L), input, deltaRows = 6, bucketSpan = 64, untouched)
    assert(check(Set(1L), input = 62, untouched = 1).isEmpty)
    assert(check(Set(0L, 1L), input = 62, untouched = 1).isDefined)
    assert(check(Set(1L), input = 126, untouched = 1).isDefined)
    assert(check(Set(1L), input = 62, untouched = 0).isDefined)
  }
}
