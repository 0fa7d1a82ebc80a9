package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail level: the highest ladder percentile with at least ten samples beyond it") {
    assert(Stats.tailLevel(19).isEmpty)
    assert(Stats.tailLevel(20).contains(0.50))
    assert(Stats.tailLevel(40).contains(0.75))
    assert(Stats.tailLevel(99).contains(0.75))
    assert(Stats.tailLevel(100).contains(0.90))
    assert(Stats.tailLevel(200).contains(0.95))
    assert(Stats.tailLevel(1000).contains(0.99))
    assert(Stats.tailLevel(10000).contains(0.999))
  }

  test("samples beyond a percentile follow the nearest-rank rule") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.90) == 90.0)
    assert(xs.count(_ > Stats.percentile(xs, 0.90)) == Stats.beyond(100, 0.90))
    assert(Stats.beyond(100, 0.90) == 10)
  }

  test("median averages the two middle values at even sizes") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("the multiset hash ignores row order and sees multiplicity") {
    val rows = Seq("a", "b", "c", "b")
    assert(Stats.multisetHash(rows.iterator) == Stats.multisetHash(rows.reverse.iterator))
    assert(Stats.multisetHash(rows.iterator) != Stats.multisetHash(rows.distinct.iterator))
  }

  test("canonical doubles drop aggregation-order noise in the last bits") {
    assert(Stats.canonical(0.1 + 0.2) == Stats.canonical(0.3))
    assert(Stats.canonical(1.5e-7) != Stats.canonical(1.6e-7))
    assert(Stats.canonical(null) == Stats.canonical(null))
  }
}
