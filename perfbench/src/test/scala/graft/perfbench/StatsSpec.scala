package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail percentile leaves at least ten samples beyond it") {
    val cases = Seq(1 -> 50, 20 -> 50, 39 -> 50, 40 -> 75, 99 -> 75, 100 -> 90,
      999 -> 90, 1000 -> 99, 20000 -> 99)
    cases.foreach { case (n, p) => assert(Stats.tailPercentile(n) == p, s"n=$n") }
    (40 to 5000 by 7).foreach { n =>
      assert(n * (100 - Stats.tailPercentile(n)) >= 1000, s"n=$n")
    }
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble).reverse.toArray
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Array(3.0), 99) == 3.0)
    assert(Stats.median(Seq(9.0, 1.0, 5.0)) == 5.0)
  }
}
