package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 91) == 10.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(40) == 75)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(1000) == 99)
    assert(Stats.tailPercentile(41) == 75) // p76 ranks 32nd: 9 beyond
    for (n <- 20 to 2000; p = Stats.tailPercentile(n) if p > 50) {
      assert(n - Stats.rank(n, p) >= 10, s"n=$n p=$p")
      if (p < 99) assert(n - Stats.rank(n, p + 1) < 10, s"n=$n p=$p is not the highest")
    }
  }

  test("under twenty samples the tail is the median") {
    Seq(1, 5, 10, 19).foreach(n => assert(Stats.tailPercentile(n) == 50))
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == ((75, 30.0)))
  }
}
