package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest listed percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).contains(80.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(39).isEmpty)
    Seq(40, 99, 100, 999, 1000, 5000, 10000).foreach { n =>
      val p = Stats.tailPercentile(n).get
      assert(n - Stats.rank(p, n) >= Stats.TailBeyond, s"n=$n p=$p")
    }
  }

  test("nearest-rank percentiles and the summary") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    val s = Stats.summary(xs)
    assert(s == Summary(100, 50.0, 90.0, 90.0))
    assert(Stats.summary(Seq(1.0, 2.0)).tail.isNaN)
  }

  test("a mix median averages the per-kind medians") {
    val xs = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 90.0, "b" -> 10.0, "b" -> 12.0, "b" -> 11.0)
    assert(Stats.mixMedian(xs) == (2.0 + 11.0) / 2)
  }
}
