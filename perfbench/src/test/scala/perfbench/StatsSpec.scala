package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.95) == 95.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    def tailOf(n: Int) = Stats.tail((1 to n).map(_.toDouble))
    assert(tailOf(200) == Some(0.95 -> 190.0))   // 10 beyond p95
    assert(tailOf(199).map(_._1) == Some(0.9))   // p95 would leave 9
    assert(tailOf(1000).map(_._1) == Some(0.99))
    assert(tailOf(20) == Some(0.5 -> 10.0))
    assert(tailOf(19).isEmpty)                   // not even the median
    assert(tailOf(60).map(_._1) == Some(0.75))
  }

  test("every tail returned has the samples it claims") {
    (1 to 2000 by 7).foreach { n =>
      Stats.tail((1 to n).map(_.toDouble)).foreach { case (q, v) =>
        assert((1 to n).count(_ > v) >= 10, s"n=$n q=$q")
      }
    }
  }

  test("percentile labels") {
    assert(Stats.label(0.95) == "p95")
    assert(Stats.label(0.999) == "p99.9")
    assert(Stats.label(0.5) == "p50")
  }
}
