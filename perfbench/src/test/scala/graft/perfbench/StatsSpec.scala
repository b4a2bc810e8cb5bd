package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail leaves exactly ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val (v, pct, beyond) = Stats.tail(scala.util.Random.shuffle(xs))
    assert(v == 30.0)
    assert(pct == 75.0)
    assert(beyond == 10)
    assert(xs.count(_ > v) == 10)
  }

  test("tail is the highest such percentile: one more sample moves it up") {
    val (v40, p40, _) = Stats.tail((1 to 40).map(_.toDouble))
    val (v41, p41, _) = Stats.tail((1 to 41).map(_.toDouble))
    assert(v41 == 31.0 && v41 > v40)
    assert(p41 > p40)
    assert((1 to 41).count(_ > v41) == 10)
  }

  test("below 21 samples no such percentile lies above the median: the maximum, none beyond") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0, 0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((20.0, 100.0, 0)))
    assert(Stats.tail((1 to 21).map(_.toDouble)) == ((11.0, 100.0 * 11 / 21, 10)))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
