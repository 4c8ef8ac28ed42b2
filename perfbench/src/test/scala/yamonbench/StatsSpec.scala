package yamonbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile with fewer than 10 samples beyond it is refused") {
    // p95 of 100 samples has 5 beyond it
    intercept[Stats.TooFewSamples](Stats.percentile((1 to 100).map(_.toDouble), 95))
    // p50 of 19 samples has 9 beyond it
    intercept[Stats.TooFewSamples](Stats.percentile((1 to 19).map(_.toDouble), 50))
    // the low side counts too: p5 of 100 samples has 5 below it
    intercept[Stats.TooFewSamples](Stats.percentile((1 to 100).map(_.toDouble), 5))
  }

  test("a percentile with 10 samples beyond it is reported, nearest-rank") {
    assert(Stats.percentile((1 to 200).map(_.toDouble), 95) == 190.0)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50) == 10.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble).reverse, 90) == 90.0)
  }

  test("quartiles follow Python's statistics.quantiles(n=4)") {
    // statistics.quantiles([1, 2, 4, 7, 11, 16, 22, 29, 37, 46], n=4)
    // == [3.5, 13.5, 31.0]
    val (q1, med, q3) = Stats.quartiles(Seq(1, 2, 4, 7, 11, 16, 22, 29, 37, 46).map(_.toDouble))
    assert((q1, med, q3) == ((3.5, 13.5, 31.0)))
    // statistics.quantiles([5, 1, 3], n=4) == [1.0, 3.0, 5.0]
    assert(Stats.quartiles(Seq(5.0, 1.0, 3.0)) == ((1.0, 3.0, 5.0)))
  }
}
