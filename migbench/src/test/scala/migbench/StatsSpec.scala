package migbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail(samples(40)) == Some(75 -> 30.0))
    assert(Stats.tail(samples(100)) == Some(90 -> 90.0))
    assert(Stats.tail(samples(22)) == Some(54 -> 12.0))
  }

  test("a sample of ten or fewer has no tail") {
    assert(Stats.tail(samples(10)).isEmpty)
    assert(Stats.tail(Seq(1.0)).isEmpty)
  }

  test("with 21 samples the only tail is the median itself, so it is not above p50") {
    val (p, v) = Stats.tail(samples(21)).get
    assert(p == 52 && v == Stats.median(samples(21)))
  }

  test("the tail is above the median from 22 samples on") {
    assert(Stats.MinTailSamples == 22)
    (Stats.MinTailSamples to 200).foreach { n =>
      assert(Stats.tail(samples(n)).exists(_._2 > Stats.median(samples(n))), s"n=$n")
    }
  }

  test("drift compares the second half's median with the first half's") {
    assert(Stats.drift(Seq(1.0, 1.0, 2.0, 2.0)) == 1.0)
    assert(Stats.drift(Seq(1.0)) == 0.0)
  }
}
