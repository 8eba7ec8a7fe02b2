package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail rule: the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailLevel(19).isEmpty)
    assert(Stats.tailLevel(20).contains(5000))
    assert(Stats.tailLevel(40).contains(7500))
    assert(Stats.tailLevel(200).contains(9500))
    assert(Stats.tailLevel(999).contains(9500))
    assert(Stats.tailLevel(1000).contains(9900))
    assert(Stats.tailLevel(9999).contains(9900))
    assert(Stats.tailLevel(10000).contains(9990))
    assert(Stats.tailLevel(100000).contains(9999))
    for (n <- Seq(20, 57, 1000, 4321, 123456); bp <- Stats.tailLevel(n))
      assert(Stats.beyond(n, bp) >= 10)
  }

  test("nearest-rank percentiles") {
    val xs = Array.tabulate(1000)(i => (i + 1).toDouble)
    assert(Stats.percentile(xs, 5000) == 500.0)
    assert(Stats.percentile(xs, 9900) == 990.0)
    assert(Stats.beyond(1000, 9900) == 10)
    assert(Stats.percentile(Array(7.0), 9999) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  private val ts = Array.tabulate(240)(i => i * 0.025) // 6 s at 25 ms

  test("backlog detector: a flat sawtooth does not grow") {
    // batches of ~0.7 s at 1000 msgs/s: the backlog climbs and drops
    val ys = ts.map(t => 1000.0 * (t % 0.7) + 100)
    assert(!Stats.growing(ts, ys, 1000.0))
  }

  test("backlog detector: a queue filling from empty into a flat sawtooth does not grow") {
    val ys = ts.map(t => if (t < 0.7) 1000.0 * t else 1000.0 * (t % 0.7) + 650)
    assert(!Stats.growing(ts, ys, 1000.0))
  }

  test("backlog detector: a constant or draining backlog does not grow") {
    assert(!Stats.growing(ts, ts.map(_ => 500.0), 1000.0))
    assert(!Stats.growing(ts, ts.map(t => math.max(0.0, 3000 - 1000 * t)), 1000.0))
  }

  test("backlog detector: a backlog that keeps climbing grows") {
    assert(Stats.growing(ts, ts.map(t => 300.0 * t), 1000.0))
    // a sawtooth whose floor climbs: the engine keeps up with 80% only
    val ys = ts.map(t => 200.0 * t + 1000.0 * (t % 0.7))
    assert(Stats.growing(ts, ys, 1000.0))
  }

  test("backlog detector: noise around a flat level does not grow") {
    val r = new java.util.SplittableRandom(9)
    assert(!Stats.growing(ts, ts.map(_ => 400 + r.nextDouble() * 300), 1000.0))
  }

  test("slope of a line") {
    assert(math.abs(Stats.slope(ts, ts.map(t => 3 * t + 1)) - 3.0) < 1e-9)
  }
}
