package perfbench

/** Order statistics and the backlog-growth test the benchmark reports
  * with. Pure functions over plain arrays, so they are unit-testable
  * without Spark.
  */
object Stats {

  /** Percentile levels, in basis points, the tail rule chooses from. */
  val LevelsBp: Seq[Int] = Seq(5000, 7500, 9000, 9500, 9900, 9990, 9999)

  /** 1-based nearest rank of the level `bp` (basis points) among `n`
    * samples: the smallest rank r with r / n >= bp / 10000.
    */
  def rank(n: Int, bp: Int): Int =
    math.max(1, ((n.toLong * bp + 9999) / 10000).toInt)

  /** Samples strictly beyond the nearest-rank percentile `bp` of `n`. */
  def beyond(n: Int, bp: Int): Int = n - rank(n, bp)

  /** The highest level with at least `minBeyond` samples beyond it, or
    * None when even the median is not supported.
    */
  def tailLevel(n: Int, minBeyond: Int = 10): Option[Int] =
    LevelsBp.filter(bp => beyond(n, bp) >= minBeyond).lastOption

  /** Nearest-rank percentile of an ascending array. */
  def percentile(sorted: Array[Double], bp: Int): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    sorted(rank(sorted.length, bp) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Least-squares slope of ys over ts. */
  def slope(ts: Array[Double], ys: Array[Double]): Double = {
    require(ts.length == ys.length && ts.length >= 2, "slope needs >= 2 points")
    val n = ts.length
    val mt = ts.sum / n
    val my = ys.sum / n
    var num = 0.0
    var den = 0.0
    var i = 0
    while (i < n) {
      num += (ts(i) - mt) * (ys(i) - my)
      den += (ts(i) - mt) * (ts(i) - mt)
      i += 1
    }
    if (den == 0) 0.0 else num / den
  }

  /** Whether a backlog series (messages offered but not yet through a
    * completed micro-batch, sampled at times `ts` in seconds) grows at
    * offered rate `rate`. A micro-batch engine's backlog is a sawtooth:
    * it climbs while a batch runs and drops when the batch commits, and
    * it starts from empty. So the test is on the sawtooth's floor after
    * the first third: the minimum of the last third must exceed the
    * minimum of the middle third by more than `tolerance` of what was
    * offered in between, and the slope fitted over the last two thirds
    * must exceed `tolerance` of the rate.
    */
  def growing(ts: Array[Double], ys: Array[Double], rate: Double,
              tolerance: Double = 0.05): Boolean = {
    if (ts.length < 6) return false
    val k = ts.length / 3
    val midMin = ys.slice(k, ts.length - k).min
    val lastMin = ys.takeRight(k).min
    val between = ts(ts.length - k) - ts(k)
    slope(ts.drop(k), ys.drop(k)) > tolerance * rate &&
      lastMin - midMin > tolerance * rate * between
  }

  /** Least-squares slope over the last two thirds of a series (the
    * first third is the queue filling from empty).
    */
  def settledSlope(ts: Array[Double], ys: Array[Double]): Double =
    if (ts.length < 6) 0.0 else slope(ts.drop(ts.length / 3), ys.drop(ts.length / 3))
}
