package perfbench

/** The benchmark's own arithmetic: order statistics and failure shares. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(math.max(rank(s.size, p), 1) - 1)
  }

  /** 1-based nearest rank of the p-th percentile among n samples (the
    * epsilon absorbs binary rounding, as in 99.9 / 100 * 10000). */
  private def rank(n: Int, p: Double): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Percentiles the benchmark may report, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9)

  /** Samples strictly above the nearest-rank p-th percentile of n samples. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest ladder percentile with at least `minBeyond` samples beyond
    * it, or None when even the median lacks them. */
  def highestSupported(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= minBeyond).lastOption

  /** A timing summary as reported: median, the highest supported tail
    * percentile with its value, and the sample count. */
  final case class Summary(n: Int, p50: Double, tailP: Option[Double], tail: Option[Double]) {
    def describe(unit: String): String = {
      val t = (tailP, tail) match {
        case (Some(p), Some(v)) => f", p${fmtP(p)} $v%.3f $unit"
        case _                  => ", no tail percentile (fewer than 11 samples)"
      }
      f"p50 $p50%.3f $unit$t (n=$n)"
    }
    private def fmtP(p: Double) = if (p == p.floor) p.toInt.toString else p.toString
  }

  def summarize(xs: Seq[Double]): Summary = {
    val tp = highestSupported(xs.size)
    Summary(xs.size, median(xs), tp, tp.map(percentile(xs, _)))
  }

  /** Relative tolerance for scores computed in different summation orders.
    * Re-associating a sum of a few BM25 terms moves it by a few ulps (about
    * 1e-16 relative); this is far above that and far below any scoring
    * difference that changes a result. */
  val ScoreTol: Double = 1e-12

  def sameScore(a: Double, b: Double): Boolean =
    math.abs(a - b) <= ScoreTol * math.max(1.0, math.abs(a))

  /** Rank-identical top-k lists of (doc, score), as the engine promises for
    * WAND against its exhaustive plans (BlockMaxWand's scaladoc: pruning is
    * lossless, scores agree up to float re-association): equal lengths,
    * rank-by-rank equal scores up to [[ScoreTol]], and the same docs in
    * every run of tied scores, in any order within the run. */
  def rankIdentical(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((_, x), (_, y)) => sameScore(x, y) } &&
      tiers(a) == tiers(b)

  /** The docs of each run of consecutive ranks whose scores tie with the
    * run's first score. */
  private def tiers(xs: Seq[(Long, Double)]): List[Set[Long]] =
    xs.foldLeft(List.empty[(Double, Set[Long])]) {
      case ((s0, ds) :: rest, (d, s)) if sameScore(s0, s) => (s0, ds + d) :: rest
      case (acc, (d, s)) => (s, Set(d)) :: acc
    }.map(_._2)

  /** Share of attempted operations that threw or returned a wrong answer. */
  def failedFrac(attempted: Long, failed: Long): Double = {
    require(attempted > 0, "no operations attempted")
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted")
    failed.toDouble / attempted.toDouble
  }
}
