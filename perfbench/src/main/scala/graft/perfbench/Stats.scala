package graft.perfbench

/** Order statistics for the reported timings. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of the `p`-th percentile of `n` samples (the
    * epsilon keeps 99.9 % of 10000 at rank 9990, not 9991). */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n / 100 - 1e-9).toInt)

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** Samples ranked strictly above the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  val Candidates: Seq[Double] = Seq(90, 95, 99, 99.9)

  /** The highest tail percentile with at least ten samples beyond it — the
    * only tail a run of `n` samples can report; `None` if not even p90 has. */
  def highestSupported(n: Int, candidates: Seq[Double] = Candidates): Option[Double] =
    candidates.filter(p => beyond(n, p) >= 10).maxOption
}

/** Failure accounting: every operation the benchmark attempts is either
  * good or failed — it threw, or its output did not pass its check. */
final class ErrorTally {
  private var attempted0 = 0
  private var failed0 = 0
  def attempted: Int = attempted0
  def failed: Int = failed0

  def record(ok: Boolean): Unit = {
    attempted0 += 1
    if (!ok) failed0 += 1
  }
}
