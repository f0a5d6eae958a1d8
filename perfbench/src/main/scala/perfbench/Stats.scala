package perfbench

/** Order statistics used by every workload. */
object Stats {

  /** Linear-interpolated quantile `q` in [0, 1] of `xs` (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that still has at least `beyond`
    * samples above it: the largest p with n * (100 - p) / 100 >= beyond,
    * capped at 99. None when that percentile would not even reach the
    * median: the sample is too small to have a tail. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] = {
    val p = math.min(99, math.floor(100.0 * (n - beyond) / n).toInt)
    if (n <= 0 || p < 50) None else Some(p)
  }

  /** Tail value at [[tailPercentile]], or the maximum when the sample
    * is too small to have a tail. */
  def tail(xs: Seq[Double], beyond: Int = 10): Double =
    tailPercentile(xs.size, beyond) match {
      case Some(p) => quantile(xs, p / 100.0)
      case None => xs.max
    }
}

/** Attempted/failed accounting for one run. Every operation a workload
  * performs goes through [[attempt]] or [[check]]; a thrown operation or
  * a failed check counts once as failed. */
final class Ops {
  private var attemptedN = 0L
  private var failedN = 0L
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  def errorRate: Double = synchronized(if (attemptedN == 0) 0.0 else failedN.toDouble / attemptedN)
  def failureNotes: Seq[String] = synchronized(failures.toList)

  /** Record one operation whose outcome is `ok`. */
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attemptedN += 1
    if (!ok) { failedN += 1; if (failures.size < 50) failures += what }
    ok
  }

  /** Run `body` as one operation: a throw counts as a failure and yields None. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try { val r = body; check(ok = true, what); Some(r) }
    catch {
      case scala.util.control.NonFatal(e) =>
        check(ok = false, s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        None
    }
}
