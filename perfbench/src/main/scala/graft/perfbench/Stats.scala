package graft.perfbench

/** Summary statistics, answer scoring and failure accounting. */
object Stats {

  /** 1-based nearest rank of percentile `p` (0..100) among `n` samples
    * (the epsilon keeps 99.9% of 10000 at rank 9990, not 9991). */
  def rank(p: Double, n: Int): Int =
    math.min(math.max(math.ceil(p * n / 100.0 - 1e-9).toInt, 1), n)

  /** Nearest-rank percentile `p` of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.length) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Fixed ladder the tail percentile is chosen from. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile with at least `beyond` samples
    * strictly above its nearest-rank position, or None when even the
    * median has fewer. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailLadder.find(p => n > 0 && n - rank(p, n) >= beyond)

  /** (percentile, value) of the tail of `xs`; with too few samples for
    * the ladder, the maximum (reported as percentile 100). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) =
    tailPercentile(xs.length, beyond) match {
      case Some(p) => (p, percentile(xs, p))
      case None    => (100.0, xs.max)
    }

  /** recall@k: share of the exact top-k found among the returned ids. */
  def recallAtK(returned: Seq[Long], truth: Seq[Long]): Double = {
    require(truth.nonEmpty, "recall against an empty truth set")
    returned.toSet.intersect(truth.toSet).size.toDouble / truth.size
  }
}

/** Outcome accounting for one run. Every statement the schedule reaches
  * is attempted. A statement fails when it throws, answers wrong or
  * overruns the per-statement limit. After an overrun the engine's state
  * is undefined, so every later statement of the run is counted as
  * attempted and failed without running. */
final class Ledger {
  private var attempted_ = 0L
  private var failed_ = 0L
  private var wrong_ = 0L
  private var aborted_ = false
  private val notes = scala.collection.mutable.ArrayBuffer.empty[String]

  def attempted: Long = attempted_
  def failed: Long = failed_
  def wrong: Long = wrong_
  def aborted: Boolean = aborted_
  def messages: Seq[String] = notes.toSeq
  def failedFrac: Double = if (attempted_ == 0) 0.0 else failed_.toDouble / attempted_

  def ok(): Unit = attempted_ += 1
  def error(msg: String): Unit = { attempted_ += 1; failed_ += 1; note(msg) }
  def wrongAnswer(msg: String): Unit = { attempted_ += 1; failed_ += 1; wrong_ += 1; note(msg) }
  def overrun(msg: String): Unit = { error(msg); aborted_ = true }
  /** statements left unrun after an overrun */
  def skipped(n: Long): Unit = { attempted_ += n; failed_ += n }

  private def note(m: String): Unit = if (notes.length < 20) notes += m
}
