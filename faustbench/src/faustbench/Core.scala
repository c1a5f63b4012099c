package faustbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Percentile conventions used by every metric the benchmark prints.
  *
  * Nearest rank: the p-quantile of n sorted samples is the sample at
  * 1-based rank `ceil(p * n)`, so the median of an even count is the
  * LOWER middle sample. A tail is reported at the highest percentile
  * that still has at least [[MinBeyond]] sampling units beyond it; the
  * unit can be coarser than a sample (a micro-batch emits many rows but
  * counts as one unit), so the level is chosen from the unit count and
  * then applied to the sample distribution.
  */
object Stats {
  val MinBeyond = 10

  def quantile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "quantile of no samples")
    require(p > 0 && p <= 1, s"quantile level $p outside (0, 1]")
    val rank = math.ceil(p * sorted.length - 1e-9).toInt.max(1)
    sorted(rank - 1)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs.toIndexedSeq.sorted, 0.5)

  /** Highest level, in tenths of a percent, with at least [[MinBeyond]]
    * of `units` beyond it; None when that level would fall below the
    * median (then the run has too few units for a tail).
    */
  def tailLevel(units: Int): Option[Double] = {
    if (units < 2 * MinBeyond) None
    else {
      val permille = math.floor(1000.0 * (units - MinBeyond) / units)
      Some(permille / 1000.0)
    }
  }

  final case class Summary(n: Int, units: Int, p50: Double,
                           tailLevel: Option[Double], tail: Option[Double]) {
    def tailLabel: String = tailLevel.map(l => f"p${l * 100}%.1f").getOrElse("none")
  }

  /** p50 and tail of one distribution; `units` defaults to the samples. */
  def summarize(xs: Iterable[Double], units: Int = -1): Summary = {
    val sorted = xs.toIndexedSeq.sorted
    val u = if (units < 0) sorted.length else units
    val level = tailLevel(u)
    Summary(sorted.length, u, quantile(sorted, 0.5), level,
      level.map(quantile(sorted, _)))
  }
}

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def sample(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    val at = if (i >= 0) i else -i - 1
    math.min(at, n - 1)
  }
}

/** Monotonic time source; tests substitute a fake one. */
trait Clock {
  def nanos: Long
  def sleepUntil(deadlineNanos: Long): Unit
}

object SystemClock extends Clock {
  def nanos: Long = System.nanoTime()
  def sleepUntil(deadlineNanos: Long): Unit = {
    var left = deadlineNanos - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = deadlineNanos - System.nanoTime()
    }
  }
}

/** Open-loop schedule: operation i is due at `start + i * periodNanos`.
  * Each operation's latency runs from its DUE time, not from when it
  * was actually issued, so a stall is charged to every operation that
  * queued behind it; how late each one was issued is the lag.
  */
final class OpenLoop(clock: Clock, startNanos: Long, periodNanos: Long) {
  val latenciesMs = ArrayBuffer.empty[Double]
  val lagsMs = ArrayBuffer.empty[Double]

  def due(i: Long): Long = startNanos + i * periodNanos

  /** Wait for op i's due time, run it, and record lag and latency.
    * `op` returns false when the operation failed; failures record no
    * latency.
    */
  def run(i: Long)(op: => Boolean): Boolean = {
    val d = due(i)
    clock.sleepUntil(d)
    lagsMs += (clock.nanos - d) / 1e6
    val ok = op
    if (ok) latenciesMs += (clock.nanos - d) / 1e6
    ok
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case r: RawJson => r.text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case o: Option[_] => o.map(value).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
