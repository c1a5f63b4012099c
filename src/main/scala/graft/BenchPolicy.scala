package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Bench's timing policy: which samples [[Bench]] takes, which it
  * discards as poisoned, and when it waits for a quiet box.
  *
  * A shared box's disk can collapse (~157 → 8 MB/s) for minutes, before
  * or during a run, and inflate every timing inside that window 10–30×.
  * The policy defends in three places, all against the quiet ledger of
  * two corpus-stable controls:
  *   - preflight: time the controls (one discarded warm-up, then
  *     [[ControlSamples]] samples each); while their geomean inflation
  *     exceeds [[PreflightInflation]], sleep and re-time, until the
  *     box quiets or the retry deadline lapses;
  *   - mid-run: after a suspicious sample, re-time the [[Probe]]
  *     control; past [[MidrunInflation]] the sample is discarded, the
  *     window waited out in [[MidrunSleepSec]] steps (capped at
  *     [[MidrunWaitShare]] of the budget) and the entry re-run;
  *   - reruns: an entry whose median/min spread exceeds
  *     [[RerunSpread]] is re-sampled up to [[MaxReruns]] times (real
  *     code regressions move min and median together).
  * A control that fails turns the defense off for the rest of the run:
  * a broken entry must read as failed (-1), never as a degraded box.
  *
  * The budget ladder keeps the artifact useful under any cut: iteration
  * 1 runs for every entry while any budget beyond [[ReserveSec]]
  * remains, so coverage shrinks last; iteration k≥2 and reruns run only
  * when the budget can absorb [[Headroom]]× the entry's last time.
  * Iterations are interleaved across entries, so one noisy window
  * lands on one iteration of many entries instead of every iteration
  * of one.
  *
  * Pure: the clock, the timing of an entry, sleep and printing come in
  * through [[BenchPolicy.Effects]], so a spec drives it with a fake
  * clock and no Spark.
  */
object BenchPolicy {

  /** Quiet ledger: control medians at sf0.1, s (BASELINE.md; q01 from
    * 07bad82, b05 re-measured on kept-alive connections).
    */
  val Ledger: ListMap[String, Double] =
    ListMap("q01_filter_project" -> 0.504, "b05_point_lookups" -> 0.279)
  /** The cheap control re-timed mid-run. */
  val Probe = "q01_filter_project"

  val PreflightInflation = 1.25
  /** Collapses measure 10–30×, so the mid-run margin is wide. */
  val MidrunInflation = 2.0
  /** Quiet sf0.1 entries top out ~7 s at 32 cores; poisoned singles of
    * 4–12 s sailed under a 15 s bar, and a ~0.5 s probe costs far less
    * than one kept poisoned sample.
    */
  val SuspiciousSec = 3.0
  val SuspiciousOverMin = 4.0
  val RerunSpread = 1.5
  val Headroom = 1.5
  val RetryDeadlineShare = 0.25
  val MidrunWaitShare = 0.15
  val WarmupShare = 0.30
  /** Held back for the final emission and Spark teardown. */
  val ReserveSec = 30.0
  val ControlSamples = 3
  val RetrySleepSec = 60.0
  val MidrunSleepSec = 20.0
  val MaxWindowReruns = 2
  val MaxReruns = 4

  /** Lower middle for even counts: box noise only inflates, so the
    * upper middle would report the worse of a quiet and a poisoned
    * sample. `sorted` is ascending; -1 when empty.
    */
  def median(sorted: Vector[Double]): Double =
    if (sorted.isEmpty) -1.0 else sorted((sorted.size - 1) / 2)

  /** Median absolute deviation from [[median]], same convention. */
  def mad(sorted: Vector[Double]): Double = {
    val m = median(sorted)
    if (sorted.isEmpty) -1.0 else median(sorted.map(t => math.abs(t - m)).sorted)
  }

  /** Locale-pinned: under a comma-decimal JVM locale `%.4f` would
    * print `0,0123` and break the JSON artifact.
    */
  def fmt(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  trait Effects {
    /** Seconds since the run started. */
    def now: Double
    /** One timed execution of an entry: seconds, or -1 if it failed. */
    def time(entry: String): Double
    def sleep(sec: Double): Unit
    def log(line: String): Unit
  }

  final case class Stat(name: String, med: Double, min: Double, mad: Double, n: Int)
}

/** @param controls whether the control defense may run (the ledger
  *                 holds only at sf0.1)
  */
final class BenchPolicy(entries: Seq[String], budget: Double,
                        controls: Boolean, fx: BenchPolicy.Effects) {
  import BenchPolicy._

  private val samples =
    mutable.LinkedHashMap(entries.map(_ -> Vector.empty[Double]): _*)
  private var defenseOn = controls

  @volatile var boxRatio: Double = -1.0
  @volatile var degradedBox: Boolean = false
  @volatile var preflightWait: Double = 0.0
  @volatile var midrunWait: Double = 0.0
  /** Entries re-run after a waited-out mid-run window, newest first. */
  @volatile var windowReruns: List[String] = Nil
  /** Self-adjudication reruns per entry (entries with none omitted). */
  @volatile var reruns: Seq[(String, Int)] = Nil

  def remaining: Double = budget - fx.now

  /** The kept samples of an entry in order, -1 for a failed run. */
  def samplesOf(name: String): Vector[Double] = synchronized(samples(name))

  def stats(): Seq[Stat] = synchronized {
    samples.toSeq.map { case (name, s) =>
      val ok = s.filter(_ >= 0).sorted
      Stat(name, median(ok), ok.headOption.getOrElse(-1.0), mad(ok), ok.size)
    }
  }

  /** True iff the budget left some entry with no sample at all. An
    * entry that failed every time has -1 samples, so it reads as a
    * failure in a complete run, not as a cut.
    */
  def cut: Boolean = synchronized(samples.values.exists(_.isEmpty))

  /** Preflight, then `iters` interleaved iterations, then reruns;
    * `onSample` runs after every sample the loop keeps.
    */
  def run(iters: Int, onSample: () => Unit): Unit = {
    preflight()
    def sample(name: String): Unit = { record(name, guarded(name)); onSample() }
    for (it <- 1 to iters; name <- entries)
      if (remaining > ReserveSec + (if (it == 1) 0.0 else Headroom * lastOk(name)))
        sample(name)
    reruns = entries.map { name =>
      var extra = 0
      while (noisy(name) && extra < MaxReruns &&
          remaining > ReserveSec + Headroom * lastOk(name)) {
        sample(name)
        extra += 1
      }
      name -> extra
    }.filter(_._2 > 0)
  }

  private def ok(name: String): Vector[Double] = samplesOf(name).filter(_ >= 0)

  private def record(name: String, dt: Double): Unit =
    synchronized { samples(name) = samples(name) :+ dt }

  private def lastOk(name: String): Double = ok(name).lastOption.getOrElse(1.0)

  private def noisy(name: String): Boolean = {
    val s = ok(name).sorted
    s.size > 1 && s.head > 0 && median(s) / s.head > RerunSpread
  }

  private def controlFailed(name: String): Unit = if (defenseOn) {
    defenseOn = false
    fx.log(s"[bench] control $name failed; box-health defense off for the rest of the run")
  }

  private def preflight(): Unit = {
    val present = Ledger.toSeq.filter(c => samples.contains(c._1))
    if (!defenseOn || present.isEmpty) return
    // geomean control inflation; -1 once a control failed. Only the
    // accepted round's samples are kept for the controls' own medians.
    def measure(): Double = {
      val ratios = present.map { case (name, ledger) =>
        if (!defenseOn) -1.0
        else {
          synchronized { samples(name) = Vector.empty }
          fx.time(name) // warm-up, discarded: codegen/JIT would bias the ratio
          val ts = Vector.fill(ControlSamples)(fx.time(name))
          ts.foreach(record(name, _))
          if (ts.exists(_ < 0)) { controlFailed(name); -1.0 }
          else median(ts.sorted) / ledger
        }
      }
      if (!defenseOn) -1.0 else math.exp(ratios.map(math.log).sum / ratios.size)
    }
    val deadline = budget * RetryDeadlineShare
    val t0 = fx.now
    var r = measure()
    // the guard leaves room for the next measuring round, not just the
    // sleep, or the last round eats the emission reserve
    var cost = fx.now - t0
    val tWait = fx.now
    var retried = false
    while (r > PreflightInflation && fx.now < deadline &&
        remaining > ReserveSec + RetrySleepSec + Headroom * cost) {
      fx.log(s"[bench] degraded box phase (control inflation ${fmt(r, 4)}x); " +
        s"waiting ${RetrySleepSec.toInt}s for a quiet window " +
        s"(deadline ${deadline.toInt}s into the budget)")
      fx.sleep(RetrySleepSec)
      retried = true
      val t = fx.now
      r = measure()
      cost = fx.now - t
    }
    preflightWait = fx.now - tWait
    if (r > 0) {
      boxRatio = r
      degradedBox = r > PreflightInflation
      if (degradedBox) {
        val why =
          if (!retried) "no retry budget/deadline room"
          else if (fx.now >= deadline) "retry deadline lapsed"
          else "remaining budget reached the retry floor"
        fx.log(s"[bench] WARNING still degraded ($why): control inflation " +
          s"${fmt(r, 4)}x vs quiet ledger (waited ${fmt(preflightWait, 1)}s)")
      } else if (preflightWait > 1.0)
        fx.log(s"[bench] quiet window found after ${fmt(preflightWait, 1)}s " +
          s"wait: ratio ${fmt(r, 4)}x")
    }
  }

  /** Whether the probe control reads a degraded window now. */
  private def probeDegraded(): Boolean =
    defenseOn && samples.contains(Probe) && {
      val dt = fx.time(Probe)
      if (dt < 0) { controlFailed(Probe); false }
      else dt / Ledger(Probe) > MidrunInflation
    }

  /** One sample of `name`; a suspicious one the probe confirms as
    * poisoned is discarded and re-taken once the window has passed.
    * Probes never enter the samples.
    */
  private def guarded(name: String): Double = {
    var dt = fx.time(name)
    var attempts = 0
    def quietMin = ok(name).minOption
    def suspicious = dt > SuspiciousSec || quietMin.exists(dt > SuspiciousOverMin * _)
    // sized by the quiet cost of a re-run, not by the inflated sample
    def room = remaining > ReserveSec + Headroom * quietMin.getOrElse(dt) + MidrunSleepSec
    while (attempts < MaxWindowReruns && dt >= 0 && suspicious && room &&
        probeDegraded()) {
      fx.log(s"[bench] degraded window: $name took ${fmt(dt, 1)}s with the " +
        "control inflated; waiting for quiet, then re-running")
      var quiet = false
      while (!quiet && defenseOn && midrunWait < budget * MidrunWaitShare && room) {
        fx.sleep(MidrunSleepSec)
        midrunWait += MidrunSleepSec
        quiet = !probeDegraded() && defenseOn
      }
      if (quiet) {
        windowReruns = name :: windowReruns
        dt = fx.time(name)
        attempts += 1
      } else attempts = MaxWindowReruns // wait capped or defense off: keep it
    }
    dt
  }
}
