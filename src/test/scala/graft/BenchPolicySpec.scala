package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import BenchPolicy._

/** [[BenchPolicy]] on a fake box: no Spark, no sleeping. An entry takes
  * its quiet time × the box's inflation at the moment it starts, and the
  * clock moves only by what the policy times or sleeps.
  */
class BenchPolicySpec extends AnyFunSuite {

  private val q01 = "q01_filter_project"
  private val b05 = "b05_point_lookups"

  final class FakeBox(inflation: Double => Double = _ => 1.0,
                      broken: (String, Double) => Boolean = (_, _) => false,
                      quiet: String => Double = n => Ledger.getOrElse(n, 1.0))
      extends Effects {
    var now = 0.0
    val lines = ArrayBuffer[String]()
    val timed = ArrayBuffer[String]()
    def time(entry: String): Double = {
      val (t0, dt) = (now, quiet(entry) * inflation(now))
      now += dt
      timed += entry
      if (broken(entry, t0)) -1.0 else dt
    }
    def sleep(sec: Double): Unit = now += sec
    def log(line: String): Unit = lines += line
  }

  private def es(n: Int): Seq[String] = (1 to n).map(i => f"e$i%03d")

  private def run(entries: Seq[String], box: FakeBox, budget: Double = 2250,
                  controls: Boolean = true, iters: Int = 3): BenchPolicy = {
    val p = new BenchPolicy(entries, budget, controls, box)
    p.run(iters, () => ())
    p
  }

  test("median and MAD take the lower middle for even counts") {
    assert(median(Vector(1.0, 2.0, 10.0, 20.0)) == 2.0)
    // deviations 0, 1, 8, 18: the upper middle would read 8
    assert(mad(Vector(1.0, 2.0, 10.0, 20.0)) == 1.0)
    assert(median(Vector(1.0, 3.0)) == 1.0 && mad(Vector(1.0, 3.0)) == 0.0)
    assert(median(Vector(1.0, 2.0, 3.0)) == 2.0 && mad(Vector(1.0, 2.0, 3.0)) == 1.0)
    assert(median(Vector.empty) == -1.0 && mad(Vector.empty) == -1.0)
  }

  test("quiet run: no waits, no reruns, every entry gets every iteration") {
    val entries = q01 +: es(20) :+ b05
    val box = new FakeBox()
    var emitted = 0
    val p = new BenchPolicy(entries, 2250, controls = true, box)
    p.run(3, () => emitted += 1)
    assert(p.preflightWait == 0.0 && p.midrunWait == 0.0)
    assert(p.windowReruns.isEmpty && p.reruns.isEmpty && box.lines.isEmpty)
    assert(!p.degradedBox && math.abs(p.boxRatio - 1.0) < 1e-9)
    assert(emitted == 3 * entries.size)
    // controls keep their 3 preflight samples on top of the 3 iterations
    p.stats().foreach { s =>
      assert(s.n == (if (Ledger.contains(s.name)) 6 else 3), s.name)
      assert(s.med == s.min && s.mad == 0.0, s.name)
    }
    assert(!p.cut)
  }

  test("r18 shape: a mid-run window is waited out and its victim re-run") {
    // preflight is quiet; from t=20 the box runs 20x slower for 280 s,
    // long enough to poison 14 contiguous 1 s entries
    val (from, until) = (20.0, 300.0)
    assert((until - from) / 20.0 == 14.0)
    val box = new FakeBox(t => if (t >= from && t < until) 20.0 else 1.0)
    val entries = q01 +: es(40) :+ b05
    val p = run(entries, box)
    assert(!p.degradedBox && p.preflightWait == 0.0)
    assert(p.midrunWait > 0 && p.midrunWait <= 2250 * MidrunWaitShare)
    assert(p.windowReruns.size == 1)
    assert(box.lines.exists(_.contains(s"degraded window: ${p.windowReruns.head}")))
    // every poisoned sample was discarded: all kept samples are quiet
    entries.foreach { n =>
      assert(p.samplesOf(n).forall(_ == Ledger.getOrElse(n, 1.0)), n)
    }
    es(40).foreach(n => assert(p.samplesOf(n).size == 3, n))
    assert(p.reruns.isEmpty)
  }

  test("r19-post shape: a box degraded for good caps the wait and keeps samples") {
    // from t=60 s (about entry 52 of iteration 1) on, everything is 10x
    val box = new FakeBox(t => if (t >= 60.0) 10.0 else 1.0)
    val p = run(q01 +: es(100) :+ b05, box)
    val cap = 2250 * MidrunWaitShare
    assert(p.midrunWait >= cap && p.midrunWait < cap + MidrunSleepSec)
    assert(p.windowReruns.isEmpty)
    // every entry still got iteration 1; the degraded samples are kept
    assert(!p.cut)
    assert(es(40).forall(n => p.samplesOf(n).head == 1.0))
    assert(es(100).drop(60).forall(n => p.samplesOf(n).head == 10.0))
    assert(box.now <= 2250)
  }

  test("the window guard is sized by the entry's quiet min, not the poisoned sample") {
    // e001's 2nd sample lands in a 30x window (t in [4, 60)) and takes
    // 30 s at t=34 of a 120 s budget: 86 s remain. A re-run costs its
    // quiet 1 s, so there is room to wait; sizing by the 30 s sample
    // (30 + 1.5 * 30 + 20 = 95 > 86) would have kept the poisoned sample.
    val box = new FakeBox(t => if (t >= 4.0 && t < 60.0) 30.0 else 1.0)
    val p = run(Seq(q01, "e001"), box, budget = 120)
    assert(p.windowReruns == List("e001"))
    assert(p.samplesOf("e001") == Vector(1.0, 1.0, 1.0))
  }

  test("budget cut: iterations >= 2 go first, and the reserve holds") {
    // iteration 1 of 50 entries fits; iteration 2 only partly
    val box = new FakeBox()
    val p = run(es(50), box, budget = 110, controls = false)
    val ns = p.stats().map(_.n)
    assert(ns.forall(_ >= 1) && ns.contains(1) && ns.contains(2) && !ns.contains(3))
    assert(box.now <= 110 - ReserveSec)
    assert(!p.cut)
    // a budget too small for iteration 1 leaves entries unsampled
    // before any entry gets a second sample
    val tight = run(es(50), new FakeBox(), budget = 60, controls = false)
    assert(tight.cut && tight.stats().map(_.n).max == 1)
  }

  test("a failed control turns the defense off; it never reads as degraded") {
    // the box is 4x slow throughout, but q01 is broken
    val box = new FakeBox(_ => 4.0, broken = (n, _) => n == q01)
    val p = run(Seq(q01, "e001", "e002", b05), box)
    assert(box.lines.count(_.contains(s"control $q01 failed")) == 1)
    assert(box.lines.size == 1)
    assert(p.preflightWait == 0.0 && p.midrunWait == 0.0)
    assert(p.boxRatio == -1.0 && !p.degradedBox)
    // 4 s samples are suspicious, but no probe runs: kept as they are
    assert(p.samplesOf("e001") == Vector(4.0, 4.0, 4.0))
    assert(p.stats().find(_.name == q01).get.med == -1.0)
    assert(!p.cut)
  }

  test("a control that breaks mid-run turns the defense off, no wait") {
    // q01 passes preflight, then fails from t=20 on; e015 (5 s, so
    // suspicious) runs after that
    val box = new FakeBox(broken = (n, t) => n == q01 && t >= 20.0,
      quiet = n => if (n == "e015") 5.0 else Ledger.getOrElse(n, 1.0))
    val p = run(q01 +: es(20) :+ b05, box)
    assert(math.abs(p.boxRatio - 1.0) < 1e-9)
    assert(box.lines == Seq(s"[bench] control $q01 failed; box-health defense off for the rest of the run"))
    assert(p.midrunWait == 0.0 && p.windowReruns.isEmpty)
    assert(p.samplesOf("e015") == Vector(5.0, 5.0, 5.0))
  }

  test("a broken entry reads as failed (-1), not as a degraded window") {
    val box = new FakeBox(broken = (n, _) => n == "e002")
    val p = run(Seq(q01, "e001", "e002", b05), box)
    assert(p.samplesOf("e002") == Vector(-1.0, -1.0, -1.0))
    assert(p.stats().find(_.name == "e002").get.med == -1.0)
    // no probe: q01 ran its preflight warm-up + 3 samples + 3 iterations
    assert(box.timed.count(_ == q01) == 7)
    assert(box.lines.isEmpty && p.midrunWait == 0.0 && !p.degradedBox)
  }
}
