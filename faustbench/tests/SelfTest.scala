package faustbench

import scala.collection.mutable

/** Tests of the benchmark itself (not of the program): generators,
  * percentile conventions, open-loop timing and the drain assertion.
  *
  *   python3 faustbench/selftest.py
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += s"$name: $e"; println(s"FAIL $name: $e") }

  private def assertEq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  private def assertTrue(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what)

  /** A clock that only moves when told to; sleeping jumps to the deadline. */
  final class FakeClock(var now: Long) extends Clock {
    def nanos: Long = now
    def sleepUntil(deadlineNanos: Long): Unit = now = math.max(now, deadlineNanos)
    def advanceMs(ms: Double): Unit = now += (ms * 1e6).toLong
  }

  def main(args: Array[String]): Unit = {
    test("stream events repeat for a seed and differ across seeds") {
      val a = StreamGen.events(7, 5000, 100, 1.1, 0.1, 2500)
      assertTrue(a.sameElements(StreamGen.events(7, 5000, 100, 1.1, 0.1, 2500)), "same seed differs")
      assertTrue(!a.sameElements(StreamGen.events(8, 5000, 100, 1.1, 0.1, 2500)), "seeds 7 and 8 agree")
    }
    test("stream events are late only inside the watermark delay") {
      val ev = StreamGen.events(3, 20000, 100, 1.1, 0.1, StreamWorkload.MaxLateMs)
      assertTrue(StreamWorkload.MaxLateMs < StreamWorkload.ExpiresMs, "late bound exceeds delay")
      assertTrue(ev.exists { case (i, _, ts, _) => ts < StreamGen.BaseMs + i }, "no late events")
      assertTrue(ev.forall { case (i, _, ts, _) => StreamGen.BaseMs + i - ts <= StreamWorkload.MaxLateMs },
        "an event is later than the bound")
    }
    test("serving writes and lookups repeat for a seed and differ across seeds") {
      assertTrue(ServingGen.writes(5, 3000, 200).sameElements(ServingGen.writes(5, 3000, 200)), "writes")
      assertTrue(!ServingGen.writes(5, 3000, 200).sameElements(ServingGen.writes(6, 3000, 200)), "writes seed")
      assertTrue(ServingGen.lookups(5, 1000, 200).sameElements(ServingGen.lookups(5, 1000, 200)), "lookups")
      assertTrue(!ServingGen.lookups(5, 1000, 200).sameElements(ServingGen.lookups(6, 1000, 200)), "lookups seed")
      assertEq(ServingGen.writes(5, 3000, 200).take(200).map(_._1).toSeq, (0L until 200L).toSeq, "first writes")
    }
    test("corpus repeats for a seed, differs across seeds, and plants its truth") {
      val a = CorpusGen.corpus(11, 300)
      assertEq(a, CorpusGen.corpus(11, 300), "same seed")
      assertTrue(a != CorpusGen.corpus(12, 300), "seeds 11 and 12 agree")
      Seq(CorpusGen.ExactDup, CorpusGen.Variant, CorpusGen.Junk, CorpusGen.Short).foreach { k =>
        assertTrue(a.exists(_.kind == k), s"no $k documents")
      }
      assertTrue(a.exists(_.pii.nonEmpty), "no PII planted")
      assertTrue(a.filter(_.kind == CorpusGen.ExactDup).forall(d => a(d.origin.toInt - 1).text == d.text),
        "an exact duplicate differs from its base")
    }
    test("median of an even count is the lower middle sample") {
      assertEq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.0)
      assertEq(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0)
      assertEq(Stats.quantile(Vector(1.0, 2.0, 3.0, 4.0), 1.0), 4.0)
    }
    test("tail level keeps at least ten units beyond it") {
      assertEq(Stats.tailLevel(19), None)
      assertEq(Stats.tailLevel(20), Some(0.5))
      assertEq(Stats.tailLevel(100), Some(0.9))
      assertEq(Stats.tailLevel(1000), Some(0.99))
      for (n <- 20 to 3000) {
        val level = Stats.tailLevel(n).get
        val rank = math.ceil(level * n - 1e-9).toInt
        assertTrue(n - rank >= Stats.MinBeyond, s"n=$n level=$level leaves ${n - rank} beyond")
        val finer = math.floor(level * 1000 + 1) / 1000
        assertTrue(n - math.ceil(finer * n - 1e-9).toInt < Stats.MinBeyond || finer >= 1,
          s"n=$n: $finer also leaves ten beyond")
      }
    }
    test("p50 and tail come from one distribution, so p50 <= tail") {
      val rng = new java.util.SplittableRandom(1)
      for (n <- Seq(20, 57, 400, 5000)) {
        val s = Stats.summarize(Seq.fill(n)(rng.nextDouble() * 100))
        assertTrue(s.p50 <= s.tail.get, s"n=$n p50 ${s.p50} > tail ${s.tail}")
      }
      val units = Stats.summarize(Seq.fill(600)(1.0), units = 12)
      assertEq(units.tail, None, "12 batches cannot give a tail")
    }
    test("open loop charges a stall to the requests queued behind it") {
      val clock = new FakeClock(1000000000L)
      val loop = new OpenLoop(clock, clock.now, 10000000L) // due every 10 ms
      for (i <- 0 until 5) loop.run(i) {
        clock.advanceMs(if (i == 1) 35 else 2) // request 1 stalls for 35 ms
        true
      }
      // 1 is due at 10 and ends at 45; 2 (due 20) starts at 45, ends 47;
      // 3 (due 30) ends 49; 4 (due 40) ends 51
      assertEq(loop.latenciesMs.toSeq, Seq(2.0, 35.0, 27.0, 19.0, 11.0), "latencies")
      assertEq(loop.lagsMs.toSeq, Seq(0.0, 0.0, 25.0, 17.0, 9.0), "lags")
    }
    test("open loop records no latency for a failed operation") {
      val clock = new FakeClock(0)
      val loop = new OpenLoop(clock, 0, 1000000L)
      loop.run(0) { clock.advanceMs(0.5); false }
      assertEq(loop.latenciesMs.length, 0)
      assertEq(loop.lagsMs.length, 1)
    }
    test("drain fails when its micro-batch count differs from its chunk count") {
      val chunks = Seq(10L, 11L, 12L)
      assertEq(StreamWorkload.drainMismatch(Seq(10L, 11L, 12L), chunks), None)
      assertTrue(StreamWorkload.drainMismatch(Seq(11L, 12L), chunks).isDefined, "coalesced chunks accepted")
      assertTrue(StreamWorkload.drainMismatch(Seq(10L, 11L, 11L, 12L), chunks).isDefined, "extra batch accepted")
      assertTrue(StreamWorkload.drainMismatch(Seq(10L, 12L, 12L), chunks).isDefined, "wrong batch bounds accepted")
    }
    test("hopping window starts match the event-time window definition") {
      val ts = StreamGen.BaseMs + 3500
      assertEq(StreamWorkload.windowStarts(ts).sorted, Seq(StreamGen.BaseMs + 0, StreamGen.BaseMs + 2000))
      assertEq(StreamWorkload.windowStarts(StreamGen.BaseMs + 2000).sorted,
        Seq(StreamGen.BaseMs + 0, StreamGen.BaseMs + 2000))
    }
    test("serving reference renders the server's JSON row shape") {
      assertEq(ServingWorkload.render(5, 123, 4), """[{"key":5,"total":123,"n":4}]""")
    }
    println(s"$passed passed, ${failures.length} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
