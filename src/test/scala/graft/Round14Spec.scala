package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.SketchOps

/** Round-14 additions: the engagement pair's scale bounds (q131/q132
  * were oracle-gated but spec-less in round 13), the stickiness
  * sketch twin (streamed register log ≡ batch report), and the
  * serving-tier staleness/refresh contract lives in ServingSpec.
  */
class Round14Spec extends SparkTestBase {

  import spark.implicits._

  private lazy val actives = Tables.events(spark, sf)
    .select(col("user_id"), expr("ts_sec div 86400").as("day"))
    .distinct()

  test("q131 forward explode is bounded: exactly 7x/28x actives, never day^2") {
    val nActives = actives.count()
    assert(nActives > 0)
    // sequence(day, day + w-1) always yields exactly w elements — the
    // trailing-window fan is w× the distinct (user, day) frame, so at
    // 100 TB the intermediate scales linearly with activity, never
    // with days² (the naive day-range self-join)
    val fan7 = actives.select(col("user_id"),
      explode(sequence(col("day"), col("day") + 6)).as("day"))
    val fan28 = actives.select(col("user_id"),
      explode(sequence(col("day"), col("day") + 27)).as("day"))
    assert(fan7.count() == 7 * nActives)
    assert(fan28.count() == 28 * nActives)
  }

  test("q131/q132 cross-invariants: depth histogram partitions WAU per day") {
    val q131 = SparkEntry.queries("q131_stickiness")(spark, sf)
      .select($"day", $"dau", $"wau", $"mau").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val q132 = SparkEntry.queries("q132_engagement_depth")(spark, sf)
      .select($"day", $"l_days", $"n_users")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // depth is 1..7 of the trailing 7 days by construction
    assert(q132.forall(t => t._2 >= 1 && t._2 <= 7))
    // the histogram PARTITIONS the trailing-7 actives: Σ n_users per
    // day = that day's WAU (each user lands in exactly one depth bin)
    val histSum = q132.groupBy(_._1).map { case (d, rows) =>
      d -> rows.map(_._3).sum }
    histSum.foreach { case (d, s) =>
      assert(s == q131(d)._2, s"day $d: hist sum $s != wau ${q131(d)._2}") }
    // same active-day frame on both reports
    assert(histSum.keySet == q131.keySet)
    // and sanity: dau <= wau <= mau on every day
    q131.foreach { case (d, (dau, wau, mau)) =>
      assert(dau <= wau && wau <= mau, s"day $d: $dau/$wau/$mau") }
  }

  test("cdcApply: last op wins, D deletes, op totals survive the delete filter") {
    import graft.ops.EventOps
    val ops = Seq(
      (1L, 10L, 0L, "I", 1.0), (1L, 20L, 0L, "U", 2.0),  // k1: I then U
      (2L, 10L, 0L, "I", 5.0), (2L, 30L, 0L, "D", 0.0),  // k2: deleted
      (3L, 10L, 0L, "D", 0.0), (3L, 20L, 0L, "I", 7.0),  // k3: D then re-I
      (4L, 10L, 0L, "I", 9.0), (4L, 10L, 1L, "U", 9.5))  // k4: seq tiebreak
      .toDF("k", "seq", "sub", "op", "v")
    val got = EventOps.cdcApply(ops, Seq("k"), Seq("seq", "sub"), "op", Seq("v"))
      .select($"k", $"v", $"n_ops", $"last_seq")
      .as[(Long, Double, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2.0, 2L, 20L),   // last U wins
      (3L, 7.0, 2L, 20L),   // re-inserted after delete
      (4L, 9.5, 2L, 10L)))  // tiebreaker column decides; k2 gone
  }

  test("resolveRedirects: chains collapse, loops flagged, depth doubles per round") {
    import graft.ops.UrlOps
    // chain a->b->c->d (depth 3) + 2-cycle x<->y + self-terminal m->t
    val m = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "x"),
      ("m", "t")).toDF("s", "d")
    // 2 rounds resolve up to 4 hops: whole chain lands on d
    val asMap = UrlOps.resolveRedirects(m, "s", "d", rounds = 2)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(asMap("a") == (("d", 0)) && asMap("b") == (("d", 0))
      && asMap("c") == (("d", 0)) && asMap("m") == (("t", 0)))
    assert(asMap("x")._2 == 1 && asMap("y")._2 == 1, asMap.toString)
    // 1 round resolves only 2 hops: a lands on c's target? depth check —
    // r1(a) = r0(r0(a)) = r0(b) = c... still a source, so flagged
    val one = UrlOps.resolveRedirects(m, "s", "d", rounds = 1)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(one("a") == (("c", 1)), one.toString) // over-budget = flagged
  }

  test("triangleStats: closed-form graphs (complete / star / ring), hub-safe") {
    import graft.ops.GraphOps
    def complete(n: Int) = (for { i <- 0 until n; j <- i + 1 until n }
      yield (s"n$i", s"n$j")).toDF("u", "v")
    // K_n: every node in C(n-1, 2) triangles, clustering exactly 1.0
    Seq(20, 40).foreach { n =>
      val r = GraphOps.triangleStats(complete(n), "u", "v")
        .select("degree", "n_triangles", "clustering")
        .as[(Long, Long, Double)].collect()
      assert(r.length == n)
      val expect = (n - 1).toLong * (n - 2) / 2
      assert(r.forall(_ == ((n - 1).toLong, expect, 1.0)), r.take(3).toSeq)
    }
    // star: the hub has the HIGHEST degree, so orientation points every
    // edge into it and the hub enumerates ZERO wedges — the skew-safety
    // property; no triangles anywhere, defined-0.0 clustering
    val star = (1 to 50).map(i => ("hub", s"leaf$i")).toDF("u", "v")
    val sr = GraphOps.triangleStats(star, "u", "v").collect()
    assert(sr.length == 51)
    assert(sr.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.0))
    // ring: degree 2 everywhere, no triangles (n > 3)
    val ring = (0 until 12).map(i => (s"r$i", s"r${(i + 1) % 12}")).toDF("u", "v")
    val rr = GraphOps.triangleStats(ring, "u", "v").collect()
    assert(rr.length == 12 &&
      rr.forall(r => r.getLong(1) == 2L && r.getLong(2) == 0L))
    // duplicate/reversed/self-loop edges are cleaned before counting
    val messy = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"),
      ("b", "c"), ("c", "a")).toDF("u", "v")
    val mr = GraphOps.triangleStats(messy, "u", "v")
      .select("node", "n_triangles").as[(String, Long)].collect().toMap
    assert(mr == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangleStats scale shapes: K120, planted cliques, 10k-leaf hub") {
    import graft.ops.GraphOps
    // K120: 7,140 edges -> 280,840 wedge closures, all closed-form
    val n = 120
    val kEdges = (for { i <- 0 until n; j <- i + 1 until n }
      yield (s"k$i", s"k$j")).toDF("u", "v").repartition(8)
    val kr = GraphOps.triangleStats(kEdges, "u", "v")
      .agg(sum("n_triangles")).head().getLong(0)
    // each triangle counted at all 3 vertices
    assert(kr == 3L * n * (n - 1) * (n - 2) / 6, kr)
    // 20 planted 15-cliques on a 2,000-node ring background:
    // triangles = 20 * C(15,3), background contributes none — the
    // mid-density shape a dedup cluster graph actually has
    val cliques = (for { c <- 0 until 20; i <- 0 until 15; j <- i + 1 until 15 }
      yield (s"c${c}_$i", s"c${c}_$j")).toDF("u", "v")
    val ring = (0 until 2000).map(i => (s"bg$i", s"bg${(i + 1) % 2000}"))
      .toDF("u", "v")
    val pr = GraphOps.triangleStats(cliques.union(ring), "u", "v")
      .agg(sum("n_triangles")).head().getLong(0)
    assert(pr == 3L * 20 * 455, pr)
    // 10k-leaf star + one side triangle: the hub's orientation
    // out-degree is 0 (highest rank), so NO wedge enumerates at it —
    // the skew-safety property at a size where hub-side enumeration
    // (C(10000,2) ≈ 5e7 wedges) would be visibly pathological
    val bigStar = (1 to 10000).map(i => ("HUB", s"l$i")).toDF("u", "v")
    val side = Seq(("s1", "s2"), ("s2", "s3"), ("s3", "s1")).toDF("u", "v")
    val t0 = System.nanoTime()
    val sr = GraphOps.triangleStats(bigStar.union(side), "u", "v")
      .agg(sum("n_triangles")).head().getLong(0)
    val dt = (System.nanoTime() - t0) / 1e9
    assert(sr == 3L, sr)
    assert(dt < 60.0, s"hub graph took ${dt}s — orientation regressed?")
  }

  test("advisor fixes pinned: PNG dim overflow + zorder span wrap raise by name") {
    // IHDR with w = h = 0xFFFFFFFF: the old guard computed
    // hv*(wv+1) in Long, which wraps negative and slips under
    // <= Int.MaxValue — must now be rejected as bad dimensions
    val body = new java.io.ByteArrayOutputStream()
    body.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    val ihdr = Array[Byte](
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, // w
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, // h
      8, 0, 0, 0, 0)
    val tag = "IHDR".getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(tag); crc.update(ihdr)
    def be32(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    body.write(be32(13), 0, 4); body.write(tag, 0, 4)
    body.write(ihdr, 0, 13); body.write(be32(crc.getValue), 0, 4)
    val e1 = intercept[IllegalArgumentException](
      graft.ops.PngOps.decodeGray8(body.toByteArray))
    assert(e1.getMessage.contains("bad dimensions"), e1.getMessage)

    // a column spanning more than Long.MaxValue must fail BY NAME, not
    // grid garbage: under ANSI (Spark 4 default) the max−min
    // subtraction itself raises ARITHMETIC_OVERFLOW; with ANSI off the
    // wrap goes negative and the span guard's >= 0 leg catches it —
    // either way the contract ("named error instead of garbage") holds
    val wide = Seq((Long.MinValue, 1L), (Long.MaxValue, 2L))
      .toDF("x", "y")
    val e2 = intercept[Exception] {
      graft.ops.Layout.zorderSkippingReport(wide, "x", "y",
        0L, 10L, 0L, 10L).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e2).exists(m => m.contains("column span exceeds")
        || m.contains("ARITHMETIC_OVERFLOW")),
      s"expected a named span failure, got: ${chain(e2).mkString(" | ")}")
  }

  test("stickiness sketch twin: streamed register log ≡ batch report") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (day, user)
    val regs = SketchOps.hllRegisters(
      input.toDS().toDF("day", "user"), Seq("day"), "user", p = 8)
    val q = regs.writeStream.format("memory").queryName("stick_regs")
      .outputMode("complete").start()
    try {
      // three weeks of activity with churn: day d sees users
      // [10d, 10d + 300) — overlapping cohorts so WAU/MAU differ
      val days = (0L until 21L)
      val b1 = days.take(10).flatMap(d => (10 * d until 10 * d + 300).map(d -> _))
      val b2 = days.drop(10).flatMap(d => (10 * d until 10 * d + 300).map(d -> _))
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val streamed = SketchOps.stickinessFromRegisters(
        spark.table("stick_regs"), "day", p = 8).collect().map(_.toSeq)
      val batch = SketchOps.hllStickiness(
        (b1 ++ b2).toDF("day", "user"), "day", "user", p = 8)
        .collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      // sanity: stickiness ratios in (0, 1]; day 20's WAU ≈ users
      // 140..500 (360 true, ±HLL error)
      val byDay = batch.map(s => s.head.asInstanceOf[Long] -> s).toMap
      val wau20 = byDay(20L)(2).asInstanceOf[Double]
      assert(math.abs(wau20 - 360) / 360.0 < 0.3, wau20.toString)
      batch.foreach { s =>
        val (s7, s28) = (s(4).asInstanceOf[Double], s(5).asInstanceOf[Double])
        assert(s7 > 0 && s7 <= 1.0001 && s28 > 0 && s28 <= s7 + 1e-9, s.toString)
      }
    } finally q.stop()
  }
}
