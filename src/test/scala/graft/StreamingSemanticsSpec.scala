package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.TumblingWindow
import graft.streaming.{ChangelogSink, StatefulTable, WindowedStream}

/** Streaming semantics against the reference's contracts (SURVEY §2.8):
  * running keyed fold (Table write path), window-close-final-value
  * emission (append + watermark), late-data acceptance within expires,
  * and changelog-sink compaction.
  */
class StreamingSemanticsSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("StatefulTable.runningFold: per-key counts accumulate across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val folded = StatefulTable.runningFold(
      input.toDS(), (kv: (String, Int)) => kv._1)(0L)((acc, kv) => acc + kv._2)()
    // without a TTL: one FlatMapGroupsWithState, no timeout, update mode
    val keyed = folded.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState =>
        (f.timeout, f.outputMode)
    }
    assert(keyed == Seq((org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      OutputMode.Update())), keyed)
    val q = folded.writeStream.format("memory").queryName("fold_out")
      .outputMode("update").start()
    try {
      input.addData(("a", 1), ("b", 2), ("a", 3))
      q.processAllAvailable()
      input.addData(("a", 10), ("c", 5))
      q.processAllAvailable()
      val rows = spark.table("fold_out").as[(String, Long)].collect()
      // last emission per key wins (update mode)
      val latest = rows.groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(latest == Map("a" -> 14L, "b" -> 2L, "c" -> 5L))
    } finally q.stop()
  }

  test("StatefulTable.runningFold: a processing-time TTL expires an idle key") {
    implicit val sqlCtx = spark.sqlContext
    // a processing-time timeout asks for another batch after every
    // batch; with no-data batches on, processAllAvailable never settles
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    val input = MemoryStream[(String, Int)]
    val folded = StatefulTable.runningFold(
      input.toDS(), (kv: (String, Int)) => kv._1)(0L)((acc, _) => acc + 1)(
      Some(java.time.Duration.ofMillis(500)))
    val q = folded.writeStream.format("memory").queryName("fold_ttl_out")
      .outputMode("update").start()
    try {
      input.addData(("a", 1), ("a", 1))
      q.processAllAvailable()
      Thread.sleep(1000) // past a's TTL
      input.addData(("b", 1))
      q.processAllAvailable()
      // a's timeout fired in b's batch: one key (b) is left in state
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L,
        q.lastProgress.stateOperators.head.json)
      input.addData(("a", 1))
      q.processAllAvailable()
      val rows = spark.table("fold_ttl_out").as[(String, Long)].collect().toSeq
      // an expired key emits nothing, and its count restarts at 1
      assert(rows == Seq(("a", 2L), ("b", 1L), ("a", 1L)), rows.toString)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(noData, p)
        case None => spark.conf.unset(noData)
      }
    }
  }

  test("every keyed store in src/main goes through StatefulTable") {
    // call forms only, so scaladoc prose naming the API does not trip it
    val keyedState = ("""\.(flatMapGroupsWithState|mapGroupsWithState)\[|""" +
      """\.transformWithState\(|GroupStateTimeout\.|setTimeoutTimestamp\(""").r
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val (inTable, elsewhere) = try files.iterator().asScala.toList
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if keyedState.findFirstIn(line).isDefined =>
              (f.getFileName.toString, s"$f:${i + 1}: ${line.trim}")
          }
        }.partition(_._1 == "StatefulTable.scala")
      finally files.close()
    // and StatefulTable itself makes exactly one keyed-state call
    val tableCalls = inTable.map(_._2).filter(l =>
      l.contains(".flatMapGroupsWithState[") || l.contains(".mapGroupsWithState[") ||
        l.contains(".transformWithState("))
    val hits = elsewhere.map(_._2) ++
      (if (tableCalls.size == 1) Nil else tableCalls)
    if (hits.nonEmpty) fail(hits.mkString("\n"))
  }

  test("streaming HLL registers: incremental state, estimate matches batch") {
    import graft.ops.SketchOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val regs = SketchOps.hllRegisters(
      input.toDS().toDF("slice", "user"), Seq("slice"), "user", p = 8)
    // update mode: one streaming-safe max agg maintains the registers;
    // the estimate fold runs at read time over the register table
    val q = regs.writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      val batch1 = (1L to 900L).map(u => ("a", u)) ++ (1L to 700L).map(u => ("b", u))
      val batch2 = (500L to 1300L).map(u => ("a", u))
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
      val streamed = SketchOps.hllEstimateFromRegisters(
        spark.table("hll_regs"), Seq("slice"), p = 8)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // identical input through the batch path → identical registers
      // (max is commutative/idempotent) → identical estimate
      val all = (batch1 ++ batch2).toDF("slice", "user")
      val batch = SketchOps.hyperLogLogBy(all, Seq("slice"), "user", p = 8)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // accuracy on the true cardinalities (1300 and 700 distinct)
      assert(math.abs(streamed("a") - 1300) / 1300.0 < 0.25)
      assert(math.abs(streamed("b") - 700) / 700.0 < 0.25)
      // the pairwise overlap report serves straight off the maintained
      // register state — identical to the batch fold over all data
      // (true overlap: users 500..900 + 1..700 ∩ 1..1300 = 700)
      val streamedOverlap = SketchOps.hllOverlapFromRegisters(
        spark.table("hll_regs"), "slice", p = 8).collect()
      val batchOverlap = SketchOps.hllOverlap(all, "slice", "user", p = 8)
        .collect()
      assert(streamedOverlap.toSeq == batchOverlap.toSeq,
        s"streamed=${streamedOverlap.toSeq} batch=${batchOverlap.toSeq}")
      val estCommon = streamedOverlap.head.getDouble(5)
      assert(math.abs(estCommon - 700) / 700.0 < 0.5, s"est_common=$estCommon")
    } finally q.stop()
  }

  test("streaming source-signature registers: incremental mins, matrix matches batch") {
    import graft.ops.TextOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val regs = TextOps.sourceSignatureRegisters(
      input.toDS().toDF("src", "text"), "src", "text", k = 16)
    val q = regs.writeStream.format("memory").queryName("sig_regs")
      .outputMode("complete").start()
    try {
      val batch1 = Seq(("a", "alpha beta gamma delta"),
        ("b", "alpha beta gamma epsilon"), ("c", "zeta eta theta iota"))
      val batch2 = Seq(("a", "epsilon zeta"), ("c", "kappa lambda"))
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
      // min is commutative/idempotent → the maintained registers equal
      // the batch signature over ALL docs, so the served matrix does too.
      // (snapshot first: the memory-sink MemoryPlan exposes the same
      // attribute ids on both legs of the fold's self-join)
      val snap = spark.table("sig_regs")
        .as[(String, Int, Long)].collect().toSeq.toDF("grp", "i", "mh")
      val streamed = TextOps.sourceSimilarityFromRegisters(snap, k = 16)
        .orderBy("src_a", "src_b").collect().toSeq
      val batch = TextOps.sourceSimilarityMinhash(
        (batch1 ++ batch2).toDF("src", "text"), "src", "text", k = 16)
        .orderBy("src_a", "src_b").collect().toSeq
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // shape: all 3 source pairs present; a/b share most tokens so
      // their estimate dominates the disjoint c pairs
      assert(streamed.size == 3)
      val est = streamed.map(r =>
        (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
      assert(est(("a", "b")) > est(("a", "c")))
      assert(est(("a", "b")) > est(("b", "c")))
    } finally q.stop()
  }

  test("streaming sliding-distinct: window merges over the maintained register log") {
    import graft.ops.SketchOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (hour bucket, user)
    val regs = SketchOps.hllRegisters(
      input.toDS().toDF("bucket", "user"), Seq("bucket"), "user", p = 8)
    val q = regs.writeStream.format("memory").queryName("sliding_regs")
      .outputMode("complete").start()
    try {
      // three hours of traffic with overlapping users across batches
      val b1 = (1L to 300L).map(u => (0L, u)) ++ (100L to 350L).map(u => (1L, u))
      val b2 = (200L to 600L).map(u => (2L, u)) ++ (301L to 400L).map(u => (0L, u))
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      // the trailing-2h dashboard estimate reads ONLY the register log
      val streamed = SketchOps.hllSlidingFromRegisters(
        spark.table("sliding_regs"), "bucket", windowSize = 2, p = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val batch = SketchOps.hllSlidingDistinct(
        (b1 ++ b2).toDF("bucket", "user"), "bucket", "user",
        windowSize = 2, p = 8)
        .select($"bucket", $"hll_est")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // sanity: window 2 over hour 2 covers hours 1+2 →
      // users 100..350 ∪ 200..600 = 100..600 (501 true)
      assert(math.abs(streamed(2L) - 501) / 501.0 < 0.3, streamed.toString)
    } finally q.stop()
  }

  test("streaming CMS registers: bounded state, estimates match the batch sketch") {
    import graft.ops.SketchOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    // count is commutative: the same register groupBy maintains the
    // sketch incrementally in complete mode, state bounded by depth*width
    val regs = SketchOps.cmsRegisters(input.toDS().toDF("tok"), "tok",
      depth = 3, width = 16)
    val q = regs.writeStream.format("memory").queryName("cms_regs")
      .outputMode("complete").start()
    try {
      val batch1 = Seq.fill(40)("alpha") ++ Seq.fill(15)("beta") ++
        (1 to 50).map(i => s"u$i")
      val batch2 = Seq.fill(25)("alpha") ++ Seq.fill(5)("gamma")
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
      val streamedRegs = spark.table("cms_regs")
      assert(streamedRegs.count() <= 3 * 16)
      val keys = Seq("alpha", "beta", "gamma").toDF("tok")
      val streamed = SketchOps.cmsEstimates(streamedRegs, keys, "tok",
        depth = 3, width = 16)
        .as[(String, Long)].collect().toMap
      val batchRegs = SketchOps.cmsRegisters(
        (batch1 ++ batch2).toDF("tok"), "tok", depth = 3, width = 16)
      val batch = SketchOps.cmsEstimates(batchRegs, keys, "tok",
        depth = 3, width = 16)
        .as[(String, Long)].collect().toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // overestimate property on the true counts
      assert(streamed("alpha") >= 65 && streamed("beta") >= 15 &&
        streamed("gamma") >= 5)
    } finally q.stop()
  }

  test("streaming dyadic quantile registers: bounded state, quantiles match batch") {
    import graft.ops.SketchOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    // same commutative-count register groupBy as the CMS twin above —
    // the quantile sketch is maintainable in complete mode with state
    // bounded by depth*width regardless of stream length
    val regs = SketchOps.dyadicCmsRegisters(input.toDS().toDF("v"), "v",
      levels = 6, depth = 3, width = 32)
    val q = regs.writeStream.format("memory").queryName("dyadic_regs")
      .outputMode("complete").start()
    try {
      val batch1: Seq[Long] = (1L to 40L) ++ Seq.fill(20)(7L)
      val batch2: Seq[Long] = Seq.fill(10)(55L) ++ (20L to 30L)
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
      val streamedRegs = spark.table("dyadic_regs")
      assert(streamedRegs.count() <= 3 * 32)
      val all = (batch1 ++ batch2)
      val total = Seq(all.size.toLong).toDF("n")
      val phis = Seq(0.5, 0.9)
      val streamed = SketchOps.dyadicCmsQuantiles(streamedRegs, total,
        phis, levels = 6, depth = 3, width = 32)
        .select("phi", "q_est").as[(Double, Long)].collect().toMap
      val batchRegs = SketchOps.dyadicCmsRegisters(all.toDF("v"), "v",
        levels = 6, depth = 3, width = 32)
      val batch = SketchOps.dyadicCmsQuantiles(batchRegs, total,
        phis, levels = 6, depth = 3, width = 32)
        .select("phi", "q_est").as[(Double, Long)].collect().toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // one-sided: the sketch quantile never exceeds the exact one
      val sorted = all.sorted
      phis.foreach { p =>
        val exact = sorted((math.ceil(p * all.size) - 1).toInt)
        assert(streamed(p) <= exact, s"phi=$p est=${streamed(p)} exact=$exact")
      }
    } finally q.stop()
  }

  test("streaming funnel: stateful per-key steps converge to the batch answer") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    // q60's crafted fixture: out-of-order pre-view click, a
    // non-converting purchase-before-click, a partial entry, a
    // never-enters user
    val evs = Seq(
      (1L, "click", 10L), (1L, "view", 20L), (1L, "click", 30L),
      (1L, "purchase", 40L),
      (2L, "view", 10L), (2L, "purchase", 15L), (2L, "click", 20L),
      (3L, "view", 5L),
      (4L, "click", 1L), (4L, "purchase", 2L))
    val input = MemoryStream[(Long, String, Long)]
    val q = EventOps.funnelStepsStream(input.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    try {
      // per-key ts-ordered delivery (the Kafka partition contract),
      // split across two micro-batches mid-funnel
      val ordered = evs.sortBy(e => (e._3, e._1))
      val (b1, b2) = ordered.splitAt(5)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      // filled slots never regress, so final per-user row = columnwise max
      val streamed = spark.table("funnel_stream")
        .groupBy("user_id")
        .agg(max(element_at($"step_ts", 1)).as("v"),
          max(element_at($"step_ts", 2)).as("c"),
          max(element_at($"step_ts", 3)).as("p"))
        .where($"v" =!= -1L) // never-entered users aren't in the batch report
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = EventOps.funnelSteps(evs.toDF("user_id", "event_type", "ts"),
          "user_id", "event_type", "ts", steps)
        .select($"user_id", $"view_ts",
          coalesce($"click_ts", lit(-1L)).as("c"),
          coalesce($"purchase_ts", lit(-1L)).as("p"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming funnel: TTL evicts state past the watermark and resets the key") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val input = MemoryStream[(Long, String, Long)]
    // stateTtl=30s, no conversion window: user 1 enters at ts=10; once
    // the watermark passes 10+30=40s the key's state must be evicted,
    // so a later (non-late) purchase lands in a FRESH funnel (no view →
    // doesn't fill) instead of completing the pre-eviction one.
    val q = EventOps.funnelStepsStream(input.toDS(), steps,
        within = None, stateTtl = Some(30L))
      .writeStream.format("memory").queryName("funnel_ttl_stream")
      .outputMode("update").start()
    try {
      input.addData(Seq((1L, "view", 10L), (1L, "click", 20L)))
      q.processAllAvailable()
      // advance the watermark past user 1's expiry (40s) via another key
      input.addData(Seq((9L, "view", 100L)))
      q.processAllAvailable()
      input.addData(Seq((9L, "view", 101L))) // batch in which the timeout fires
      q.processAllAvailable()
      // ts=102 is ahead of the watermark (101), so it is NOT dropped as
      // late — it reaches the function and must find an empty state
      input.addData(Seq((1L, "purchase", 102L)))
      q.processAllAvailable()
      val finalRow = spark.table("funnel_ttl_stream")
        .groupBy("user_id")
        .agg(max(element_at($"step_ts", 1)).as("v"),
          max(element_at($"step_ts", 2)).as("c"),
          max(element_at($"step_ts", 3)).as("p"))
        .where($"user_id" === 1L)
        .as[(Long, Long, Long, Long)].collect().head
      // pre-eviction progress survives as emitted rows (v=10, c=20); the
      // post-eviction purchase must NOT have completed the old funnel
      assert(finalRow == ((1L, 10L, 20L, -1L)),
        s"expected evicted-state reset, got $finalRow")
    } finally q.stop()
  }

  test("streaming session_window: gap merge + watermark-close finals") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val sessions = input.toDS().toDF("user", "ts")
      .withWatermark("ts", "30 seconds")
      .groupBy(session_window(col("ts"), "10 seconds").as("w"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), unix_timestamp(col("w.start")).as("start"),
        unix_timestamp(col("w.end")).as("end"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    try {
      // u1: events at 0, 5, 12 → one merged session [0, 22); u2 at 40 →
      // separate session. An event at 100 advances the watermark past
      // both so append mode emits the finals.
      input.addData(("u1", ts(0)), ("u1", ts(5)), ("u1", ts(12)), ("u2", ts(40)))
      q.processAllAvailable()
      input.addData(("u3", ts(100)))
      q.processAllAvailable()
      input.addData(("u3", ts(200))) // push watermark past u3's session too
      q.processAllAvailable()
      val got = spark.table("session_out").as[(String, Long, Long, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got("u1") == ((0L, 22L, 3L)))   // 3 events chained within gap
      assert(got("u2") == ((40L, 50L, 1L)))  // isolated session = gap length
      assert(got.contains("u3") || spark.table("session_out").count() >= 2)
    } finally q.stop()
  }

  test("window-close: append mode emits one final row after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDS().toDF("ts", "key", "value")
    // onWindowClose returns the writer with append mode already set
    val q = WindowedStream.onWindowClose(df, "ts",
      TumblingWindow(10_000, expires = Some(2_000)),
      Seq(col("key")), Seq(count(lit(1)).as("n"), sum($"value").as("sum_v")))
      .format("memory").queryName("close_out").start()
    try {
      input.addData((ts(1), "k", 1.0), (ts(5), "k", 2.0))
      q.processAllAvailable()
      // window [0,10) not closed yet: watermark = 5 - 2 = 3 < 10
      assert(spark.table("close_out").count() == 0)
      // advance stream time beyond 10 + 2
      input.addData((ts(15), "k", 7.0))
      q.processAllAvailable()
      input.addData((ts(20), "k", 9.0))
      q.processAllAvailable()
      val closed = spark.table("close_out")
        .select(unix_timestamp($"window.start").as("w"), $"key", $"n", $"sum_v")
        .as[(Long, String, Long, Double)].collect().toSet
      // exactly the [0,10) window, final values, emitted once
      assert(closed == Set((0L, "k", 2L, 3.0)))
    } finally q.stop()
  }

  test("late data within expires still updates its old window (update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDS().toDF("ts", "key", "value")
    val agg = WindowedStream.windowedAgg(df, "ts",
      TumblingWindow(10_000, expires = Some(60_000)),
      Seq(col("key")), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("update").start()
    try {
      input.addData((ts(1), "k", 1.0), (ts(30), "k", 1.0))
      q.processAllAvailable()
      // a late event for window [0,10): within expires=60s of stream time 30
      input.addData((ts(3), "k", 1.0))
      q.processAllAvailable()
      val perWindow = spark.table("late_out")
        .select(unix_timestamp($"window.start").as("w"), $"n")
        .as[(Long, Long)].collect()
        .groupBy(_._1).map { case (w, vs) => w -> vs.map(_._2).max }
      assert(perWindow(0L) == 2L, s"late event must update window 0: $perWindow")
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks (the join faust stubbed)") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val buys = MemoryStream[(Timestamp, Long, Long)]
    val c = clicks.toDS().toDF("c_ts", "c_user", "c_id")
      .withWatermark("c_ts", "10 seconds")
    val b = buys.toDS().toDF("b_ts", "b_user", "b_id")
      .withWatermark("b_ts", "10 seconds")
    val joined = c.join(b,
      expr("c_user = b_user AND b_ts BETWEEN c_ts AND c_ts + interval 30 seconds"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      clicks.addData((ts(100), 1L, 10L), (ts(100), 2L, 11L))
      buys.addData((ts(120), 1L, 20L), (ts(200), 2L, 21L))
      q.processAllAvailable()
      val got = spark.table("ssj_out").select("c_id", "b_id")
        .as[(Long, Long)].collect().toSet
      // user 1: buy 20s after click → within 30s window; user 2: 100s → no
      assert(got == Set((10L, 20L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched left after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val buys = MemoryStream[(Timestamp, Long, Long)]
    val c = clicks.toDS().toDF("c_ts", "c_user", "c_id")
      .withWatermark("c_ts", "5 seconds")
    val b = buys.toDS().toDF("b_ts", "b_user", "b_id")
      .withWatermark("b_ts", "5 seconds")
    val joined = c.join(b,
      expr("c_user = b_user AND b_ts BETWEEN c_ts AND c_ts + interval 30 seconds"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssloj_out")
      .outputMode("append").start()
    try {
      // user 1 converts within the bound; user 2 never converts
      clicks.addData((ts(100), 1L, 10L), (ts(100), 2L, 11L))
      buys.addData((ts(120), 1L, 20L))
      q.processAllAvailable()
      // advance both watermarks far past click@100 + 30s bound so the
      // unmatched left row can be finalized as (11, null)
      clicks.addData((ts(500), 9L, 99L))
      buys.addData((ts(500), 9L, 98L))
      q.processAllAvailable()
      clicks.addData((ts(600), 8L, 89L))
      buys.addData((ts(600), 8L, 88L))
      q.processAllAvailable()
      val got = spark.table("ssloj_out").select("c_id", "b_id")
        .as[(Long, Option[Long])].collect().toSet
      assert(got.contains((10L, Some(20L))), s"matched pair missing: $got")
      assert(got.contains((11L, None)),
        s"unmatched left must surface with null right after watermark: $got")
    } finally q.stop()
  }

  test("stream-stream left-outer: null-emission timing, late-data match, batch parity") {
    // the three contracts the basic left-outer test doesn't pin:
    //  1. NO null-padded row may be emitted while the watermark is
    //     still below the join bound (premature finalization would be
    //     a wrong answer, not just an early one);
    //  2. a LATE right-side row (older event time than already-seen
    //     data, but above the global watermark) still matches;
    //  3. once all state flushes, the append-mode output equals the
    //     BATCH left-outer join of the same data (the oracle).
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val buys = MemoryStream[(Timestamp, Long, Long)]
    val joinExpr =
      "c_user = b_user AND b_ts BETWEEN c_ts AND c_ts + interval 30 seconds"
    val c = clicks.toDS().toDF("c_ts", "c_user", "c_id")
      .withWatermark("c_ts", "5 seconds")
    val b = buys.toDS().toDF("b_ts", "b_user", "b_id")
      .withWatermark("b_ts", "5 seconds")
    val joined = c.join(b, expr(joinExpr), "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssloj_timing")
      .outputMode("append").start()
    def got: Set[(Long, Option[Long])] =
      spark.table("ssloj_timing").select("c_id", "b_id")
        .as[(Long, Option[Long])].collect().toSet
    try {
      // users 1-3 click at t=100; only user 1's buy arrives now
      clicks.addData((ts(100), 1L, 10L), (ts(100), 2L, 11L), (ts(100), 3L, 12L))
      buys.addData((ts(120), 1L, 20L))
      q.processAllAvailable()
      assert(!got.exists(_._2.isEmpty),
        s"null rows emitted while watermark (115) < join bound (130): $got")
      // advance ONLY the click side to t=200: global watermark stays
      // min(195, 115) = 115 < 130, so clicks 11/12 must stay pending
      clicks.addData((ts(200), 7L, 70L))
      q.processAllAvailable()
      assert(!got.exists(_._2.isEmpty),
        s"null rows emitted while global watermark (115) < bound: $got")
      // LATE buy for user 2: b_ts=125 is older than the click stream's
      // already-seen t=200, but above the global watermark 115 — it
      // must still match click 11 (not be dropped, not null-finalize)
      buys.addData((ts(125), 2L, 21L))
      q.processAllAvailable()
      assert(got.contains((11L, Some(21L))),
        s"late-but-above-watermark buy failed to match: $got")
      // now push BOTH watermarks far past the bound; user 3's click
      // finalizes as (12, null) on the eviction tick that follows the
      // watermark advance (Spark evicts one batch after the watermark
      // moves, hence two sentinel rounds)
      clicks.addData((ts(500), 9L, 99L)); buys.addData((ts(500), 9L, 98L))
      q.processAllAvailable()
      clicks.addData((ts(600), 8L, 89L)); buys.addData((ts(600), 8L, 88L))
      q.processAllAvailable()
      assert(got.contains((12L, None)),
        s"unmatched click missing its null finalization: $got")
      // batch parity: identical data through the identical join
      // expression as a STATIC left-outer join — the oracle the
      // streaming append output must equal once state has flushed
      val allClicks = Seq((ts(100), 1L, 10L), (ts(100), 2L, 11L),
        (ts(100), 3L, 12L), (ts(200), 7L, 70L), (ts(500), 9L, 99L),
        (ts(600), 8L, 89L)).toDF("c_ts", "c_user", "c_id")
      val allBuys = Seq((ts(120), 1L, 20L), (ts(125), 2L, 21L),
        (ts(500), 9L, 98L), (ts(600), 8L, 88L)).toDF("b_ts", "b_user", "b_id")
      val oracle = allClicks.join(allBuys, expr(joinExpr), "left_outer")
        .select($"c_id", $"b_id").as[(Long, Option[Long])].collect().toSet
      // clicks 70 and 89 may still be pending (watermark never passed
      // their bound) — parity holds on the finalized prefix
      val pendingOk = oracle.filter { case (cid, bid) =>
        got.contains((cid, bid)) || (bid.isEmpty && Set(70L, 89L).contains(cid))
      }
      assert(pendingOk == oracle,
        s"streaming append diverges from batch oracle:\n got=$got\n oracle=$oracle")
      assert(got.subsetOf(oracle),
        s"streaming emitted rows the batch oracle doesn't have:\n got=$got\n oracle=$oracle")
    } finally q.stop()
  }

  test("stream-stream FULL OUTER join emits unmatched rows from both sides") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val buys = MemoryStream[(Timestamp, Long, Long)]
    val c = clicks.toDS().toDF("c_ts", "c_user", "c_id")
      .withWatermark("c_ts", "5 seconds")
    val b = buys.toDS().toDF("b_ts", "b_user", "b_id")
      .withWatermark("b_ts", "5 seconds")
    val joined = c.join(b,
      expr("c_user = b_user AND b_ts BETWEEN c_ts AND c_ts + interval 30 seconds"),
      "full_outer")
    val q = joined.writeStream.format("memory").queryName("ssfoj_out")
      .outputMode("append").start()
    try {
      // user 1 matches; user 2 clicks with no buy; user 3 buys with no click
      clicks.addData((ts(100), 1L, 10L), (ts(100), 2L, 11L))
      buys.addData((ts(120), 1L, 20L), (ts(120), 3L, 30L))
      q.processAllAvailable()
      // push watermarks far past the join bound so unmatched state flushes
      clicks.addData((ts(500), 9L, 99L)); buys.addData((ts(500), 9L, 98L))
      q.processAllAvailable()
      clicks.addData((ts(600), 8L, 89L)); buys.addData((ts(600), 8L, 88L))
      q.processAllAvailable()
      val got = spark.table("ssfoj_out").select("c_id", "b_id")
        .as[(Option[Long], Option[Long])].collect().toSet
      assert(got.contains((Some(10L), Some(20L))), s"matched pair missing: $got")
      assert(got.contains((Some(11L), None)),
        s"unmatched left must surface: $got")
      assert(got.contains((None, Some(30L))),
        s"unmatched right must surface: $got")
    } finally q.stop()
  }

  test("RocksDB state store provider backs the running fold") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Int)]
      val folded = StatefulTable.runningFold(
        input.toDS(), (kv: (String, Int)) => kv._1)(0L)((acc, kv) => acc + kv._2)()
      val q = folded.writeStream.format("memory").queryName("rocksdb_out")
        .outputMode("update").start()
      try {
        input.addData(("a", 5)); q.processAllAvailable()
        input.addData(("a", 7)); q.processAllAvailable()
        val latest = spark.table("rocksdb_out").as[(String, Long)]
          .collect().groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
        assert(latest == Map("a" -> 12L))
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark drops replays") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = input.toDS().toDF("ts", "event_id", "payload")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((ts(100), 1L, "a"), (ts(101), 2L, "b"))
      q.processAllAvailable()
      // replay of id 1 inside the watermark window: dropped
      input.addData((ts(102), 1L, "a-replay"), (ts(103), 3L, "c"))
      q.processAllAvailable()
      // advance watermark far past the old ids
      input.addData((ts(500), 4L, "d"))
      q.processAllAvailable()
      input.addData((ts(600), 5L, "e"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("event_id", "payload")
        .as[(Long, String)].collect().toMap
      assert(got(1L) == "a", s"replay must not replace the original: $got")
      assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), s"unexpected ids: $got")
    } finally q.stop()
  }

  test("streaming URL dedup: normalized-url frontier collapses raw crawl variants") {
    // the crawl-frontier shape: URLs arrive as raw strings across
    // micro-batches; normalization is a narrow map BEFORE the keyed
    // dedup state, so tracking-param/case/port variants share one
    // state entry and first-arrival wins. Malformed URLs normalize to
    // null and are filtered out rather than merging into a null key.
    import graft.ops.UrlOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val frontier = input.toDS().toDF("ts", "doc_id", "url")
      .withColumn("url_norm", UrlOps.normalize(col("url")))
      .where(col("url_norm").isNotNull)
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("url_norm")
    val q = frontier.writeStream.format("memory").queryName("url_frontier")
      .outputMode("append").start()
    try {
      input.addData((ts(100), 1L, "http://WWW.h.com/p/?utm_source=a"),
        (ts(101), 2L, "https://other.com/q"))
      q.processAllAvailable()
      // same page, different raw spelling (port + tracking param):
      // dropped by the shared normalized key; junk row: filtered
      input.addData((ts(102), 3L, "http://h.com:80/p?gclid=z"),
        (ts(103), 4L, "junk"), (ts(104), 5L, "http://h.com/p2"))
      q.processAllAvailable()
      val got = spark.table("url_frontier").select("doc_id", "url_norm")
        .as[(Long, String)].collect().toMap
      assert(got == Map(1L -> "http://h.com/p", 2L -> "https://other.com/q",
        5L -> "http://h.com/p2"), s"unexpected frontier: $got")
    } finally q.stop()
  }

  test("streaming ingestion pipeline: quality gate + corpus dedup + PII redaction") {
    // the streaming twin of d09/t09: incoming docs are quality-
    // filtered, anti-joined against the EXISTING corpus's 16-byte
    // fingerprints (stream-static, broadcastable), and PII-masked —
    // all stateless per micro-batch, so it scales as a narrow map +
    // broadcast join at any rate
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextOps
    val corpus = Seq("already stored document text here")
      .toDF("text").select(md5(col("text")).as("fingerprint"))
    val input = MemoryStream[(Long, String)]
    val cleaned = input.toDS().toDF("doc_id", "text")
      .where(TextOps.tokenCount(col("text")) >= 3)
      .withColumn("fingerprint", md5(col("text")))
      .join(broadcast(corpus), Seq("fingerprint"), "left_anti")
      .select(col("doc_id"), TextOps.redactPii(col("text")).as("text"))
    val q = cleaned.writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "already stored document text here"), // dup of corpus → dropped
        (2L, "too short"),                         // quality gate → dropped
        (3L, "write to alice@example.com about the delivery"))
      q.processAllAvailable()
      input.addData((4L, "another fresh document arriving later"))
      q.processAllAvailable()
      val got = spark.table("ingest_out").as[(Long, String)].collect().toMap
      assert(got.keySet == Set(3L, 4L), got.toString)
      assert(got(3L) == "write to <EMAIL> about the delivery", got(3L))
    } finally q.stop()
  }

  test("streaming classifier inference: batch-trained weights score the stream") {
    // the t18 production loop: train once over the stored corpus
    // (batch), then score every incoming doc with the frozen weights —
    // a pure narrow column, so the same expression drops into the
    // micro-batch path unchanged and stream scores equal batch scores
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LearnOps
    val sw = Seq("the", "a", "of", "to")
    val docs = Tables.documents(spark, sf)
    val label = when(col("lang") === "en", 1.0).otherwise(0.0)
    val w = LearnOps.trainQualityClassifier(docs, "text", label, sw,
        steps = 3, lr = 0.2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val weights = Seq(w("w0"), w("w1"), w("w2"), w("w3"))
    val sample = docs.select("doc_id", "text").orderBy("doc_id").limit(5)
      .as[(Long, String)].collect()
    val batchScores = docs
      .select(col("doc_id"),
        LearnOps.qualityScore(weights, col("text"), sw).as("score"))
      .orderBy("doc_id").limit(5).as[(Long, Double)].collect().toMap
    val input = MemoryStream[(Long, String)]
    val scored = input.toDS().toDF("doc_id", "text")
      .select(col("doc_id"),
        LearnOps.qualityScore(weights, col("text"), sw).as("score"))
    val q = scored.writeStream.format("memory").queryName("clf_out")
      .outputMode("append").start()
    try {
      input.addData(sample.take(2).toSeq)
      q.processAllAvailable()
      input.addData(sample.drop(2).toSeq)
      q.processAllAvailable()
      val got = spark.table("clf_out").as[(Long, Double)].collect().toMap
      assert(got == batchScores, s"stream scores diverge: $got vs $batchScores")
      assert(got.values.forall(s => s > 0.0 && s < 1.0))
    } finally q.stop()
  }

  test("streaming CDC-chunk dedup: an edited recrawl contributes only changed chunks") {
    // d19's streaming twin: chunk rows arrive across micro-batches
    // keyed by content hash; dropDuplicatesWithinWatermark keeps state
    // per CHUNK hash, so a re-fetch of an edited page re-emits only
    // the chunks the edit re-cut — the unchanged remainder hits
    // existing state. (Chunking itself runs upstream/batch-side: the
    // boundary pass needs a per-doc window, which streaming forbids —
    // same split as the reference's preprocess-then-stream layout.)
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextOps
    val v1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val v2 = v1.replaceFirst("gamma", "EDITED")
    def chunksOf(id: Long, text: String): Seq[(Long, Long, String)] =
      TextOps.contentDefinedChunks(
          Seq((id, text)).toDF("doc_id", "text"), "doc_id", "text",
          window = 2, modulus = 3)
        .select(col("id"), col("chunk_id"), col("chunk_text"))
        .as[(Long, Long, String)].collect().toSeq
    val c1 = chunksOf(1L, v1)
    val c2 = chunksOf(2L, v2)
    val input = MemoryStream[(Timestamp, Long, Long, String)]
    val deduped = input.toDS().toDF("ts", "doc_id", "chunk_id", "chunk_text")
      .withColumn("chunk_hash", md5(col("chunk_text")))
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("chunk_hash")
    val q = deduped.writeStream.format("memory").queryName("chunk_dedup")
      .outputMode("append").start()
    try {
      input.addData(c1.map { case (d, c, t) => (ts(100), d, c, t) })
      q.processAllAvailable()
      val afterV1 = spark.table("chunk_dedup").count()
      input.addData(c2.map { case (d, c, t) => (ts(110), d, c, t) })
      q.processAllAvailable()
      val fromV2 = spark.table("chunk_dedup").where(col("doc_id") === 2L)
        .select("chunk_text").as[String].collect()
      // the recrawl lands only the edit-affected chunks: a strict
      // subset, none of which existed in v1's chunk set (boundary
      // re-cuts near the edit may emit a changed chunk without the
      // token itself, but at least one carries it)
      assert(fromV2.nonEmpty && fromV2.length < c2.length,
        s"expected a strict subset of ${c2.length} chunks, got ${fromV2.length}")
      val v1Texts = c1.map(_._3).toSet
      assert(fromV2.forall(t => !v1Texts.contains(t)))
      assert(fromV2.exists(_.contains("EDITED")),
        s"edit never surfaced: ${fromV2.mkString(" | ")}")
      // and the v1 state is what suppressed them (v1's own repeated
      // phrasing already collapses within the first batch)
      assert(afterV1 == c1.map(_._3).distinct.length)
    } finally q.stop()
  }

  test("ChangelogSink: append per batch, compacted read = latest per key") {
    val dir = Sessions.tempDir("graft-changelog").toString
    val b0 = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val b1 = Seq(("a", 10), ("c", 3)).toDF("k", "v")
    ChangelogSink.appendBatch(dir)(b0, 0L)
    ChangelogSink.appendBatch(dir)(b1, 1L)
    // idempotent batch retry: rewriting batch 1 must not duplicate
    ChangelogSink.appendBatch(dir)(b1, 1L)
    val compacted = ChangelogSink.readCompacted(spark, dir, Seq("k"))
      .as[(String, Int)].collect().toSet
    assert(compacted == Set(("a", 10), ("b", 2), ("c", 3)))
  }

  test("streaming transition pairs: last-event state, streamed ≡ batch, TTL evicts") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    // the same events with no state bound and with a TTL
    Seq(None -> "trans_pairs", Some(1000L) -> "trans_pairs_ttl").foreach { case (ttl, name) =>
      val input = MemoryStream[(Long, String, Long, Long)]
      val pairs = EventOps.transitionPairsStream(input.toDS(),
        gapSeconds = 1000L, stateTtl = ttl)
      val q = pairs.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // u1: a->b->a inside the gap; u2: a then (batch 2) b inside gap —
        // state carries ACROSS micro-batches
        input.addData((1L, "a", 100L, 1L), (1L, "b", 200L, 2L),
          (1L, "a", 300L, 3L), (2L, "a", 50L, 6L))
        q.processAllAvailable()
        // batch 2: must sit at/above the watermark (300s after batch 1 —
        // a 0-second watermark drops older arrivals as late data)
        input.addData((2L, "b", 360L, 7L))
        q.processAllAvailable()
        // u1 again far past the gap AND past the TTL (which evicted its
        // state): the pair is gap-inadmissible either way — no emission
        input.addData((1L, "c", 99999L, 8L))
        q.processAllAvailable()
        val streamed = spark.table(name).as[(String, String)]
          .collect().groupBy(identity).map { case (k, v) => k -> v.length.toLong }
        val batch = EventOps.transitionMatrix(
          Seq((1L, "a", 100L, 1L), (1L, "b", 200L, 2L), (1L, "a", 300L, 3L),
            (2L, "a", 50L, 6L), (2L, "b", 360L, 7L), (1L, "c", 99999L, 8L))
            .toDF("user_id", "event_type", "ts_sec", "event_id"),
          "user_id", "event_type", "ts_sec", "event_id", gapSeconds = 1000L)
          .as[(String, String, Long, Double)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        assert(streamed == batch, s"ttl=$ttl streamed=$streamed batch=$batch")
      } finally q.stop()
    }
  }

  test("streaming robust-anomaly monitor: census in update mode, bounds at read") {
    // q74's streaming twin: the hourly (type, bucket) census is the
    // only stream-maintained state (bounded by types × hours — one
    // commutative count agg); the median/MAD baseline + flags fold at
    // READ time over that small census table, like the HLL/CMS
    // register sketches. Streamed census ≡ batch census ⇒ identical
    // monitor output.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)] // (event_type, ts_sec)
    val census = input.toDS().toDF("event_type", "ts_sec")
      .groupBy(col("event_type"), expr("ts_sec div 3600").as("hour_bucket"))
      .agg(count(lit(1)).as("n"))
    val q = census.writeStream.format("memory").queryName("anomaly_census")
      .outputMode("complete").start()
    try {
      // type "a": steady 2/hour over 5 hours, then a 50-event spike
      val steady = for (h <- 0L until 5L; i <- 0L until 2L)
        yield ("a", h * 3600L + i * 7L)
      val spike = (0L until 50L).map(i => ("a", 5L * 3600L + i))
      input.addData(steady)
      q.processAllAvailable()
      input.addData(spike)
      q.processAllAvailable()

      def monitor(c: org.apache.spark.sql.DataFrame) = {
        val bounds = c.groupBy("event_type")
          .agg(expr("percentile(n, 0.5)").as("med"))
        val withMed = c.join(broadcast(bounds), Seq("event_type"))
        val mad = withMed.groupBy("event_type")
          .agg(expr("percentile(abs(n - med), 0.5)").as("mad"))
        withMed.join(broadcast(mad), Seq("event_type"))
          .select(col("event_type"), col("hour_bucket"), col("n"),
            (abs(col("n") - col("med")) > lit(3.0) * col("mad"))
              .as("is_anomaly"))
      }
      // rebuild the census as a fresh frame: the monitor self-joins
      // its input, and the memory-sink View's fixed attribute ids
      // trip Spark's self-join disambiguation (INTERNAL_ERROR) —
      // production reads the census from a real sink table anyway
      val censusRows = spark.table("anomaly_census")
        .as[(String, Long, Long)].collect().toSeq
      val streamed = monitor(censusRows.toDF("event_type", "hour_bucket", "n"))
        .as[(String, Long, Long, Boolean)].collect().toSet
      val batch = monitor(
        (steady ++ spike).toDF("event_type", "ts_sec")
          .groupBy(col("event_type"), expr("ts_sec div 3600").as("hour_bucket"))
          .agg(count(lit(1)).as("n")))
        .as[(String, Long, Long, Boolean)].collect().toSet
      assert(streamed == batch)
      // only the spike bucket flags
      assert(streamed.filter(_._4).map(_._2) == Set(5L), streamed.toString)
    } finally q.stop()
  }

  test("streaming SCD-2: closed intervals ≡ batch non-current rows across batches") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Long)]
    val rows = EventOps.scd2Stream(input.toDS())
    val q = rows.writeStream.format("memory").queryName("scd2_closed")
      .outputMode("append").start()
    try {
      // u1: a(100) → a(150, same-state no-op) → b(200) closes a@[100,199]
      input.addData((1L, "a", 100L, 1L), (1L, "a", 150L, 2L),
        (1L, "b", 200L, 3L))
      q.processAllAvailable()
      // batch 2: u1 c(300) closes b@[200,299] — state crossed batches;
      // u2 opens x (stays open, nothing emitted)
      input.addData((1L, "c", 300L, 4L), (2L, "x", 50L, 5L))
      q.processAllAvailable()
      val streamed = spark.table("scd2_closed")
        .as[(Long, String, Long, Long)].collect().toSet
      // batch twin: q92's change-compression on the same rows, closed only
      val batch = {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
        Seq((1L, "a", 100L, 1L), (1L, "a", 150L, 2L), (1L, "b", 200L, 3L),
          (1L, "c", 300L, 4L), (2L, "x", 50L, 5L))
          .toDF("user_id", "event_type", "ts_sec", "event_id")
          .withColumn("__prev", lag($"event_type", 1).over(w))
          .where($"__prev".isNull || $"__prev" =!= $"event_type")
          .withColumn("effective_to", lead($"ts_sec", 1).over(w) - 1)
          .where($"effective_to".isNotNull)
          .select($"user_id", $"event_type", $"ts_sec", $"effective_to")
          .as[(Long, String, Long, Long)].collect().toSet
      }
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed == Set((1L, "a", 100L, 199L), (1L, "b", 200L, 299L)))
    } finally q.stop()
  }

  test("streaming SCD-2 TTL: idle entity retires with a MaxValue final row, history restarts") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Long)]
    // ttl = 300 s of event time past the entity's LAST event
    val rows = EventOps.scd2Stream(input.toDS(), stateTtl = Some(300L))
    val q = rows.writeStream.format("memory").queryName("scd2_ttl")
      .outputMode("append").start()
    def collected = spark.table("scd2_ttl")
      .as[(Long, String, Long, Long)].collect().toSet
    try {
      // u1: a(100) → b(200) closes a@[100,199]; open interval is b@200
      input.addData((1L, "a", 100L, 1L), (1L, "b", 200L, 2L))
      q.processAllAvailable()
      assert(collected == Set((1L, "a", 100L, 199L)))
      // u2 far in the future advances the watermark past 200 + 300
      input.addData((2L, "x", 10000L, 3L))
      q.processAllAvailable()
      // timeout fires on the NEXT batch (watermark updates at batch end)
      input.addData((3L, "y", 10001L, 4L))
      q.processAllAvailable()
      // u1 retired: its open b-interval flushed with the current-row sentinel
      assert(collected == Set((1L, "a", 100L, 199L),
        (1L, "b", 200L, Long.MaxValue)))
      // resurrection: u1 returns — history RESTARTS (no b→c closure at
      // from=200); c(20000) → d(20050) closes c@[20000,20049]
      input.addData((1L, "c", 20000L, 5L), (1L, "d", 20050L, 6L))
      q.processAllAvailable()
      // u2/u3 retire too once the watermark reaches 20050 — every
      // evicted entity flushes its open interval exactly once
      assert(collected == Set((1L, "a", 100L, 199L),
        (1L, "b", 200L, Long.MaxValue), (1L, "c", 20000L, 20049L),
        (2L, "x", 10000L, Long.MaxValue), (3L, "y", 10001L, Long.MaxValue)))
    } finally q.stop()
  }

  test("streaming new-vs-returning: first-seen state, streamed ≡ batch, TTL resurrects") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user_id, day)
    val rows = EventOps.newVsReturningStream(input.toDS())
    val q = rows.writeStream.format("memory").queryName("nvr_rows")
      .outputMode("append").start()
    try {
      // u1 day 1 (new) + duplicate same-day event; u2 day 1 (new)
      input.addData((1L, 1L), (1L, 1L), (2L, 1L))
      q.processAllAvailable()
      // u1 returns day 2 — state carries across micro-batches
      input.addData((1L, 2L))
      q.processAllAvailable()
      // u1 day-2 replay in a later batch: already counted, no emission
      input.addData((1L, 2L))
      q.processAllAvailable()
      val streamed = spark.table("nvr_rows").as[(Long, Boolean)]
        .collect().toSeq
        .groupBy(_._1).map { case (d, v) =>
          (d, v.size.toLong, v.count(_._2).toLong)
        }.toSet
      // batch twin over the same events (q89's shape on (user, day))
      val batch = Seq((1L, 1L), (1L, 1L), (2L, 1L), (1L, 2L), (1L, 2L))
        .toDF("user_id", "day").distinct()
        .withColumn("first_day", min(col("day")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
        .groupBy("day")
        .agg(count(lit(1)).as("active"),
          count(when(col("day") === col("first_day"), 1)).as("new_users"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()

    // TTL flavor: a user idle past the TTL is evicted and counts as
    // NEW again on return (the activity-window "new" definition)
    val input2 = MemoryStream[(Long, Long)]
    val rows2 = EventOps.newVsReturningStream(input2.toDS(),
      stateTtl = Some(86400L)) // 1-day activity window
    val q2 = rows2.writeStream.format("memory").queryName("nvr_ttl")
      .outputMode("append").start()
    try {
      input2.addData((1L, 1L))
      q2.processAllAvailable()
      // advance watermark far past day 1 + ttl via another user
      input2.addData((2L, 100L))
      q2.processAllAvailable()
      input2.addData((2L, 100L)) // trigger timeout processing
      q2.processAllAvailable()
      // u1 returns on day 101: evicted state ⇒ counted new again
      input2.addData((1L, 101L))
      q2.processAllAvailable()
      val out = spark.table("nvr_ttl").as[(Long, Boolean)].collect().toSeq
      assert(out.contains((1L, true)) && out.contains((101L, true)), out.toString)
      assert(out.count(_._2) == 3, s"u1 must be new twice + u2 once: $out")
    } finally q2.stop()
  }

  test("streaming growth accounting: day classes streamed ≡ batch across batches") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user_id, day)
    val rows = EventOps.growthAccountingStream(input.toDS(), retainDays = 7L)
    val q = rows.writeStream.format("memory").queryName("growth_rows")
      .outputMode("append").start()
    try {
      // u1: day 1 (new) → day 3 (retained); u2: day 1 (new)
      input.addData((1L, 1L), (1L, 3L), (2L, 1L))
      q.processAllAvailable()
      // cross-batch: u1 day 20 (gap 17 → resurrected), u2 day 8
      // (gap 7 → retained, boundary inclusive), u3 day 20 (new)
      input.addData((1L, 20L), (2L, 8L), (3L, 20L), (3L, 20L))
      q.processAllAvailable()
      val streamed = spark.table("growth_rows")
        .groupBy("day").pivot("category",
          Seq("new", "retained", "resurrected")).count()
        .na.fill(0L)
        .as[(Long, Long, Long, Long)].collect().toSet
      // batch twin: q108's window classification on the same rows
      val batch = {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("day")
        Seq((1L, 1L), (1L, 3L), (2L, 1L), (1L, 20L), (2L, 8L), (3L, 20L))
          .toDF("user_id", "day").distinct()
          .withColumn("prev", lag($"day", 1).over(w))
          .withColumn("category", when($"prev".isNull, "new")
            .when($"day" - $"prev" <= 7, "retained").otherwise("resurrected"))
          .groupBy("day").pivot("category",
            Seq("new", "retained", "resurrected")).count()
          .na.fill(0L)
          .as[(Long, Long, Long, Long)].collect().toSet
      }
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed == Set((1L, 2L, 0L, 0L), (3L, 0L, 1L, 0L),
        (8L, 0L, 1L, 0L), (20L, 1L, 0L, 1L)))
    } finally q.stop()

    // TTL flavor: a user idle past the TTL is evicted and classifies
    // as `new` on return, where batch would say `resurrected`
    val input2 = MemoryStream[(Long, Long)]
    val rows2 = EventOps.growthAccountingStream(input2.toDS(),
      retainDays = 7L, stateTtl = Some(86400L)) // 1-day activity window
    val q2 = rows2.writeStream.format("memory").queryName("growth_ttl")
      .outputMode("append").start()
    try {
      input2.addData((1L, 1L))
      q2.processAllAvailable()
      // advance watermark far past day 1 + ttl via another user
      input2.addData((2L, 100L))
      q2.processAllAvailable()
      input2.addData((2L, 100L)) // trigger timeout processing
      q2.processAllAvailable()
      // u1 returns on day 101: a 100-day gap, but its state is gone
      input2.addData((1L, 101L))
      q2.processAllAvailable()
      val out = spark.table("growth_ttl").as[(Long, String)].collect().toSeq
      assert(out.sorted == Seq((1L, "new"), (100L, "new"), (101L, "new")),
        out.toString)
    } finally q2.stop()
  }

  test("streaming attribution pairs: first+last touch per conversion ≡ batch") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    // (user_id, event_type, ts_sec, event_id, value)
    val input = MemoryStream[(Long, String, Long, Long, Double)]
    val rows = EventOps.attributionPairsStream(input.toDS(),
      convType = "purchase", touchTypes = Seq("click", "view"),
      lookback = 100L)
    val q = rows.writeStream.format("memory").queryName("attr_pairs")
      .outputMode("append").start()
    try {
      // u1: view@10, click@50, purchase@60 → first=view, last=click
      input.addData((1L, "view", 10L, 1L, 0.0), (1L, "click", 50L, 2L, 0.0),
        (1L, "purchase", 60L, 3L, 25.0))
      q.processAllAvailable()
      // cross-batch state: u1 purchase@120 — view@10 now OUTSIDE the
      // 100 s lookback, click@50 inside → first=last=click
      input.addData((1L, "purchase", 120L, 4L, 10.0))
      q.processAllAvailable()
      // same-ts tie co-delivered: click@200 has HIGHER event_id than
      // the purchase@200 — batch ties on ts only, so it counts
      input.addData((2L, "purchase", 200L, 5L, 7.0), (2L, "click", 200L, 6L, 0.0))
      q.processAllAvailable()
      // no touch in window → "(none)" (q101's COALESCE channel)
      input.addData((3L, "purchase", 500L, 7L, 3.0))
      q.processAllAvailable()
      val streamed = spark.table("attr_pairs")
        .as[(String, String, Double)].collect().toSet
      assert(streamed == Set(("view", "click", 25.0), ("click", "click", 10.0),
        ("click", "click", 7.0), ("(none)", "(none)", 3.0)), streamed.toString)
    } finally q.stop()

    // TTL flavor (ttl >= lookback): eviction only hits users idle
    // past the lookback, whose buffers couldn't attribute anything
    // anyway — identical output, bounded keyspace
    val input2 = MemoryStream[(Long, String, Long, Long, Double)]
    val rows2 = EventOps.attributionPairsStream(input2.toDS(),
      convType = "purchase", touchTypes = Seq("click"),
      lookback = 100L, stateTtl = Some(100L))
    val q2 = rows2.writeStream.format("memory").queryName("attr_ttl")
      .outputMode("append").start()
    try {
      input2.addData((1L, "click", 10L, 1L, 0.0))
      q2.processAllAvailable()
      // advance the watermark far past u1's ttl via another user,
      // then trigger timeout processing
      input2.addData((2L, "click", 5000L, 2L, 0.0))
      q2.processAllAvailable()
      input2.addData((2L, "click", 5001L, 3L, 0.0))
      q2.processAllAvailable()
      // u1 converts AFTER eviction: its old click was outside the
      // lookback regardless — "(none)", same as the untimed flavor
      input2.addData((1L, "purchase", 6000L, 4L, 9.0))
      q2.processAllAvailable()
      val out = spark.table("attr_ttl")
        .as[(String, String, Double)].collect().toSet
      assert(out == Set(("(none)", "(none)", 9.0)), out.toString)
    } finally q2.stop()
  }

  test("streaming rolling retention: trailing-window day set, streamed ≡ batch q122") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user_id, day)
    val rows = EventOps.rollingRetentionStream(input.toDS(), window = 7L)
    val q = rows.writeStream.format("memory").queryName("retention_rows")
      .outputMode("append").start()
    try {
      // u1: day 1; u2: day 1 and day 8 (active exactly 7 days later)
      input.addData((1L, 1L), (2L, 1L), (2L, 8L))
      q.processAllAvailable()
      // cross-batch state: u1 day 8 (gap 7 → retained), u1 day 16
      // (gap 8 → NOT retained: day-9 absence pruned), dup day ignored
      input.addData((1L, 8L), (1L, 16L), (1L, 16L))
      q.processAllAvailable()
      val streamed = spark.table("retention_rows")
        .groupBy("day").agg(count(lit(1)).as("active"),
          sum(col("retained").cast("long")).as("ret"))
        .as[(Long, Long, Long)].collect().toSet
      // batch twin: q122's shifted self-join on the same rows
      val batch = {
        val d = Seq((1L, 1L), (2L, 1L), (2L, 8L), (1L, 8L), (1L, 16L))
          .toDF("user_id", "day").distinct()
        val p = d.select($"user_id", ($"day" + 7).as("day"),
          lit(1).as("w"))
        d.join(p, Seq("user_id", "day"), "left")
          .groupBy("day").agg(count(lit(1)).as("active"),
            count($"w").as("ret"))
          .as[(Long, Long, Long)].collect().toSet
      }
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed == Set((1L, 2L, 0L), (8L, 2L, 2L), (16L, 1L, 0L)))
    } finally q.stop()
  }

  test("streaming weekly movers: census in update mode, report at read ≡ batch q104") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val census = EventOps.weeklyTotalsStream(
      input.toDS().toDF("event_type", "ts_sec", "value"))
    val q = census.writeStream.format("memory").queryName("weekly_census")
      .outputMode("complete").start()
    try {
      val wk = 604800L
      val evs = Seq(("a", 0L * wk + 5L, 10.0), ("a", 1L * wk + 5L, 30.0),
        ("b", 0L * wk + 9L, 100.0), ("b", 1L * wk + 9L, 40.0),
        ("a", 2L * wk + 1L, 31.0))
      input.addData(evs.take(3))
      q.processAllAvailable()
      input.addData(evs.drop(3))
      q.processAllAvailable()
      val streamedReport = EventOps.weeklyMoversFromTotals(
        spark.table("weekly_census"), 10)
        .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
      val batchReport = EventOps.weeklyMoversFromTotals(
        EventOps.weeklyTotalsStream(evs.toDF("event_type", "ts_sec", "value")), 10)
        .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
      assert(streamedReport == batchReport,
        s"streamed=$streamedReport batch=$batchReport")
      // b moved most (-60), then a (+20), then a week2 (+1)
      assert(streamedReport.map(r => (r._1, r._2, r._5)) ==
        Seq(("b", 1L, -60.0), ("a", 1L, 20.0), ("a", 2L, 1.0)))
    } finally q.stop()
  }

  test("streaming window funnel: funnel census + depth report at read ≡ batch q110") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val input = MemoryStream[(Long, String, Long)]
    val q = EventOps.funnelStepsStream(input.toDS(), steps,
        within = Some(86400L))
      .writeStream.format("memory").queryName("wf_census")
      .outputMode("update").start()
    try {
      // u1 full depth; u2 view+click (purchase outside the 1-day
      // window); u3 view only; u4 click only (never entered)
      val evs = Seq(
        (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L),
        (2L, "view", 50L), (2L, "click", 60L), (2L, "purchase", 50L + 86401L),
        (3L, "view", 10L), (4L, "click", 10L))
      val ordered = evs.sortBy(e => (e._3, e._1))
      val (b1, b2) = ordered.splitAt(4)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      // snapshot: latest per-user census row = columnwise max (filled
      // slots never regress), reassembled into the step_ts array shape
      val census = spark.table("wf_census")
        .groupBy("user_id")
        .agg(array(max(element_at($"step_ts", 1)),
          max(element_at($"step_ts", 2)),
          max(element_at($"step_ts", 3))).as("step_ts"))
      val streamed = EventOps.funnelDepthReport(census, steps.size)
        .as[(Int, Long, Double)].collect().toSeq
      // batch twin: q110's depth histogram over batch funnelSteps
      val f = EventOps.funnelSteps(evs.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", steps, within = Some(86400L))
      val d = f.select(when($"purchase_ts".isNotNull, 3)
        .when($"click_ts".isNotNull, 2).otherwise(1).as("depth"))
      val tot = d.agg(count(lit(1)).as("n_total"))
      val batch = d.groupBy("depth").agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(tot))
        .select($"depth", $"n_users",
          round($"n_users".cast("double") / $"n_total", 6).as("share"))
        .orderBy("depth")
        .as[(Int, Long, Double)].collect().toSeq
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed == Seq((1, 1L, 0.333333), (2, 1L, 0.333333),
        (3, 1L, 0.333333)))
    } finally q.stop()
  }

  test("streaming cross-sell: dedup census + pair report at read ≡ batch q118") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val census = EventOps.orderBrandsStream(
      input.toDS().toDF("ok", "brand"))
    val q = census.writeStream.format("memory").queryName("xsell_census")
      .outputMode("append").start()
    try {
      // order 1: {A,B,C}; order 2: {A,B}; order 3: {B}; duplicate
      // lines split across micro-batches must collapse in state
      val lines = Seq((1L, "A"), (1L, "B"), (2L, "A"), (1L, "A"),
        (1L, "C"), (2L, "B"), (3L, "B"), (2L, "A"), (3L, "B"))
      val (b1, b2) = lines.splitAt(4)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      // consistent read-time snapshot (also: the memory-sink view is
      // not a MultiInstanceRelation, so the report's self-join needs a
      // re-instantiable plan — localCheckpoint yields a LogicalRDD)
      val snap = spark.table("xsell_census").localCheckpoint(true)
      // the streamed census IS the distinct incidence — its own
      // distinct-order count is the report denominator
      val nOrders = snap.agg(countDistinct($"ok").as("n_orders"))
      val streamed = EventOps.crossSellFromOrderBrands(snap, nOrders)
        .as[(String, String, Long, Double, Double)].collect().toSeq
      val ob = lines.toDF("ok", "brand").distinct()
      val batch = EventOps.crossSellFromOrderBrands(ob,
          ob.agg(countDistinct($"ok").as("n_orders")))
        .as[(String, String, Long, Double, Double)].collect().toSeq
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // A-B co-occurs in orders 1,2; lift(A,B) = 2*3/(2*3) = 1
      assert(streamed.head == (("A", "B", 2L, 0.666667, 1.0)))
    } finally q.stop()
  }

  test("streaming ABC: per-part revenue census + Pareto report at read ≡ batch q121") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    // (l_partkey, l_extendedprice, l_discount) lines; the exact-decimal
    // revenue term is computed BEFORE the census agg, as in batch
    val input = MemoryStream[(Long, Double, Double)]
    val rev = ($"l_extendedprice".cast("decimal(18,2)") *
      (lit(1) - $"l_discount".cast("decimal(18,2)"))).as("rev")
    val census = EventOps.partRevenueStream(
      input.toDS().toDF("l_partkey", "l_extendedprice", "l_discount")
        .select($"l_partkey", rev))
    val q = census.writeStream.format("memory").queryName("abc_census")
      .outputMode("complete").start()
    try {
      // per-part revenues 50/20/15/10/5 (total 100): cum shares 50, 70,
      // 85, 95, 100 ⇒ A,A,B,B,C — every class populated, and part 1's
      // total is split across micro-batches so state must accumulate
      val lines = Seq((1L, 30.0, 0.0), (2L, 20.0, 0.0), (3L, 15.0, 0.0),
        (1L, 25.0, 0.2), (4L, 10.0, 0.0), (5L, 5.0, 0.0))
      val (b1, b2) = lines.splitAt(3)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      val snap = spark.table("abc_census").localCheckpoint(true)
      val streamed = EventOps.abcFromPartRevenue(snap)
        .as[(String, Long, Double, Double)].collect().toSeq
      val byPart = lines.toDF("l_partkey", "l_extendedprice", "l_discount")
        .select($"l_partkey", rev)
        .groupBy("l_partkey").agg(sum($"rev").as("rev"))
      val batch = EventOps.abcFromPartRevenue(byPart)
        .as[(String, Long, Double, Double)].collect().toSeq
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed == Seq(("A", 2L, 70.0, 0.7), ("B", 2L, 25.0, 0.25),
        ("C", 1L, 5.0, 0.05)))
    } finally q.stop()
  }

  test("cdcApplyStream: tombstone deletes free state; snapshot ≡ batch") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    val q = EventOps.cdcApplyStream(input.toDS())
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("update").start()
    try {
      // batch 1: k1 I, k2 I, k3 D-before-anything, k4 I+U (same batch)
      input.addData((1L, 10L, 0L, "I", 1.0), (2L, 10L, 0L, "I", 5.0),
        (4L, 10L, 0L, "I", 9.0), (4L, 10L, 1L, "U", 9.5))
      q.processAllAvailable()
      // batch 2: k1 U, k2 D (slot freed), k3 I, stale k4 op (dropped)
      input.addData((1L, 20L, 0L, "U", 2.0), (2L, 30L, 0L, "D", 0.0),
        (3L, 20L, 0L, "I", 7.0), (4L, 5L, 0L, "U", 0.1))
      q.processAllAvailable()
      val emitted = spark.table("cdc_stream")
      // latest emission per key = the serving view
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("last_seq").desc, col("n_ops").desc)
      val snap = emitted.withColumn("_r", row_number().over(w))
        .where($"_r" === 1).drop("_r")
        .collect().map(r => r.getLong(0) ->
          ((r.getDouble(1), r.getLong(3), r.getBoolean(4)))).toMap
      assert(snap(1L) == ((2.0, 20L, true)))
      assert(snap(2L)._3 == false)              // tombstoned downstream
      assert(snap(3L) == ((7.0, 20L, true)))
      assert(snap(4L) == ((9.5, 10L, true)))    // stale op dropped
      // ≡ batch on (key, value, last_seq) for the same op multiset
      val opsDf = Seq(
        (1L, 10L, 0L, "I", 1.0), (2L, 10L, 0L, "I", 5.0),
        (4L, 10L, 0L, "I", 9.0), (4L, 10L, 1L, "U", 9.5),
        (1L, 20L, 0L, "U", 2.0), (2L, 30L, 0L, "D", 0.0),
        (3L, 20L, 0L, "I", 7.0), (4L, 5L, 0L, "U", 0.1))
        .toDF("k", "seq", "sub", "op", "value")
      val batch = EventOps.cdcApply(opsDf, Seq("k"), Seq("seq", "sub"),
        "op", Seq("value"))
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(3))))
        .toMap
      val live = snap.filter(_._2._3).map { case (k, (v, s, _)) => k -> ((v, s)) }
      assert(live == batch, s"streamed=$live batch=$batch")
    } finally q.stop()
  }

  test("cdcApplyStream n_ops contract: within-batch resurrection keeps the " +
    "full count; cross-batch resurrection restarts it and the tombstone " +
    "emission carries the missing prefix") {
    import graft.ops.EventOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    val q = EventOps.cdcApplyStream(input.toDS())
      .writeStream.format("memory").queryName("cdc_nops")
      .outputMode("update").start()
    try {
      // k1: within-batch I → D → I (slot never freed mid-batch, so the
      //     count survives — matches batch exactly)
      // k2: I in batch 1, D in batch 2 (slot FREED), I in batch 3 —
      //     the documented divergence: state restarts at resurrection
      input.addData((1L, 10L, 0L, "I", 1.0), (1L, 20L, 0L, "D", 0.0),
        (1L, 30L, 0L, "I", 3.0), (2L, 10L, 0L, "I", 5.0))
      q.processAllAvailable()
      input.addData((2L, 20L, 0L, "D", 0.0))
      q.processAllAvailable()
      input.addData((2L, 30L, 0L, "I", 7.0))
      q.processAllAvailable()

      val emitted = spark.table("cdc_nops")
        .select($"k", $"value", $"n_ops", $"last_seq", $"present")
        .as[(Long, Double, Long, Long, Boolean)].collect()

      // within-batch delete+re-insert: FULL count (3 ops), like batch
      val k1 = emitted.filter(_._1 == 1L).maxBy(_._4)
      assert(k1 == ((1L, 3.0, 3L, 30L, true)), k1.toString)

      // cross-batch: the post-resurrection emission counts ops SINCE
      // the resurrection (1), not since the beginning (3) — this is
      // the contract, not a bug: the delete genuinely freed the slot
      // (state ∝ live keys)
      val k2Final = emitted.filter(_._1 == 2L).maxBy(_._4)
      assert(k2Final == ((2L, 7.0, 1L, 30L, true)), k2Final.toString)

      // batch replay of the same multiset keeps the full count — the
      // two sides DIVERGE on n_ops by design...
      val opsDf = Seq(
        (2L, 10L, 0L, "I", 5.0), (2L, 20L, 0L, "D", 0.0),
        (2L, 30L, 0L, "I", 7.0)).toDF("k", "seq", "sub", "op", "value")
      val batch = EventOps.cdcApply(opsDf, Seq("k"), Seq("seq", "sub"),
        "op", Seq("value")).as[(Long, Double, Long, Long)].collect().head
      assert(batch == ((2L, 7.0, 3L, 30L)))
      assert(k2Final._3 != batch._3, "divergence is the documented contract")

      // ...and the reader RECONSTRUCTS the batch count from the
      // emissions it already has: the tombstone emission (present =
      // false) carries the pre-delete prefix; prefix + ops-since-
      // resurrection = the batch total. Nothing is lost — it lives
      // downstream instead of in the state store.
      val k2Tombstone = emitted.filter(t => t._1 == 2L && !t._5).maxBy(_._4)
      assert(k2Tombstone._3 == 2L, k2Tombstone.toString) // I + D
      assert(k2Tombstone._3 + k2Final._3 == batch._3,
        "tombstone prefix + resurrection count must equal the batch total")

      // value and last_seq agree on BOTH sides regardless — the
      // divergence is n_ops-only (the snapshot-≡-batch case above
      // covers the general case)
      assert((k2Final._2, k2Final._4) == ((batch._2, batch._4)))
    } finally q.stop()
  }

  test("streaming Misra-Gries: k-slot state, sound bounds, heavy hitters never evicted") {
    import graft.ops.TextOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val census = TextOps.mgSummariesStream(input.toDS(), k = 3)
    val q = census.writeStream.format("memory").queryName("mg_census")
      .outputMode("update").start()
    try {
      // shard A truth: a=9, b=5, c=3, six singletons — N=23, k=3 ⇒
      // decrement cap N/(k+1) = 5.75, so `a` (9 > 5.75) can NEVER be
      // evicted, whatever the arrival order. Fixed 7-step permutation
      // interleaves heavy and noise tokens; split across micro-batches
      // so state must carry counters AND the decrement total over.
      val toks = Seq.fill(9)("a") ++ Seq.fill(5)("b") ++ Seq.fill(3)("c") ++
        Seq("n1", "n2", "n3", "n4", "n5", "n6")
      val ordered = toks.zipWithIndex
        .sortBy { case (_, i) => (i * 7) % 23 }.map { case (t, _) => ("A", t) }
      val (b1, b2) = ordered.splitAt(12)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      val all = spark.table("mg_census")
        .as[(String, String, Long, Long, Long)].collect()
      val maxSeq = all.map(_._5).max
      val snap = all.filter(_._5 == maxSeq)
      // hard state cap: never more than k counters survive
      assert(snap.length <= 3, s"state overflow: ${snap.toSeq}")
      val truth = Map("a" -> 9L, "b" -> 5L, "c" -> 3L).withDefaultValue(1L)
      val dec = snap.head._4
      assert(dec <= 5, s"dec $dec exceeds N/(k+1)")
      // MG invariant per surviving counter: cnt ≤ true ≤ cnt + dec
      snap.foreach { case (_, t, cnt, d, _) =>
        assert(cnt <= truth(t) && truth(t) <= cnt + d,
          s"$t cnt=$cnt dec=$d truth=${truth(t)}") }
      // the guaranteed heavy hitter holds a slot
      assert(snap.exists(_._2 == "a"), s"'a' evicted: ${snap.toSeq}")
      // merged report (MG bound algebra): bounds bracket the truth
      val snapDf = snap.toSeq.toDF("shard", "tok", "cnt", "tail", "emit_seq")
        .drop("emit_seq")
      val viaSnap = TextOps.topkFromMgSummaries(snapDf, 2)
        .as[(Int, String, Long, Long, Int)].collect().toSeq
      viaSnap.foreach { case (_, t, lo, hi, _) =>
        assert(lo <= truth(t) && truth(t) <= hi, s"$t [$lo,$hi]") }
      // the RAW versioned emission stream (both batches' snapshots
      // still in the sink) merges identically — last-write-wins on
      // emit_seq is built into the merge, so the naive read cannot
      // double-count counters across snapshots
      val viaRaw = TextOps.topkFromMgSummaries(
          spark.table("mg_census").localCheckpoint(true), 2)
        .as[(Int, String, Long, Long, Int)].collect().toSeq
      assert(viaRaw == viaSnap, s"raw=$viaRaw snap=$viaSnap")
    } finally q.stop()
  }
}
