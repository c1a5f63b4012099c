package faustbench

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.serving.{SnapshotIndex, TableServer}
import graft.streaming.{ChangelogSink, StatefulTable}

/** `table_serving`: a live table served by key while it is written.
  *
  * An open-loop writer feeds `StatefulTable.runningFold` (per-key
  * running total and count); its `foreachBatch` appends to the
  * changelog, compacts every [[ServingWorkload.CompactEvery]] batches
  * and refreshes the hot index — the wiring `SnapshotIndex` documents.
  * `TableServer.serveTable(hot = true)` serves `GET /table/totals/{key}`
  * over `ChangelogSink.readCompacted`. Lookups use Zipf keys on
  * `nproc` kept-alive connections:
  *
  *  - `fixed_rate`: an open loop at [[ServingWorkload.FixedRatePerS]],
  *    each request timed from its due time to its full response;
  *  - `saturate`: a closed loop on the same connections.
  *
  * Every response body is checked against the plain-Scala table at the
  * snapshot version the response names in `X-Snapshot-Version`.
  */
final class ServingWorkload extends Workload {
  import ServingWorkload._

  private var writer: Writer = _
  private var server: TableServer = _
  private var conns: IndexedSeq[Conn] = IndexedSeq.empty
  private var writes: Array[(Long, Long)] = _
  private var lookupKeys: Array[Long] = _
  private var ticksAdded = 0

  def setup(ctx: Ctx): Unit = {
    writes = ServingGen.writes(ctx.seed, Keys + (WarmupTicks + maxTicks(ctx.seconds)) * WritesPerTick, Keys)
    lookupKeys = ServingGen.lookups(ctx.seed, MaxLookups, Keys)
    val changelog = ctx.path("changelog")
    val tracer = ctx.tracer
    server = new TableServer()
    server.serveTable("totals",
      () => tracer.span("serving.read_compacted") {
        ChangelogSink.readCompacted(ctx.spark, changelog, Seq("key")) },
      "key", numericKey = true, hot = true)
    writer = new Writer(ctx.spark, changelog, ctx.path("checkpoint"), ctx.probes, server)
    writer.add(writes.slice(0, Keys), None)
    writer.settle()
    for (_ <- 0 until WarmupTicks) { addTick(None); writer.settle() }
    server.start()
    writer.startVersion()
    conns = (0 until ctx.cores).map(_ => new Conn(server.boundPort))
    parallel(conns.indices)(c => (0 until WarmupLookups).foreach(i => conns(c).get(lookupKeys(i))))
  }

  private def addTick(dueNs: Option[Long]): Unit = {
    val from = Keys + ticksAdded * WritesPerTick
    writer.add(writes.slice(from, from + WritesPerTick), dueNs)
    ticksAdded += 1
  }

  def measure(ctx: Ctx, out: Outcome): Unit = {
    val tracer = ctx.tracer
    val t0Wall = System.currentTimeMillis()
    ctx.probes.startWindow()
    val fixedNs = (ctx.seconds * 1e9 * FixedShare).toLong
    val saturateNs = (ctx.seconds * 1e9 * (1 - FixedShare)).toLong
    val start = System.nanoTime() + 20000000L

    // the writer: an open loop of ticks over both phases
    val writerLags = mutable.ArrayBuffer.empty[Double]
    val writerThread = new Thread(() => {
      val tickNs = WriterTickMs * 1000000L
      var i = 0
      while (start + i * tickNs < start + fixedNs + saturateNs) {
        val due = start + i * tickNs
        SystemClock.sleepUntil(due)
        writerLags += (System.nanoTime() - due) / 1e6
        addTick(Some(due))
        i += 1
      }
    }, "faustbench-writer")
    writerThread.start()

    // fixed_rate: one open loop per connection, staggered
    val nConn = conns.length
    val periodNs = (1e9 * nConn / FixedRatePerS).toLong
    val perConn = (fixedNs / periodNs).toInt
    val lookupAt = new java.util.concurrent.atomic.AtomicInteger(WarmupLookups)
    def nextKey(): Long = lookupKeys(lookupAt.getAndIncrement() % lookupKeys.length)
    val loops = conns.indices.map(c => new OpenLoop(SystemClock, start + c * periodNs / nConn, periodNs))
    val fixedResults = parallel(conns.indices) { c =>
      (0 until perConn).map { i =>
        var r: Response = null
        loops(c).run(i) { r = conns(c).get(nextKey()); r.status == 200 }
        r
      }
    }

    // saturate: closed loop on the same connections
    val satStart = System.nanoTime()
    val satEnd = start + fixedNs + saturateNs
    val satResults = parallel(conns.indices) { c =>
      val rs = mutable.ArrayBuffer.empty[Response]
      while (System.nanoTime() < satEnd) rs += conns(c).get(nextKey())
      rs.toSeq
    }
    val satLat = Stats.summarize(satResults.flatten.filter(_.status == 200).map(_.ms))
    val satS = (System.nanoTime() - satStart) / 1e9
    writerThread.join()
    writer.settle()
    val t1Wall = System.currentTimeMillis()
    writer.failure.foreach(e => out.problems += s"writer query failed: $e")

    // check every response against the reference at its version
    val reference = new Reference(writer, writes)
    val all = fixedResults.flatten ++ satResults.flatten
    all.foreach(r => out.check(reference.ok(r), s"lookup ${r.key}: ${r.status} v${r.version} ${r.body.take(80)}"))
    val satOk = satResults.flatten.count(reference.ok)
    val lookupsPerS = satOk / satS
    val lat = Stats.summarize(loops.flatMap(_.latenciesMs))
    val fresh = writer.freshnessMs
    val freshP50 = if (fresh.isEmpty) 0.0 else Stats.median(fresh)
    val opened = conns.map(_.opened).sum

    out.named("lookups_per_s") = Map("value" -> lookupsPerS, "unit" -> "1/s",
      "lookups" -> satOk, "connections" -> nConn)
    out.named("lookup_p50_ms") = Map("value" -> lat.p50, "unit" -> "ms", "samples" -> lat.n,
      "rate_per_s" -> FixedRatePerS)
    out.tail("lookup_tail_ms", lat, "ms")
    val sortedLat = loops.flatMap(_.latenciesMs).sorted
    out.named("lookup_deciles_ms") = (1 to 9).map(d => Stats.quantile(sortedLat, d / 10.0))
    out.named("writer_batch_ms") = writer.batches.map(_.durationMs.get("triggerExecution"))
    out.named("freshness_p50_ms") = Map("value" -> freshP50, "unit" -> "ms", "samples" -> fresh.length)
    out.e2e("throughput_per_s") = Metric(lookupsPerS, "1/s")
    out.named("saturate_lookup_p50_ms") = Map("value" -> satLat.p50, "unit" -> "ms",
      "samples" -> satLat.n)
    out.e2e("latency_p50_ms") = Metric(satLat.p50, "ms")
    out.require(opened == nConn, s"opened $opened connections, planned $nConn")
    out.require(fixedResults.forall(_.length == perConn), "fixed-rate loop skipped requests")
    writer.batches.foreach(_ => out.check(writer.failure.isEmpty, "writer micro-batch failed"))

    val hot = all.count(r => r.status == 200 && r.version > 0)
    val cold = all.filter(r => r.status == 200 && r.version == 0)
    out.layer("serving.freshness_ms.p50", freshP50, "ms")
    out.layer("serving.connections_opened", opened.toDouble, "count")
    out.layer("serving.hot_hit_ratio", hot.toDouble / all.length, "ratio")
    out.layer("serving.cold_lookups", cold.length.toDouble, "count")
    out.layer("serving.cold_lookup_ms.p50",
      if (cold.isEmpty) 0.0 else Stats.median(cold.map(_.ms)), "ms")
    out.layer("client.lag_ms.p99", Stats.quantile(loops.flatMap(_.lagsMs).sorted, 0.99), "ms")
    out.layer("generator.lag_ms.p99", Stats.quantile(writerLags.sorted.toIndexedSeq, 0.99), "ms")
    out.layer("traced.throughput_per_s", lookupsPerS, "1/s")
    out.layer("traced.latency_p50_ms", satLat.p50, "ms")
    out.layer("traced.latency_tail_ms", lat.tail.getOrElse(0.0), "ms")
    if (tracer.enabled) {
      val ps = writer.batches
      def p50(f: StreamingQueryProgress => Double): Double =
        if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
      def d(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      out.layer("streaming.overhead_ms.p50", p50(p => d(p, "triggerExecution") - d(p, "addBatch")), "ms")
      out.layer("streaming.planning_ms.p50", p50(d(_, "queryPlanning")), "ms")
      out.layer("streaming.wal_commit_ms.p50", p50(d(_, "walCommit")), "ms")
      out.layer("streaming.commit_offsets_ms.p50", p50(d(_, "commitOffsets")), "ms")
      out.layer("streaming.changelog_append_ms.p50", tracer.p50("streaming.changelog_append"), "ms")
      out.layer("streaming.compact_ms", tracer.p50("streaming.compact"), "ms")
      out.layer("streaming.changelog_bytes", StreamWorkload.dirBytes(writer.changelogDir).toDouble, "bytes")
      out.layer("serving.refresh_ms.p50", tracer.p50("serving.refresh"), "ms")
      out.layer("serving.read_compacted_ms.p50", tracer.p50("serving.read_compacted"), "ms")
      ctx.probes.sparkMetrics(t0Wall, t1Wall).foreach { case (k, (v, u)) => out.layer(k, v, u) }
      // the in-process lookup the HTTP path wraps, on the same snapshot
      val index = new SnapshotIndex(
        () => ChangelogSink.readCompacted(ctx.spark, writer.changelogDir, Seq("key")), "key")
      index.refresh()
      val us = all.map { r =>
        val t = System.nanoTime(); index.lookupWithMeta(r.key); (System.nanoTime() - t) / 1e3
      }
      val indexUs = Stats.median(us)
      out.layer("serving.index_keys", index.size.toDouble, "count")
      out.layer("serving.index_lookup_us.p50", indexUs, "us")
      out.layer("serving.http_overhead_ms.p50", lat.p50 - indexUs / 1000, "ms")
    }
  }

  def teardown(): Unit = {
    conns.foreach(_.close())
    conns = IndexedSeq.empty
    if (writer != null) { writer.stop(); writer = null }
    if (server != null) { server.stop(); server = null }
  }
}

object ServingWorkload {
  val Keys = 2000
  val WriterTickMs = 500
  val WritesPerTick = 100
  val WarmupTicks = 1
  val CompactEvery = 4
  /** Below the seed's kept-alive capacity (~connections / 44 ms). */
  val FixedRatePerS = 60.0
  /** Share of `--seconds` in `fixed_rate`; `saturate` runs the rest. */
  val FixedShare = 0.6
  val MaxLookups = 200000
  /** Lookups per connection before timing, so the HTTP path is compiled. */
  val WarmupLookups = 10

  def maxTicks(seconds: Int): Int = seconds * 1000 / WriterTickMs + 2

  final case class Response(key: Long, status: Int, version: Long, body: String, ms: Double)

  def parallel[T](ids: IndexedSeq[Int])(f: Int => T): IndexedSeq[T] = {
    val results = new ConcurrentHashMap[Int, T]()
    val errors = new ConcurrentHashMap[Int, Throwable]()
    val threads = ids.map { i =>
      val t = new Thread(() => try results.put(i, f(i)) catch { case e: Throwable => errors.put(i, e) },
        s"faustbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    errors.values.asScala.headOption.foreach(e => throw e)
    ids.map(results.get)
  }

  /** Body the server must return for a key at a given table state. */
  def render(key: Long, total: Long, n: Long): String =
    s"""[{"key":$key,"total":$total,"n":$n}]"""

  /** The table in plain Scala at each snapshot version. */
  final class Reference(writer: Writer, writes: Array[(Long, Long)]) {
    private val endOffsetOf: Map[Long, Long] =
      writer.batches.map(p => p.batchId -> StreamWorkload.endOffset(p)).toMap
    private val states = mutable.HashMap.empty[Long, Map[Long, (Long, Long)]]

    private def stateThrough(endOffset: Long): Map[Long, (Long, Long)] =
      states.getOrElseUpdate(endOffset, {
        val m = mutable.HashMap.empty[Long, (Long, Long)]
        writer.ticks.filter(_._1 <= endOffset).foreach { case (_, from, until, _) =>
          (from until until).foreach { i =>
            val (k, a) = writes(i)
            val (t, n) = m.getOrElse(k, (0L, 0L))
            m(k) = (t + a, n + 1)
          }
        }
        m.toMap
      })

    def ok(r: Response): Boolean = r.status == 200 && {
      val candidates =
        if (r.version > 0) writer.versionBatch.get(r.version).flatMap(endOffsetOf.get).toSeq
        else endOffsetOf.values.toSeq
      candidates.exists { off =>
        stateThrough(off).get(r.key).exists { case (t, n) => render(r.key, t, n) == r.body }
      }
    }
  }
}

/** The streaming writer behind the served table. */
final class Writer(spark: SparkSession, val changelogDir: String, checkpoint: String,
                   probes: Probes, server: TableServer) {
  import ServingWorkload._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  private val tracer = probes.tracer
  private val input = MemoryStream[(Long, Long)](spark.sparkContext.defaultParallelism)
  /** (offset, first write, end write, due ns of a measured tick) per added tick. */
  val ticks = new java.util.concurrent.CopyOnWriteArrayList[(Long, Int, Int, Option[Long])]().asScala
  private var added = 0
  /** snapshot version -> micro-batch it was refreshed after */
  val versionBatch = new ConcurrentHashMap[Long, Long]().asScala
  private val refreshedNs = new ConcurrentHashMap[Long, Long]().asScala
  @volatile private var lastVersion = 0L
  @volatile private var lastBatch = -1L

  private def sink(batch: DataFrame, batchId: Long): Unit = {
    val rows = batch.select(col("_1").as("key"), col("_2._1").as("total"), col("_2._2").as("n"))
    tracer.span("streaming.changelog_append") { ChangelogSink.appendBatch(changelogDir)(rows, batchId) }
    if ((batchId + 1) % CompactEvery == 0)
      tracer.span("streaming.compact") { ChangelogSink.compact(spark, changelogDir, Seq("key")) }
    val v = tracer.span("serving.refresh") { server.refresh("totals") }
    refreshedNs(batchId) = System.nanoTime()
    versionBatch(v) = batchId
    lastVersion = v
    lastBatch = batchId
  }

  private val query: StreamingQuery = {
    val folded = StatefulTable.runningFold[(Long, Long), Long, (Long, Long)](
      input.toDS(), _._1)((0L, 0L)) { case ((t, n), (_, a)) => (t + a, n + 1) }()
    val fn: (DataFrame, Long) => Unit = sink
    folded.toDF().writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fn)
      .start()
  }

  def add(slice: Array[(Long, Long)], dueNs: Option[Long]): Unit = synchronized {
    val off = input.addData(slice.toSeq).json.trim.toLong
    ticks += ((off, added, added + slice.length, dueNs))
    added += slice.length
  }

  /** `TableServer.start` refreshes once more: that version serves the last batch. */
  def startVersion(): Unit = versionBatch(lastVersion + 1) = lastBatch

  def settle(): Unit = {
    query.processAllAvailable()
    Option(query.lastProgress).foreach(p => probes.progress.awaitBatch(p.batchId))
  }

  def batches: Seq[StreamingQueryProgress] =
    probes.progress.all.filter(p => p.id == query.id && p.numInputRows > 0)

  /** Per measured batch: refresh return minus its last write's due time. */
  def freshnessMs: Seq[Double] = {
    batches.flatMap { p =>
      val end = StreamWorkload.endOffset(p)
      for {
        due <- ticks.find(_._1 == end).flatMap(_._4)
        at <- refreshedNs.get(p.batchId)
      } yield (at - due) / 1e6
    }
  }

  def failure: Option[Throwable] = query.exception

  def stop(): Unit = query.stop()
}

/** One kept-alive HTTP/1.1 connection, written by hand so the number
  * of connections is exactly what the benchmark opens.
  */
final class Conn(port: Int) {
  private var socket: Socket = _
  private var in: InputStream = _
  private var out: OutputStream = _
  var opened = 0
  connect()

  private def connect(): Unit = {
    socket = new Socket()
    socket.setTcpNoDelay(true)
    socket.setSoTimeout(10000)
    socket.connect(new InetSocketAddress("127.0.0.1", port))
    in = new BufferedInputStream(socket.getInputStream)
    out = socket.getOutputStream
    opened += 1
  }

  private def line(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  def get(key: Long): ServingWorkload.Response = {
    val t0 = System.nanoTime()
    try {
      out.write(s"GET /table/totals/$key HTTP/1.1\r\nHost: localhost\r\n\r\n"
        .getBytes(StandardCharsets.US_ASCII))
      out.flush()
      val status = line().split(" ")(1).toInt
      var length = 0
      var version = 0L
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        val name = h.substring(0, i).trim.toLowerCase
        val value = h.substring(i + 1).trim
        if (name == "content-length") length = value.toInt
        if (name == "x-snapshot-version") version = value.toLong
        h = line()
      }
      val body = in.readNBytes(length)
      ServingWorkload.Response(key, status, version, new String(body, StandardCharsets.UTF_8),
        (System.nanoTime() - t0) / 1e6)
    } catch {
      case e: java.io.IOException =>
        // a broken connection is a failed lookup; reconnecting shows in `opened`
        close(); connect()
        ServingWorkload.Response(key, -1, 0, e.toString, (System.nanoTime() - t0) / 1e6)
    }
  }

  def close(): Unit = if (socket != null) socket.close()
}
