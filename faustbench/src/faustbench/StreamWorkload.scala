package faustbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.core.HoppingWindow
import graft.streaming.{ChangelogSink, WindowedStream}

/** `stream_windowed_table`: a faust windowed table kept by a stream.
  *
  * Seeded events (Zipf keys, a share late but always inside the
  * watermark delay) go through `WindowedStream.windowedAgg` over a
  * hopping window, in update mode, into `ChangelogSink.appendBatch`
  * from `foreachBatch`, with `ChangelogSink.compact` every
  * [[StreamWorkload.CompactEvery]] batches.
  *
  *  - `paced`: an open loop adds [[StreamWorkload.EventsPerTick]] events
  *    every [[StreamWorkload.TickMs]]; per-row latency is the time
  *    `appendBatch` returned minus the creation (due) time of the
  *    row's last contributing event.
  *  - `drain`: [[StreamWorkload.DrainChunks]] chunks, each added only
  *    after the previous one's micro-batch committed; the data
  *    micro-batch count must equal the chunk count.
  */
final class StreamWorkload extends Workload {
  import StreamWorkload._

  private var pipe: Pipeline = _
  private var events: Array[(Long, Long, Long, Long)] = _

  def setup(ctx: Ctx): Unit = {
    val pacedTicks = pacedTicksFor(ctx.seconds)
    events = StreamGen.events(ctx.seed, WarmupEvents + pacedTicks * EventsPerTick + DrainChunks * ChunkEvents,
      Keys, ZipfS, LateShare, MaxLateMs)
    pipe = new Pipeline(ctx.spark, ctx.path("changelog"), ctx.path("checkpoint"), ctx.probes)
    pipe.warmUp(events.slice(0, WarmupEvents))
  }

  def measure(ctx: Ctx, out: Outcome): Unit = {
    val tracer = ctx.tracer
    val pacedTicks = pacedTicksFor(ctx.seconds)
    val pacedFrom = WarmupEvents
    val drainFrom = pacedFrom + pacedTicks * EventsPerTick
    val t0Wall = System.currentTimeMillis()
    ctx.probes.startWindow()

    // paced phase: open loop, one tick of events per due time
    val tickNs = TickMs * 1000000L
    val start = System.nanoTime() + 20000000L
    val lags = mutable.ArrayBuffer.empty[Double]
    val paced = (0 until pacedTicks).map { i =>
      val due = start + i * tickNs
      SystemClock.sleepUntil(due)
      lags += (System.nanoTime() - due) / 1e6
      val slice = events.slice(pacedFrom + i * EventsPerTick, pacedFrom + (i + 1) * EventsPerTick)
      pipe.add(slice) -> (due, slice)
    }
    pipe.settle()

    // drain phase: one micro-batch per chunk
    val drainStart = System.nanoTime()
    val (drainOffsets, chunkS) = pipe.drain(events.slice(drainFrom, drainFrom + DrainChunks * ChunkEvents)).unzip
    val drainS = (System.nanoTime() - drainStart) / 1e9
    val t1Wall = System.currentTimeMillis()
    pipe.failure.foreach(e => out.problems += s"query failed: $e")

    // latency rows of the paced batches, from the progress offsets
    val progress = pipe.dataBatches
    val byOffset = paced.toMap
    val pacedBatches = progress.filter(p => byOffset.contains(endOffset(p)))
    val latencies = mutable.ArrayBuffer.empty[Double]
    pacedBatches.foreach { p =>
      val appended = pipe.appendReturnNs.get(p.batchId)
      val lastDue = mutable.HashMap.empty[(Long, Long), Long]
      (startOffset(p) + 1 to endOffset(p)).foreach { off =>
        val (due, slice) = byOffset(off)
        slice.foreach { case (_, key, ts, _) =>
          windowStarts(ts).foreach(ws => lastDue((ws, key)) = due)
        }
      }
      lastDue.values.foreach(d => latencies += (appended - d) / 1e6)
    }
    val lat = Stats.summarize(latencies, pacedBatches.length)
    val drainBatches = progress.filter(p => endOffset(p) >= drainOffsets.head)
    val eps = Stats.median(chunkS.map(ChunkEvents / _))

    out.named("events_per_s") = Map("value" -> eps, "unit" -> "1/s",
      "definition" -> "median over drain chunks of chunk events / (commit - enqueue)",
      "chunk_s" -> chunkS, "events" -> DrainChunks * ChunkEvents, "batches" -> drainBatches.length,
      "wall_events_per_s" -> DrainChunks * ChunkEvents / drainS)
    out.named("micro_batches") = ctx.probes.progress.all.filter(_.id == pipe.queryId)
      .map(p => s"${p.batchId}:${p.numInputRows}:${p.durationMs.get("triggerExecution")}")
    out.named("latency_p50_ms") = Map("value" -> lat.p50, "unit" -> "ms",
      "samples" -> lat.n, "units" -> lat.units)
    out.tail("latency_tail_ms", lat, "ms")
    out.e2e("throughput_per_s") = Metric(eps, "1/s")
    out.e2e("latency_p50_ms") = Metric(lat.p50, "ms")

    // correctness: one data micro-batch per drain chunk, every batch
    // committed, compacted changelog equals the plain-Scala reference
    drainMismatch(drainBatches.map(endOffset), drainOffsets).foreach(out.require(false, _))
    out.require(pacedBatches.nonEmpty, "no paced micro-batch reported progress")
    progress.foreach(_ => out.check(pipe.failure.isEmpty, "micro-batch failed"))
    val late = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    out.check(late == 0, s"$late rows dropped as late")
    val mismatch = compareWithReference(ctx.spark, pipe.changelogDir, events.slice(0, drainFrom + DrainChunks * ChunkEvents))
    out.check(mismatch.isEmpty, s"compacted changelog differs from reference: ${mismatch.getOrElse("")}")

    out.layer("generator.lag_ms.p99", Stats.quantile(lags.sorted.toIndexedSeq, 0.99), "ms")
    out.layer("traced.throughput_per_s", eps, "1/s")
    out.layer("traced.latency_p50_ms", lat.p50, "ms")
    out.layer("traced.latency_tail_ms", lat.tail.getOrElse(0.0), "ms")
    if (tracer.enabled) {
      def p50(ps: Seq[StreamingQueryProgress])(f: StreamingQueryProgress => Double): Double =
        if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
      def d(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      out.layer("streaming.overhead_ms.p50",
        p50(pacedBatches)(p => d(p, "triggerExecution") - d(p, "addBatch")), "ms")
      out.layer("streaming.planning_ms.p50", p50(pacedBatches)(d(_, "queryPlanning")), "ms")
      out.layer("streaming.wal_commit_ms.p50", p50(pacedBatches)(d(_, "walCommit")), "ms")
      out.layer("streaming.commit_offsets_ms.p50", p50(pacedBatches)(d(_, "commitOffsets")), "ms")
      out.layer("streaming.add_batch_ms.p50", p50(drainBatches)(d(_, "addBatch")), "ms")
      out.layer("streaming.state_commit_ms.p50",
        p50(drainBatches)(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
      val last = drainBatches.lastOption
      out.layer("streaming.state_rows",
        last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0), "count")
      out.layer("streaming.state_mb",
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0).getOrElse(0.0), "MB")
      out.layer("streaming.changelog_append_ms.p50", tracer.p50("streaming.changelog_append"), "ms")
      out.layer("streaming.changelog_bytes", dirBytes(pipe.changelogDir).toDouble, "bytes")
      out.layer("streaming.compact_ms", tracer.p50("streaming.compact"), "ms")
      out.layer("streaming.batches", drainBatches.length.toDouble, "count")
      out.layer("streaming.rows_dropped_late", late.toDouble, "count")
      ctx.probes.sparkMetrics(t0Wall, t1Wall).foreach { case (k, (v, u)) => out.layer(k, v, u) }
      out.layer("streaming.events_per_s_1core",
        oneCoreDrain(ctx, events.slice(0, WarmupEvents),
          events.slice(drainFrom, drainFrom + DrainChunks * ChunkEvents)), "1/s")
    }
  }

  /** The same drain on a fresh `local[1]` session (traced run only),
    * as the median per-chunk rate like `throughput_per_s`.
    */
  private def oneCoreDrain(ctx: Ctx, warm: Array[(Long, Long, Long, Long)],
                           drain: Array[(Long, Long, Long, Long)]): Double = {
    teardown()
    ctx.spark.stop()
    val dir = ctx.dir.resolve("one-core")
    val app = Main.newApp("stream-1core", 1, dir)
    try {
      val one = new Pipeline(app.spark, dir.resolve("changelog").toString,
        dir.resolve("checkpoint").toString, new Probes(app.spark, new Tracer(false)))
      try {
        one.warmUp(warm)
        Stats.median(one.drain(drain).map(ChunkEvents / _._2))
      } finally one.stop()
    } finally app.spark.stop()
  }

  def teardown(): Unit = if (pipe != null) { pipe.stop(); pipe = null }
}

object StreamWorkload {
  val Keys = 1000
  val ZipfS = 1.1
  val WindowMs = 4000L
  val StepMs = 2000L
  val ExpiresMs = 3000L
  val LateShare = 0.1
  val MaxLateMs = 2500
  val TickMs = 1500
  val EventsPerTick = 1500
  /** Warm-up: one paced-size tick, then one drain-size chunk. */
  val WarmupEvents = 1500 + 100000
  val DrainChunks = 4
  val ChunkEvents = 100000
  val CompactEvery = 8
  /** Share of `--seconds` the paced phase runs; the drain is fixed work. */
  val PacedShare = 0.8

  def pacedTicksFor(seconds: Int): Int = math.max(1, (seconds * 1000 * PacedShare / TickMs).toInt)

  /** Starts of the hopping windows containing `ts`. */
  def windowStarts(ts: Long): Seq[Long] = {
    val last = Math.floorDiv(ts, StepMs) * StepMs
    (0L until WindowMs / StepMs).map(last - _ * StepMs).filter(s => ts >= s && ts < s + WindowMs)
  }

  /** The drain's invariant: exactly one data micro-batch per chunk,
    * ending at that chunk's offset. Describes the violation, if any.
    */
  def drainMismatch(batchEndOffsets: Seq[Long], chunkOffsets: Seq[Long]): Option[String] =
    if (batchEndOffsets == chunkOffsets) None
    else Some(s"drain ran ${batchEndOffsets.length} data micro-batches ending at " +
      s"${batchEndOffsets.mkString(",")} for ${chunkOffsets.length} chunks ending at ${chunkOffsets.mkString(",")}")

  def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).map(_.trim.toLong).getOrElse(-1L)

  def endOffset(p: StreamingQueryProgress): Long = p.sources.head.endOffset.trim.toLong

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
  }

  /** Count and sum per (window start, key) in plain Scala, compared
    * with the compacted changelog. Returns a description of the first
    * difference, if any.
    */
  def compareWithReference(spark: SparkSession, dir: String,
                           events: Array[(Long, Long, Long, Long)]): Option[String] = {
    val ref = mutable.HashMap.empty[(Long, Long), (Long, Long)]
    events.foreach { case (_, key, ts, v) =>
      windowStarts(ts).foreach { ws =>
        val (n, s) = ref.getOrElse((ws, key), (0L, 0L))
        ref((ws, key)) = (n + 1, s + v)
      }
    }
    val got = ChangelogSink.readCompacted(spark, dir, Seq("ws", "key"))
      .select("ws", "key", "n", "total").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    if (got.size != ref.size) Some(s"${got.size} rows, reference has ${ref.size}")
    else ref.collectFirst { case (k, v) if !got.get(k).contains(v) =>
      s"window ${k._1} key ${k._2}: got ${got.get(k)}, reference $v" }
  }
}

/** One running windowed-table query fed through a MemoryStream. */
final class Pipeline(spark: SparkSession, val changelogDir: String, checkpoint: String,
                     probes: Probes) {
  import StreamWorkload._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  val appendReturnNs = new ConcurrentHashMap[Long, Long]()
  // one input partition per core, like a topic with that many partitions
  private val input = MemoryStream[(Long, Long, Long, Long)](spark.sparkContext.defaultParallelism)
  private val tracer = probes.tracer

  private def sink(batch: DataFrame, batchId: Long): Unit = {
    val rows = batch.select(unix_millis(col("window.start")).as("ws"), col("key"),
      col("n"), col("total"))
    tracer.span("streaming.changelog_append") { ChangelogSink.appendBatch(changelogDir)(rows, batchId) }
    appendReturnNs.put(batchId, System.nanoTime())
    if ((batchId + 1) % CompactEvery == 0)
      tracer.span("streaming.compact") { ChangelogSink.compact(spark, changelogDir, Seq("ws", "key")) }
  }

  private val query: StreamingQuery = {
    val df = input.toDF().toDF("seq", "key", "ts_ms", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val agg = WindowedStream.windowedAgg(df, "ts",
      HoppingWindow(WindowMs, StepMs, Some(ExpiresMs)), Seq(col("key")),
      Seq(count(lit(1)).as("n"), sum(col("value")).as("total")))
    val fn: (DataFrame, Long) => Unit = sink
    agg.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fn)
      .start()
  }

  def add(events: Array[(Long, Long, Long, Long)]): Long =
    input.addData(events.toSeq).json.trim.toLong

  /** Block until the query is idle: every added event committed and
    * the eviction batch a watermark advance schedules has run, so the
    * next add always starts a new data micro-batch.
    */
  def settle(): Unit = {
    query.processAllAvailable()
    var idle = 0
    while (idle < 3) {
      Thread.sleep(5)
      val st = query.status
      if (st.isTriggerActive || st.isDataAvailable) idle = 0 else idle += 1
    }
    Option(query.lastProgress).foreach(p => probes.progress.awaitBatch(p.batchId))
  }

  /** Adds `events` in chunks of [[StreamWorkload.ChunkEvents]], each
    * after the previous one settled. Returns each chunk's offset and its
    * seconds from enqueue to commit (`processAllAvailable` also waits for
    * the chunk's eviction batch).
    */
  def drain(events: Array[(Long, Long, Long, Long)]): Seq[(Long, Double)] =
    events.grouped(ChunkEvents).map { chunk =>
      val t = System.nanoTime()
      val off = add(chunk)
      query.processAllAvailable()
      val s = (System.nanoTime() - t) / 1e9
      settle()
      (off, s)
    }.toSeq

  def warmUp(events: Array[(Long, Long, Long, Long)]): Unit = {
    Seq(events.take(EventsPerTick), events.drop(EventsPerTick)).foreach { t => add(t); settle() }
    ChangelogSink.compact(spark, changelogDir, Seq("ws", "key"))
  }

  def dataBatches: Seq[StreamingQueryProgress] =
    probes.progress.all.filter(p => p.id == query.id && p.numInputRows > 0)

  def failure: Option[Throwable] = query.exception

  def queryId: java.util.UUID = query.id

  def stop(): Unit = query.stop()
}
