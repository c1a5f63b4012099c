package faustbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from the benchmark's side around each call into a
  * layer. Kept in memory; written out once the run ends. When tracing
  * is off `span` only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = -1 }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def p50(name: String): Double = {
    val xs = ms(name)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def json: String = Json.value(all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

/** Every progress report of every streaming query, in arrival order.
  * Always on: the drain phase's batch-count assertion and the
  * per-row latency both read it.
  */
final class ProgressProbe extends StreamingQueryListener {
  private val seen = ArrayBuffer.empty[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { seen += e.progress }

  def all: Seq[StreamingQueryProgress] = synchronized(seen.toList)

  /** Wait (bounded) until a progress report for `batchId` has arrived. */
  def awaitBatch(batchId: Long, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!all.exists(_.batchId >= batchId)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"no progress for batch $batchId in ${timeoutMs}ms")
      Thread.sleep(2)
    }
  }
}

/** Spark-side counters for the traced run: jobs, tasks, executor time,
  * GC, shuffle, spill, and the storage blocks that pins hold.
  */
final class SparkProbe extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private val pinnedRdds = mutable.Set.empty[Int]
  var pinnedBytes = 0L
  var pinnedPeakBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val name = info.blockId.name
      val size = info.memSize + info.diskSize
      pinnedBytes -= rddBlocks.getOrElse(name, 0L)
      if (info.storageLevel.isValid && size > 0) {
        rddBlocks(name) = size
        pinnedBytes += size
        pinnedRdds += rdd.rddId
      } else rddBlocks.remove(name)
      pinnedPeakBytes = math.max(pinnedPeakBytes, pinnedBytes)
    }
  }

  /** Start a measured window: zero the counters; blocks still held stay. */
  def reset(): Unit = synchronized {
    jobs = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleWriteBytes = 0; spillBytes = 0
    jobIntervals.clear(); pinnedRdds.clear(); pinnedPeakBytes = pinnedBytes
  }

  def pins: Int = synchronized(pinnedRdds.size)

  /** Wall time in [fromMs, toMs] during which no job was running. */
  def driverOnlyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = jobIntervals.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = fromMs
    clipped.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (toMs - fromMs) - covered
  }
}

/** Analysis + optimizer + planning time of every finished action. */
final class PlanProbe extends QueryExecutionListener {
  var planMs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def reset(): Unit = synchronized { planMs = 0 }
}

/** The probes attached to one session; the traced ones only when on. */
final class Probes(spark: SparkSession, val tracer: Tracer) {
  val progress = new ProgressProbe
  val sparkProbe = new SparkProbe
  val plans = new PlanProbe
  spark.streams.addListener(progress)
  if (tracer.enabled) {
    spark.sparkContext.addSparkListener(sparkProbe)
    spark.listenerManager.register(plans)
  }

  /** Start a measured window: count only what happens from here on. */
  def startWindow(): Unit = if (tracer.enabled) {
    org.apache.spark.faustbench.BusAccess.drain(spark.sparkContext)
    sparkProbe.reset()
    plans.reset()
  }

  /** The `spark.*` per-layer metrics over a measured window. */
  def sparkMetrics(fromMs: Long, toMs: Long): Map[String, (Double, String)] = {
    org.apache.spark.faustbench.BusAccess.drain(spark.sparkContext)
    val p = sparkProbe
    p.synchronized {
      Map(
        "spark.jobs" -> (p.jobs.toDouble, "count"),
        "spark.tasks" -> (p.tasks.toDouble, "count"),
        "spark.plan_phases_ms" -> (plans.planMs.toDouble, "ms"),
        "spark.executor_run_ms" -> (p.runMs.toDouble, "ms"),
        "spark.executor_cpu_ms" -> (p.cpuNs / 1e6, "ms"),
        "spark.gc_ms" -> (p.gcMs.toDouble, "ms"),
        "spark.driver_only_ms" -> (p.driverOnlyMs(fromMs, toMs).toDouble, "ms"))
    }
  }
}
