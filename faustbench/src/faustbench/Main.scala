package faustbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.App

/** Everything one set-up round needs: the session built through the
  * program's entry point, the round's scratch directory, the probes.
  */
final class Ctx(val app: App, val dir: Path, val seed: Long, val seconds: Int,
                val cores: Int, val probes: Probes) {
  def spark: SparkSession = app.spark
  def tracer: Tracer = probes.tracer
  def path(name: String): String = dir.resolve(name).toString
}

/** A named metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What one measured workload reports. `named` holds every end-to-end
  * metric under the workload's own names (with percentile and sample
  * counts where they are tails); `e2e` the same numbers under the
  * benchmark-wide names; `layers` the per-layer metrics of a traced run.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val named = mutable.LinkedHashMap.empty[String, Any]
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }

  /** A structural invariant: not an operation, but the run is invalid without it. */
  def require(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def layer(name: String, value: Double, unit: String): Unit = layers(name) = Metric(value, unit)

  def tail(name: String, s: Stats.Summary, unit: String): Unit =
    named(name) = Map("value" -> s.tail.getOrElse(Double.NaN), "unit" -> unit,
      "percentile" -> s.tailLabel, "samples" -> s.n, "units" -> s.units)
}

trait Workload {
  /** Generate inputs, start queries and warm up. */
  def setup(ctx: Ctx): Unit
  /** The timed phases, then the checks against the reference. */
  def measure(ctx: Ctx, out: Outcome): Unit
  /** Stop everything `setup` started. */
  def teardown(): Unit
}

/** Every per-layer metric of a traced run, with its unit. A layer a
  * workload does not exercise reports 0 (idle).
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "streaming.overhead_ms.p50" -> "ms",
    "streaming.planning_ms.p50" -> "ms",
    "streaming.wal_commit_ms.p50" -> "ms",
    "streaming.commit_offsets_ms.p50" -> "ms",
    "streaming.add_batch_ms.p50" -> "ms",
    "streaming.state_commit_ms.p50" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB",
    "streaming.changelog_append_ms.p50" -> "ms",
    "streaming.changelog_bytes" -> "bytes",
    "streaming.compact_ms" -> "ms",
    "streaming.batches" -> "count",
    "streaming.rows_dropped_late" -> "count",
    "streaming.events_per_s_1core" -> "1/s",
    "serving.refresh_ms.p50" -> "ms",
    "serving.read_compacted_ms.p50" -> "ms",
    "serving.index_keys" -> "count",
    "serving.freshness_ms.p50" -> "ms",
    "serving.http_overhead_ms.p50" -> "ms",
    "serving.index_lookup_us.p50" -> "us",
    "serving.connections_opened" -> "count",
    "serving.hot_hit_ratio" -> "ratio",
    "serving.cold_lookups" -> "count",
    "serving.cold_lookup_ms.p50" -> "ms",
    "ops.frequency_cap_ms" -> "ms",
    "ops.quality_gate_ms" -> "ms",
    "ops.cluster_representatives_ms" -> "ms",
    "ops.redact_pii_ms" -> "ms",
    "ops.write_ms" -> "ms",
    "ops.jobs_per_pass" -> "count",
    "ops.pins" -> "count",
    "ops.pinned_mb.peak" -> "MB",
    "ops.shuffle_write_mb" -> "MB",
    "ops.spill_mb" -> "MB",
    "ops.near_dup_precision" -> "ratio",
    "ops.near_dup_recall" -> "ratio",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.plan_phases_ms" -> "ms",
    "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.driver_only_ms" -> "ms",
    "generator.lag_ms.p99" -> "ms",
    "client.lag_ms.p99" -> "ms",
    "traced.throughput_per_s" -> "1/s",
    "traced.latency_p50_ms" -> "ms",
    "traced.latency_tail_ms" -> "ms")
}

object Main {
  val SetupRounds = 3

  val Workloads: Map[String, () => Workload] = Map(
    "stream_windowed_table" -> (() => new StreamWorkload),
    "table_serving" -> (() => new ServingWorkload),
    "corpus_curation" -> (() => new CurationWorkload))

  /** Environment settings only: where Spark writes, no UI. */
  def sessionConf(dir: Path): Map[String, String] = Map(
    "spark.local.dir" -> dir.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> dir.resolve("warehouse").toString,
    "spark.ui.enabled" -> "false")

  def newApp(name: String, cores: Int, dir: Path): App = {
    val app = App.local(s"faustbench-$name", cores, sessionConf(dir))
    app.spark.sparkContext.setLogLevel("ERROR")
    app
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    val runRoot = Paths.get(opts("run-dir")).toAbsolutePath
    val make = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var live: Option[(Workload, Ctx)] = None
    val exit = try {
      for (round <- 1 to SetupRounds) {
        val t0 = if (round == 1) jvmStartMs else System.currentTimeMillis()
        val dir = runRoot.resolve(s"round$round")
        Files.createDirectories(dir)
        val app = newApp(workload, cores, dir)
        val ctx = new Ctx(app, dir, seed, seconds, cores,
          new Probes(app.spark, new Tracer(trace && round == SetupRounds)))
        val w = make()
        live = Some((w, ctx))
        w.setup(ctx)
        setupTimes += (System.currentTimeMillis() - t0) / 1000.0
        if (round < SetupRounds) {
          w.teardown(); app.spark.stop(); deleteTree(dir); live = None
        }
      }
      val (w, ctx) = live.get
      val out = new Outcome
      w.measure(ctx, out)
      val setupS = Stats.median(setupTimes)
      out.named("setup_s") = Map("value" -> setupS, "unit" -> "s",
        "rounds" -> setupTimes.toList)
      out.e2e("setup_s") = Metric(setupS, "s")
      val rss = peakRssMb
      out.named("peak_rss_mb") = Map("value" -> rss, "unit" -> "MB")
      out.e2e("peak_rss_mb") = Metric(rss, "MB")
      val errorRate = if (out.attempted == 0) 1.0 else out.failed.toDouble / out.attempted
      out.named("error_rate") = Map("value" -> errorRate, "unit" -> "ratio",
        "failed" -> out.failed, "attempted" -> out.attempted)
      if (trace) {
        val dump = runRoot.getParent.resolve(s"trace-$workload-seed$seed.json")
        Files.writeString(dump, Json.value(Map(
          "workload" -> workload, "seed" -> seed,
          "per_layer" -> out.layers.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
          "spans" -> RawJson(ctx.tracer.json))))
      }
      val report = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "env" -> Env.describe(ctx.spark, cores),
        "metrics" -> out.named,
        "problems" -> out.problems.toList)
      println("REPORT " + Json.value(report))
      val correct = out.problems.isEmpty && out.failed == 0 && out.attempted > 0
      val metrics =
        if (trace) Layers.All.map { case (n, u) => n -> out.layers.getOrElse(n, Metric(0.0, u)) }.toMap
        else out.e2e
      println(Json.value(Map(
        "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
        "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })))
      if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        System.err.println(s"faustbench: $workload failed: $e")
        e.printStackTrace()
        1
    } finally {
      live.foreach { case (w, ctx) =>
        try w.teardown() finally ctx.spark.stop()
      }
    }
    System.out.flush()
    sys.exit(exit)
  }
}

/** Pre-rendered JSON embedded verbatim by [[Json.value]]. */
final case class RawJson(text: String)

object Env {
  /** What the run was measured on, carried in every report. */
  def describe(spark: SparkSession, cores: Int): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map(
      "source_digest" -> sys.env.getOrElse("FAUSTBENCH_SOURCE_DIGEST", "unknown"),
      "git_sha" -> sys.env.getOrElse("FAUSTBENCH_GIT_SHA", "unknown"),
      "nproc" -> cores,
      "jvm" -> System.getProperty("java.vm.version"),
      "jvm_flags" -> scala.jdk.CollectionConverters.ListHasAsScala(rt.getInputArguments).asScala.toList,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.") && !k.contains("secret") }.toSeq.sortBy(_._1).toMap,
      "scratch_dir" -> spark.conf.get("spark.local.dir"))
  }
}
