package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.Pin

/** Agents — faust's `@app.agent` stream processors
  * (`/root/reference/faust/agents/agent.py:157-1046`,
  * `@app.agent` decorator `faust/app/base.py:831-885`) as a registry
  * of named streaming queries.
  *
  * A faust agent = subscription + async transform + sinks + lifecycle.
  * On Spark that is: source Dataset → transform → `writeStream.start()`
  * with the agent's name and checkpoint. Concurrency / isolated
  * partitions (`agent.py:191-257`) are Spark's task-per-partition
  * model; supervision/restart is the streaming query's own retry.
  *
  * Multiple sinks (`agent.py:578-582,692-699`) → `foreachBatch`
  * multi-write, the micro-batch analog of per-event fan-out.
  */
final class AgentRegistry(app: App) {

  /** A declared-but-not-started agent. */
  final case class Agent[I, O](name: String, transform: Dataset[I] => Dataset[O],
                               source: () => Dataset[I]) {
    /** Start with a single sink writer. */
    def start(sink: DataStreamWriter[O] => DataStreamWriter[O],
              trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery = {
      val out = transform(source())
      val w = sink(out.writeStream
        .queryName(name)
        .option("checkpointLocation", app.checkpointFor(name))
        .trigger(trigger))
      val q = w.start()
      running.put(name, q)
      q
    }

    /** Start with N sinks via foreachBatch (faust `sink=[...]`). */
    def startFanOut(sinks: Seq[(DataFrame, Long) => Unit],
                    trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery = {
      val out = transform(source())
      val q = out.writeStream
        .queryName(name)
        .option("checkpointLocation", app.checkpointFor(name))
        .trigger(trigger)
        .foreachBatch { (batch: Dataset[O], batchId: Long) =>
          // one eager pin per batch, so the sinks read it instead of
          // each re-running the batch plan; freed when the batch ends
          Pin.scope {
            val df = Pin(batch.toDF())
            sinks.foreach(s => s(df, batchId))
          }
        }
        .start()
      running.put(name, q)
      q
    }
  }

  private val declared = TrieMap.empty[String, Agent[_, _]]
  private val running = TrieMap.empty[String, StreamingQuery]

  /** Declare an agent (faust `@app.agent(topic)`). */
  def agent[I, O](name: String)(source: => Dataset[I])(transform: Dataset[I] => Dataset[O]): Agent[I, O] = {
    val a = Agent(name, transform, () => source)
    declared.put(name, a)
    a
  }

  /** Introspection — the `faust agents` CLI surface. */
  def agents: Map[String, Agent[_, _]] = declared.toMap
  def runningQueries: Map[String, StreamingQuery] = running.toMap

  /** Stop one / all (worker shutdown). */
  def stop(name: String): Unit = running.remove(name).foreach(_.stop())
  def stopAll(): Unit = { running.keys.foreach(stop); () }
}

/** Timers — faust `@app.timer(interval)` / `@app.crontab`
  * (`/root/reference/faust/app/base.py:950-1055`). On Spark a timer
  * tick is a rate-source stream: one row per interval, driving any
  * periodic action through foreachBatch.
  */
object Timers {
  /** One row per 1/rowsPerSecond interval. The rate source parses this
    * option with Long.parseLong — sub-1Hz ticks need a downstream
    * filter (e.g. `value % n === 0`), not a fractional rate.
    */
  def ticks(app: App, rowsPerSecond: Long = 1L): DataFrame =
    app.spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()

  /** faust `@app.crontab(cron_format, timezone=tz)`
    * (`app/base.py:1003-1055`, `faust/utils/cron.py`): fire on wall-
    * clock minutes matching a 5-field cron expression in `tz`. Here: a
    * 1 Hz tick stream filtered to the FIRST second of each matching
    * minute, so each match fires exactly once. The predicate is pure
    * Catalyst ([[graft.core.CronExpr.column]]) — no UDF; `expr` parse
    * errors surface at declaration, like faust's decorator.
    */
  def crontab(app: App, expr: String, tz: String = "UTC"): DataFrame =
    cronFilter(ticks(app, 1L), expr, tz)

  /** The crontab predicate applied to any tick frame with a
    * `timestamp` column (UTC) — split out so tests can drive it from
    * a MemoryStream instead of wall-clock rate ticks.
    */
  def cronFilter(ticksDf: DataFrame, expr: String, tz: String,
                 tsCol: String = "timestamp"): DataFrame = {
    val cron = graft.core.CronExpr.parse(expr)
    ticksDf.where(
      org.apache.spark.sql.functions.second(
        org.apache.spark.sql.functions.col(tsCol)) === 0 &&
      cron.column(org.apache.spark.sql.functions.col(tsCol), tz))
  }
}
