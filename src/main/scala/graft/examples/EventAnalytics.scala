package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.EventOps

/** Event-analytics walkthrough — the product-analytics loop the same
  * engine runs next to the training-data pipeline, over the events
  * table:
  *
  * {{{
  *   sbt "runMain graft.examples.EventAnalytics [/root/testdata/sf0.001]"
  * }}}
  *
  * Each stage is one operator from the q6x–q8x family (COVERAGE.md
  * has the full inventory; SCALE.md the 100 TB shape — every stage
  * below is one or two keyed shuffles, nothing user-quadratic):
  *
  *  1. FUNNEL — ordered view→click→purchase timestamps per user
  *     (`funnelSteps`, q60) and the drop-off rates between steps
  *     (q82's rollup).
  *  2. LATENCY — where converting users stall: median/p90 gap
  *     between consecutive steps (q80's report).
  *  3. SESSIONS — gap-based sessionization and the engagement
  *     rollup: bounce rate, mean duration/events (q62 + q81).
  *  4. PATHS — the within-session transition matrix (q75): which
  *     step follows which, with per-source probabilities.
  *  5. MONITOR — hourly volume anomalies per type against the
  *     type's own median/MAD baseline (q74's robust flags).
  */
object EventAnalytics {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local("event-analytics")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, dir) finally spark.stop()
  }

  /** Walkthrough body — separated from [[main]] for the CI smoke. */
  def run(spark: SparkSession, dir: String): Unit = {
    val ev = Tables.events(spark, dir)

    // 1. funnel + drop-off
    val f = EventOps.funnelSteps(
      ev.withColumn("ts_us", Tables.tsMicros(ev)),
      "user_id", "event_type", "ts_us", Seq("view", "click", "purchase"))
    val Array(n1, n2, n3) = f.agg(count(col("view_ts")),
      count(col("click_ts")), count(col("purchase_ts")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    println(s"funnel: $n1 viewed -> $n2 clicked -> $n3 purchased " +
      f"(${if (n1 == 0) 0.0 else 100.0 * n3 / n1}%.1f%% end-to-end)")

    // 2. step latency
    f.where(col("click_ts").isNotNull)
      .select(lit("view->click").as("step_pair"),
        (col("click_ts") - col("view_ts")).as("latency_us"))
      .unionByName(f.where(col("purchase_ts").isNotNull)
        .select(lit("click->purchase").as("step_pair"),
          (col("purchase_ts") - col("click_ts")).as("latency_us")))
      .groupBy("step_pair")
      .agg(count(lit(1)).as("n"),
        expr("percentile(latency_us, 0.5)").as("p50_us"),
        expr("percentile(latency_us, 0.9)").as("p90_us"))
      .orderBy("step_pair").show(truncate = false)

    // 3. sessions + engagement
    val sess = EventOps.sessionize(ev.select(col("user_id"),
      col("event_id"), col("ts_sec")),
      "user_id", "ts_sec", "event_id", gapSeconds = 43200L)
    sess.agg(count(lit(1)).as("n_sessions"),
      count(when(col("n_events") === 1, 1)).as("n_bounces"),
      round(avg(col("n_events")), 2).as("mean_events"))
      .show(truncate = false)

    // 4. transition paths
    EventOps.transitionMatrix(ev.select(col("user_id"), col("event_type"),
      col("ts_sec"), col("event_id")),
      "user_id", "event_type", "ts_sec", "event_id", gapSeconds = 43200L)
      .orderBy(col("n_transitions").desc).show(5, truncate = false)

    // 5. volume anomaly flags (robust median/MAD baseline)
    val buckets = ev.groupBy(col("event_type"),
      expr("ts_sec div 3600").as("hour_bucket"))
      .agg(count(lit(1)).as("n"))
    val med = buckets.groupBy("event_type")
      .agg(expr("percentile(n, 0.5)").as("med"))
    val withMed = buckets.join(broadcast(med), Seq("event_type"))
    val mad = withMed.groupBy("event_type")
      .agg(expr("percentile(abs(n - med), 0.5)").as("mad"))
    val flagged = withMed.join(broadcast(mad), Seq("event_type"))
      .where(abs(col("n") - col("med")) > lit(3.0) * col("mad"))
    println(s"anomalous hourly buckets: ${flagged.count()}")

    require(n1 > 0, "funnel had no entrants")
    require(sess.count() > 0, "no sessions found")
  }
}
