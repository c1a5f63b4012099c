package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Pin, Tables}
import graft.ops.EventOps

/** Warehouse-core walkthrough — the dimensional-modeling loop the
  * engine runs next to the analytics and training-data tours:
  *
  * {{{
  *   sbt "runMain graft.examples.WarehouseTour [/root/testdata/sf0.001]"
  * }}}
  *
  * Each stage is one operator from the round-11 warehouse family
  * (COVERAGE.md has the inventory; SCALE.md the 100 TB shape):
  *
  *  1. QUALITY GATE — dbt-style checks (q93's shape) run FIRST:
  *     FK orphans and domain rules decide whether the load proceeds.
  *  2. DIMENSION BUILD — the click changelog compresses into an
  *     SCD-2 engagement-tier dimension (`scd2Intervals`, q92): one
  *     row per state run, open interval = current truth.
  *  3. POINT-IN-TIME FACTS — purchases join the tier valid AT
  *     purchase time (`pointInTimeJoin`, q94) — the leak-free
  *     feature/reporting join; no purchase can see a later tier.
  *  4. REPORT — revenue share by tier-at-purchase (q83's
  *     percent-of-total shape on the enriched facts).
  */
object WarehouseTour {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local("warehouse-tour")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, dir) finally spark.stop()
  }

  /** Walkthrough body — separated from [[main]] for the CI smoke. */
  def run(spark: SparkSession, dir: String): Unit = {
    val ev = Tables.events(spark, dir)

    // 1. quality gate: load only proceeds on a clean report
    val badValue = ev.where(col("value").isNull || col("value") < 0)
      .agg(count(lit(1))).head().getLong(0)
    val dupIds = ev.groupBy("event_id").count().where(col("count") > 1)
      .agg(count(lit(1))).head().getLong(0)
    println(s"dq gate: $badValue bad values, $dupIds duplicate event ids")
    require(badValue == 0 && dupIds == 0, "dq gate failed — aborting load")

    // 2. SCD-2 dimension from the click-tier changelog
    val tier = when(col("value") >= 300, lit("high"))
      .when(col("value") >= 100, lit("mid")).otherwise(lit("low"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), tier.as("tier"), col("ts_sec"),
        col("event_id"))
    val dim = Pin(EventOps.scd2Intervals(clicks, "user_id", "tier",
      "ts_sec", "event_id"))
    val nIv = dim.count()
    val nOpen = dim.where(col("effective_to").isNull).count()
    println(s"dimension: $nIv tier intervals, $nOpen currently open")

    // 3. point-in-time enrichment of the purchase facts
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_sec"), col("value"))
    val enriched = Pin(EventOps.pointInTimeJoin(purchases, dim,
        "user_id", "ts_sec")
      .select(col("event_id"), col("value"),
        coalesce(col("state"), lit("unknown")).as("tier_at_purchase")))

    // 4. revenue share by tier-at-purchase (percent-of-total)
    val byTier = enriched.groupBy("tier_at_purchase")
      .agg(sum(col("value").cast("decimal(18,2)")).as("revenue"),
        count(lit(1)).as("n_purchases"))
    val total = byTier.agg(sum(col("revenue"))).head().getDecimal(0)
    byTier.orderBy(col("revenue").desc).collect().foreach { r =>
      val share = 100.0 * r.getDecimal(1).doubleValue() / total.doubleValue()
      println(f"  tier=${r.getString(0)}%-8s revenue=${r.getDecimal(1)}%10s " +
        f"purchases=${r.getLong(2)}%5d share=$share%5.1f%%")
    }

    // sanity for the CI smoke: every purchase landed exactly once
    val nP = purchases.count()
    val nE = enriched.count()
    require(nP == nE, s"PIT join must be row-preserving: $nP != $nE")
    Pin.release(dim)
    Pin.release(enriched)
  }
}
