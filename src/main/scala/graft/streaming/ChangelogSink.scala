package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin

/** Changelog sink — the faust compacted changelog topic
  * (`/root/reference/faust/tables/base.py:253-286,449-478`) as a
  * batch-versioned parquet log with read-side compaction.
  *
  * Write path: each micro-batch appends `(key..., value..., _batch_id)`
  * — idempotent per batchId (re-run of a batch overwrites its own
  * partition directory, giving exactly-once-per-sink on retry, the
  * `foreachBatch` txn pattern from SURVEY §2.8).
  *
  * Read path: "compaction" = latest row per key, a window over
  * `_batch_id` — what Kafka log compaction does continuously, done
  * lazily at read. For production-scale serving this directory layout
  * is partition-pruned on `_batch_id` and Z-order-able by key.
  */
object ChangelogSink {

  /** foreachBatch body: append this batch's changed rows. */
  def appendBatch(dir: String)(batch: DataFrame, batchId: Long): Unit =
    batch.withColumn("_batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id")
      .parquet(dir)

  /** Compacted view: latest record per key (ties broken by later batch). */
  def readCompacted(spark: SparkSession, dir: String, keyCols: Seq[String]): DataFrame = {
    val raw = spark.read.parquet(dir)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_batch_id").desc)
    raw.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .drop("_rk", "_batch_id")
  }

  /** Materialized compaction — the analog of Kafka's log-cleaner pass
    * over the changelog topic (`tables/base.py:449-478` sets
    * `cleanup.policy=compact`; the broker does this continuously).
    * Without it, [[readCompacted]] scans every historical batch
    * partition and read cost grows unboundedly with batch count.
    *
    * Rewrites the latest-per-key snapshot into the HIGHEST existing
    * `_batch_id` partition (dynamic overwrite of that one partition),
    * then drops all older partitions. Post-state: one partition,
    * identical [[readCompacted]] result, O(live keys) read cost.
    * Streaming appends continue unaffected at `_batch_id` > max.
    * Safe to re-run (idempotent: single-partition input compacts to
    * itself).
    *
    * @return number of batch partitions removed
    */
  def compact(spark: SparkSession, dir: String, keyCols: Seq[String]): Int = {
    val raw = spark.read.parquet(dir)
    // partition-dir values are inferred as int — normalize to long
    val batches = raw.select(col("_batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    if (batches.length <= 1) return 0
    val maxBatch = batches.last
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_batch_id").desc)
    val snapshot = raw.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1).drop("_rk")
      .withColumn("_batch_id", lit(maxBatch))
    // stage the snapshot first: the overwrite below reads `raw`, and
    // parquet cannot overwrite a partition it is concurrently reading
    Pin.scope {
      Pin(snapshot).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(dir)
    }
    // drop superseded partitions
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dropped = batches.init.count { b =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"_batch_id=$b"), true)
    }
    dropped
  }
}
