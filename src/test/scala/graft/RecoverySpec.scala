package graft

import org.apache.spark.sql.functions._

/** Recovery semantics — the reference devotes `tables/recovery.py`
  * (900 LoC) + standbys + the consistency checker's worker-killing
  * harness to this; here it is Spark checkpoint restore. This spec is
  * the kill-and-restart analog: stop a stateful query mid-stream,
  * restart from the checkpoint, and assert the final table equals the
  * linear batch fold (no loss, no double-count).
  */
class RecoverySpec extends SparkTestBase {

  import spark.implicits._

  test("stateful query restart from checkpoint: no loss, no double-count") {
    val srcDir = Sessions.tempDir("graft-rec-src").toString
    val cpDir = Sessions.tempDir("graft-rec-cp").toString

    val events = Tables.events(spark, sf)
      .select($"user_id", $"value").as[(Long, Double)].collect()
    val (first, second) = events.splitAt(events.length / 2)

    def writeChunk(rows: Array[(Long, Double)], name: String): Unit =
      rows.toSeq.toDF("user_id", "value").coalesce(1)
        .write.mode("append").parquet(srcDir)

    def startQuery() = spark.readStream
      .schema("user_id LONG, value DOUBLE")
      .parquet(srcDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_v"))
      .writeStream.format("memory").queryName("rec_out")
      .outputMode("complete")
      .option("checkpointLocation", cpDir)
      .start()

    // phase 1: process the first half, then "kill the worker"
    writeChunk(first, "a")
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()

    // phase 2: more data arrives while down; restart from checkpoint
    writeChunk(second, "b")
    val q2 = startQuery()
    q2.processAllAvailable()
    val got = spark.table("rec_out")
      .select($"user_id", $"n").as[(Long, Long)].collect().toMap
    q2.stop()

    val expected = events.groupBy(_._1).map { case (k, vs) => k -> vs.length.toLong }
    assert(got == expected, "restarted query must see exactly-once state")
  }
}
