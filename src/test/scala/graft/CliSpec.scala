package graft

import org.apache.spark.sql.functions._

import graft.tools.Cli

/** CLI send/reset — the faust `faust send` / `faust reset` commands
  * (`faust/cli/send.py:11`, `cli/reset.py:7`).
  */
class CliSpec extends SparkTestBase {

  import spark.implicits._

  test("send appends rows to a parquet test topic a file stream consumes") {
    val topic = Sessions.tempDir("graft-topic").toString
    Cli.send(spark, topic, "k1", """{"n":1}""")
    Cli.send(spark, topic, "k2", """{"n":2}""")
    val rows = spark.read.parquet(topic)
    assert(rows.count() == 2)
    assert(rows.select("key").as[String].collect().toSet == Set("k1", "k2"))
    assert(rows.schema.fieldNames.toSet == Set("key", "value", "timestamp"))

    // the topic is live: a file-source stream picks the rows up
    val stream = spark.readStream.schema(rows.schema).parquet(topic)
    val q = stream.writeStream.format("memory").queryName("cli_topic")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cli_topic").count() == 2)
      Cli.send(spark, topic, "k3", """{"n":3}""")
      q.processAllAvailable()
      assert(spark.table("cli_topic").count() == 3)
    } finally q.stop()
  }

  test("reset clears a query's checkpoint dir") {
    val topic = Sessions.tempDir("graft-topic2").toString
    val ckpt = Sessions.tempDir("graft-ckpt").toString + "/q1"
    Cli.send(spark, topic, "k1", "v1")
    val schema = spark.read.parquet(topic).schema
    val q = spark.readStream.schema(schema).parquet(topic)
      .groupBy("key").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("cli_reset")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start()
    try { q.processAllAvailable() } finally q.stop()
    // checkpoint exists (offsets/commits written)
    assert(new java.io.File(ckpt).exists())
    assert(Cli.reset(spark, ckpt))
    assert(!new java.io.File(ckpt).exists())
    assert(!Cli.reset(spark, ckpt)) // idempotent: nothing left
  }
}
