package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.api.{AgentRegistry, App}
import graft.streaming.QueryMonitor

/** Agent lifecycle: declare → start → process → introspect → stop,
  * with the QueryMonitor (sensors analog) attached.
  */
class AgentsSpec extends SparkTestBase {

  import spark.implicits._

  test("agent registry: named query processes a stream end-to-end with metrics") {
    implicit val sqlCtx = spark.sqlContext
    val app = new App(spark, "agents-test",
      checkpointRoot = Sessions.tempDir("graft-cp").toString)
    val registry = new AgentRegistry(app)
    val monitor = new QueryMonitor
    spark.streams.addListener(monitor)
    try {
      val input = MemoryStream[String]
      // word-count agent: the minimum faust slice as a *streaming* agent
      val a = registry.agent("word_count")(input.toDS()) { ds =>
        ds.flatMap(_.split(" ")).groupByKey(identity).count()
      }
      assert(registry.agents.contains("word_count"))
      val q = a.start(_.format("memory").outputMode("complete"))
      input.addData("spark window merge", "spark sort")
      q.processAllAvailable()
      val counts = spark.table("word_count").as[(String, Long)].collect().toMap
      assert(counts == Map("spark" -> 2L, "window" -> 1L, "merge" -> 1L, "sort" -> 1L))
      assert(registry.runningQueries.contains("word_count"))
      // monitor saw progress for this query
      val stats = monitor.snapshot.get("word_count")
      assert(stats.exists(_.inputRows >= 2), s"monitor stats: ${monitor.snapshot}")
      registry.stop("word_count")
      assert(!q.isActive)
    } finally spark.streams.removeListener(monitor)
  }

  test("agent fan-out: foreachBatch multi-sink (faust sink=[...])") {
    implicit val sqlCtx = spark.sqlContext
    val app = new App(spark, "agents-test2",
      checkpointRoot = Sessions.tempDir("graft-cp2").toString)
    val registry = new AgentRegistry(app)
    val input = MemoryStream[Int]
    val sink1 = new java.util.concurrent.atomic.AtomicLong
    val sink2 = new java.util.concurrent.atomic.AtomicLong
    val a = registry.agent("fanout")(input.toDS())(ds => ds.map(_ * 2))
    val q = a.startFanOut(Seq(
      (df, _) => sink1.addAndGet(df.count()),
      (df, _) => sink2.addAndGet(df.agg(sum("value")).head().getLong(0))))
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      assert(sink1.get() == 3L)
      assert(sink2.get() == 12L)
    } finally registry.stop("fanout")
  }
}
