package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.Pin

/** Dev-only per-stage profiler for the optimization rounds.
  *
  * Usage: ProfileQuery <sfDir> <query> [iters]
  *
  * Runs the named query through the noop sink (after one untimed
  * warmup) and prints, per completed stage: task count, summed task
  * time, GC time, shuffle read/write bytes and the stage name — the
  * "which operator owns the wall clock" readout the Spark UI would
  * give. Builds its session like Bench ([[graft.Sessions.harness]]),
  * and like Bench releases each run's pins after its clock stops.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val (sfDir, name) = (args(0), args(1))
    val iters = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Sessions.harness("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    // warmup: codegen + listing, and one full run at the target SF
    Pin.scope {
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        val details = si.details.linesIterator.toSeq.headOption.getOrElse("")
        rows.add(f"stage=${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"taskTime=${tm.executorRunTime / 1000.0}%8.2fs " +
          f"gc=${tm.jvmGCTime / 1000.0}%6.2fs " +
          f"shufR=${tm.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
          f"shufW=${tm.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
          f"rows=${tm.shuffleWriteMetrics.recordsWritten}%10d  ${si.name} | $details")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    var best = Double.MaxValue
    (1 to iters).foreach { _ => Pin.scope {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      if (dt < best) best = dt
      println(f"[profile] $name wall=$dt%.3fs")
    }}
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    rows.forEach(r => println(r))
    println(f"[profile] $name best=$best%.3fs over $iters iters")
    spark.stop()
  }
}
