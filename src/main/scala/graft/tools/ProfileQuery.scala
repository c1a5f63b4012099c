package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.Pin

/** Dev-only per-stage profiler for the optimization rounds.
  *
  * Usage: ProfileQuery <sfDir> <query> [iters]
  *
  * Runs the named query (each in turn, for a comma-separated list)
  * through the noop sink (after one untimed warmup) and prints, per completed stage: task count, summed task
  * time, GC time, shuffle read/write bytes and the stage name — the
  * "which operator owns the wall clock" readout the Spark UI would
  * give. Builds its session like Bench ([[graft.Sessions.harness]]),
  * and like Bench releases each run's pins after its clock stops.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val (sfDir, selected) = (args(0), graft.SparkEntry.select(Some(args(1))))
    val iters = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Sessions.harness("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { q =>
      def run(dir: String): Unit =
        q.run(spark, dir).write.format("noop").mode("overwrite").save()
      // warmup: codegen + listing, and one full run at the target SF
      Pin.scope { run("/root/testdata/sf0.001"); run(sfDir) }

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
        run(sfDir)
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best) best = dt
        println(f"[profile] ${q.name} wall=$dt%.3fs")
      }}
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(500)
      rows.forEach(r => println(r))
      println(f"[profile] ${q.name} best=$best%.3fs over $iters iters")
    }
    spark.stop()
  }
}
