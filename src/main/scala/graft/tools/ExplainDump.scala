package graft.tools

import java.nio.file.{Files, Paths}

/** Dev-only plan dumper for the optimization rounds.
  *
  * Usage: ExplainDump <sfDir> <outDir> <suffix> [q1,q2,...]
  *
  * Writes `<outDir>/<query>_<suffix>.txt` with the formatted physical
  * plan of each named query (all queries when the filter is omitted).
  * Builds its session like Bench ([[graft.Sessions.harness]]), so the
  * captured plans are the ones the bench actually runs.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val selected = graft.SparkEntry.select(args.lift(3))
    val spark = graft.Sessions.harness("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { q =>
      try graft.Pin.scope {
        val plan = q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${q.name}_$suffix.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[explain] ${q.name} failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
