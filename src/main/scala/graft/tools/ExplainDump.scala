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
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val spark = graft.Sessions.harness("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try graft.Pin.scope {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
