package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.queries.Q

/** Dev-only plan dumper for the optimization rounds.
  *
  * Usage: ExplainDump <sfDir> <outDir> <suffix> [q1,q2,...]
  *
  * Writes `<outDir>/<query>_<suffix>.txt` with the formatted physical
  * plan of each named query (all queries when the filter is omitted),
  * [[normalize]]d so that two dumps diff only where the plans differ.
  * Builds its session like Bench ([[graft.Sessions.harness]]), so the
  * captured plans are the ones the bench actually runs.
  */
object ExplainDump {
  /** Session- and JVM-dependent numbers in a plan, each with its stand-in. */
  private val counters = Seq(
    """#\d+""" -> "#N",                                 // expression ids
    """plan_id=\d+""" -> "plan_id=N",
    """RDD\[\d+\]""" -> "RDD[N]",
    """Broadcast\(\d+\)""" -> "Broadcast(N)",
    """\b([xyz])_\d+\b""" -> "$1_N",                    // lambda variables
    """(\.scala):\d+""" -> "$1:N",                     // call sites
    """\$Lambda[^@\s]*@[0-9a-f]+""" -> """\$Lambda""") // JVM closures

  /** `plan` with every session-global counter replaced, so a plan reads
    * the same wherever in a session it was taken.
    */
  def normalize(plan: String): String =
    counters.foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  /** The normalized formatted physical plan of `q` on `sfDir`. */
  def dump(spark: SparkSession, q: Q, sfDir: String): String = graft.Pin.scope {
    normalize(q.run(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val selected = graft.SparkEntry.select(args.lift(3))
    val spark = graft.Sessions.harness("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { q =>
      try Files.writeString(Paths.get(s"$outDir/${q.name}_$suffix.txt"), dump(spark, q, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[explain] ${q.name} failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
