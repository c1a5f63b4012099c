package graft
import java.nio.file.{Files, Paths}
import graft.serving.JsonRows
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val (sfDir, outDir) = (args(0), args(1))
    val selected = SparkEntry.select(args.lift(2))
    val spark = Sessions.harness("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { q =>
      try Pin.scope(q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // every control char escaped: a tab or CR in an oracle's SQL would
    // otherwise make oracle_sql.json unparseable and lose every
    // oracle check
    def q(s: String): String = "\"" + JsonRows.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
