package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Engine CLI — the faust introspection commands
  * (`/root/reference/faust/cli/tables.py`, `cli/agents.py`,
  * `cli/models.py`, `cli/send.py:11`, `cli/reset.py:7`) for this
  * engine:
  *
  *   queries                     list every registered query (+oracle coverage)
  *   describe <name>             schema of a query's result at sf0.001
  *   run <name> [sfDir]          execute and show a sample
  * (`<name>` goes through [[SparkEntry.select]]: an unknown name fails,
  * and a comma-separated list describes or runs each query in turn)
  *   send <topicDir> <key> <value>   append a test row to a file topic
  *   reset <checkpointDir>       clear a named query's checkpoint state
  */
object Cli {

  /** `faust send` (`cli/send.py:11`): produce one (key, value, ts) row
    * into a parquet-backed test topic — the file-source analog of a
    * Kafka produce (a broker-backed deploy would use the Kafka sink).
    * Append-mode write: a running file-source stream on `topicDir`
    * picks the new file up on its next trigger.
    */
  def send(spark: SparkSession, topicDir: String, key: String, value: String): Unit = {
    import spark.implicits._
    Seq((key, value, new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("key", "value", "timestamp")
      .repartition(1)
      .write.mode("append").parquet(topicDir)
  }

  /** `faust reset` (`cli/reset.py:7`): delete a query's checkpoint so
    * its state (offsets + table state, here Spark's offsets/state
    * dirs) rebuilds from scratch on next start. Returns whether
    * anything was deleted.
    */
  def reset(spark: SparkSession, checkpointDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("queries")
    lazy val spark = graft.Sessions.local("graft-cli")

    cmd match {
      case "queries" =>
        println(f"${"name"}%-28s oracle")
        SparkEntry.allQueries.foreach { q =>
          println(f"${q.name}%-28s ${if (q.oracle.isDefined) "duckdb-sql" else "rows-only"}")
        }
      case "describe" =>
        val selected = SparkEntry.select(Some(args(1)))
        spark.sparkContext.setLogLevel("WARN")
        selected.foreach(_.run(spark, "/root/testdata/sf0.001").printSchema())
      case "run" =>
        val selected = SparkEntry.select(Some(args(1)))
        val dir = args.lift(2).getOrElse("/root/testdata/sf0.001")
        spark.sparkContext.setLogLevel("WARN")
        selected.foreach(_.run(spark, dir).show(20, truncate = false))
      case "send" =>
        val Array(_, topicDir, key, value) = args.take(4)
        spark.sparkContext.setLogLevel("WARN")
        send(spark, topicDir, key, value)
        println(s"sent 1 row to $topicDir")
      case "reset" =>
        val dir = args(1)
        spark.sparkContext.setLogLevel("WARN")
        val deleted = reset(spark, dir)
        println(if (deleted) s"cleared $dir" else s"nothing at $dir")
      case other =>
        System.err.println(
          s"unknown command: $other (queries|describe|run|send|reset)")
        sys.exit(2)
    }
  }
}
