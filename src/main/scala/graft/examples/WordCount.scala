package graft.examples

import org.apache.spark.sql.functions._

import graft.api.{App, GTable}
import graft.streaming.StatefulTable

/** The library's front door — the reference's word-count walkthrough
  * (`/root/reference/examples/word_count.py:16-40`: posts topic →
  * split-words agent → counter Table → `/count/{word}` route)
  * re-expressed over this engine's API, runnable against the
  * checked-in test corpus:
  *
  * {{{
  *   sbt "runMain graft.examples.WordCount [/root/testdata/sf0.001]"
  * }}}
  *
  * Three steps, each the Spark-native form of the reference concept:
  *
  *  1. BATCH TABLE — `app.stream(posts).flatMap(words)` into a
  *     `GTable.agg` counter: the `word_counts[word] += 1` table as a
  *     single hash-shuffle aggregation (map-side partials, no state
  *     machinery needed when the input is bounded).
  *  2. STREAMING TABLE — the same counter as live state:
  *     `StatefulTable.runningFold` over a micro-batched replay of the
  *     corpus, per-word counts accumulating across batches exactly
  *     like the reference's changelog-backed Table.
  *  3. SERVE — `GTable.lookup` point query on the snapshot — the
  *     `@app.page('/count/{word}/') + @app.table_route` pair without
  *     the web frame (see `graft.serving.TableServer` for the HTTP
  *     analog).
  */
object WordCount {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val app = App.local("word-counts")
    app.spark.sparkContext.setLogLevel("WARN")
    try run(app, dir) finally app.spark.stop()
  }

  /** The walkthrough body — separated from [[main]] so the CI smoke
    * spec can drive it on the shared test session.
    */
  def run(app: App, dir: String): Unit = {
    val spark = app.spark
    import spark.implicits._

    // the posts stream: one document text per event
    val posts = app.stream(
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"text").as[String])

    // 1. the counter table, batch flavor (shuffle once on word)
    val counts = GTable.agg(
      posts.flatMap(_.split(" ")).where(length($"value") > 0),
      keyCols = Seq($"value".as("word")),
      aggs = Seq(count(lit(1)).as("n")))

    val top = counts.orderBy($"n".desc, $"word").limit(10).collect()
    println("top words (batch table):")
    top.foreach(r => println(f"  ${r.getString(0)}%-12s ${r.getLong(1)}%d"))

    // 2. the same table as streaming state: replay the corpus in
    //    micro-batches; counts accumulate across batches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val live = StatefulTable.runningFold(
      input.toDS().flatMap(_.split(" ")).filter(_.nonEmpty),
      (w: String) => w)(0L)((acc, _) => acc + 1L)()
    val q = live.writeStream.format("memory").queryName("word_counts")
      .outputMode("update").start()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"text").as[String].collect()
    docs.grouped(math.max(1, docs.length / 4)).foreach { batch =>
      input.addData(batch.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val snapshot = spark.table("word_counts")
      .select($"_1".as("word"), $"_2".as("n"))
      .groupBy($"word").agg(max($"n").as("n")) // latest update per word

    // 3. serve a point lookup from the snapshot (the table route)
    val word = top.head.getString(0)
    val hit = GTable.lookup(snapshot, "word", word)
    println(s"""lookup '$word' -> ${hit.map(_.getLong(1)).mkString}""")

    // the streaming table must agree with the batch table
    val batchN = top.head.getLong(1)
    val liveN = hit.head.getLong(1)
    assert(liveN == batchN,
      s"streaming table diverged from batch table: $liveN != $batchN")
    println(s"streaming table matches batch table for '$word' ($batchN)")
  }
}
