package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Pin, Tables}
import graft.ops.TextOps
import graft.sources.FileSources

/** Lake-ingest walkthrough — the landing-to-lake loop the round-15
  * connector tier exists for:
  *
  * {{{
  *   sbt "runMain graft.examples.LakeIngest [/root/testdata/sf0.001]"
  * }}}
  *
  * Each stage is one connector/cleaning operator (COVERAGE.md §2.1
  * has the inventory; SCALE.md the 100 TB shape):
  *
  *  1. LANDING — the corpus arrives as a JSON-lines drop (the
  *     splittable 100 TB format) with one malformed line injected;
  *     the schema-enforced PERMISSIVE read COUNTS it instead of
  *     crashing (faust's decode-error contract at file grain).
  *  2. CLEAN — Unicode NFC normalization (t53's native expression):
  *     decomposed accent sequences collapse to one canonical
  *     spelling before any dedup fingerprint or tokenizer runs.
  *  3. LAKE — the cleaned rows land as a Hive-partitioned parquet
  *     lake keyed by lang.
  *  4. SERVE A SLICE — a single-language census reads ONLY that
  *     partition's bytes: the plan is checked for PartitionFilters
  *     (directory pruning), the single biggest 100 TB scan lever.
  *  5. CONTINUOUS TWIN — the same loop as a STREAMING query
  *     ([[graft.sources.StreamingLake]]): bounded micro-batches over
  *     an arriving landing prefix, exactly-once file tracking, a
  *     commit-logged lake — faust's topic-consume shape with a
  *     directory as the topic.
  */
object LakeIngest {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local("lake-ingest")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, dir) finally spark.stop()
  }

  /** Walkthrough body — separated from [[main]] for the CI smoke. */
  def run(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"))

    // 1. landing: JSON-lines drop with one bad line, counted not fatal.
    // The landing frame is PINNED: a corrupt-only aggregation over a
    // raw JSON scan is disallowed (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    // and the frame is read twice below anyway
    val landed = Pin(FileSources.jsonRoundTrip(docs,
      rawExtraLines = Seq("""{NOT-JSON""")))
    val corrupt = col("_corrupt_record").isNotNull
    val counts = landed.agg(
      sum(when(corrupt, 0L).otherwise(1L)).as("ok"),
      sum(when(corrupt, 1L).otherwise(0L)).as("bad")).head()
    println(s"landing: ${counts.getLong(0)} rows, ${counts.getLong(1)} " +
      "malformed (counted, not fatal)")
    require(counts.getLong(1) == 1L, "expected exactly the injected bad line")

    // 2. clean: NFC-normalize text before fingerprints/tokenizers
    val cleaned = landed.where(!corrupt)
      .select(col("doc_id"), TextOps.nfcNormalize(col("text")).as("text"),
        col("lang"))

    // 3. lake: partitioned by lang (one directory per value); the
    // write is an action, so the landing pin is done after it
    val lake = FileSources.partitionedRoundTrip(cleaned, "lang")
    Pin.release(landed)

    // 4. pruned slice: the filter must land in PartitionFilters
    val slice = lake.where(col("lang") === "en")
    FileSources.assertPartitionPruned(slice)
    val census = slice.agg(count(lit(1)).as("n"),
      sum(length(col("text"))).as("cp")).head()
    println(s"en slice (pruned scan): ${census.getLong(0)} docs, " +
      s"${census.getLong(1)} codepoints")
    require(census.getLong(0) > 0, "en slice must be non-empty")

    // 5. CONTINUOUS twin (round 16): the same landing→lake loop as a
    // streaming query — files keep arriving under the landing prefix,
    // maxFilesPerTrigger bounds each micro-batch, the checkpoint's
    // file log makes the drain exactly-once across restarts, and the
    // sink's _spark_metadata commit log hides half-written batches
    // from readers. Two waves prove multi-batch admission; the
    // streamed census must equal the batch census.
    import graft.sources.StreamingLake
    val (landing, streamLake, ckpt) = StreamingLake.stageDirs()
    val wave = docs.select(col("doc_id"), col("text"), col("lang"))
    StreamingLake.dropJsonWave(wave.where(col("doc_id") % 2 === 0),
      landing, wave = 1, parts = 2)
    StreamingLake.dropJsonWave(wave.where(col("doc_id") % 2 === 1),
      landing, wave = 2, parts = 2)
    val q = StreamingLake.ingest(spark, landing.toString,
      streamLake.toString, ckpt.toString, schema = wave.schema,
      maxFilesPerTrigger = 2)
    q.awaitTermination()
    val streamed = StreamingLake.lakeView(spark, streamLake.toString)
      .where(col("_corrupt_record").isNull)
    val n = streamed.count()
    // lastProgress is null when the AvailableNow drain recorded no
    // progress — guard like q145 does rather than NPE mid-walkthrough
    require(q.lastProgress != null,
      "AvailableNow drain finished without recording any progress")
    println(s"streamed lake: $n docs in ${q.lastProgress.batchId + 1} " +
      "exactly-once micro-batches")
    require(n == wave.count(), "streamed census must equal the batch census")
  }
}
