package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Pin
import graft.ops.{BpeOps, LearnOps, SampleOps, TextOps}

/** End-to-end training-data pipeline walkthrough — the 100 TB
  * preprocessing loop this library exists for, runnable against the
  * checked-in test corpus:
  *
  * {{{
  *   sbt "runMain graft.examples.TrainDataPipeline [/root/testdata/sf0.001]"
  * }}}
  *
  * Five stages, each the operator a production corpus pass would run
  * (see COVERAGE.md for every variant and SCALE.md for why each stage
  * holds at 100 TB):
  *
  *  0. PROFILE — per-column null rate / cardinality / ranges of the
  *     raw delivery (`ProfileOps.profile`): the report that catches a
  *     broken crawl before any compute is spent on it — plus the
  *     Zipf-fit corpus QA line (`TextOps.zipfFit`): a frequency
  *     spectrum bending away from slope ≈ −1 flags template/generated
  *     deliveries at census cost.
  *  0.5 FREQUENCY CAP — bound exact-duplicate multiplicity BEFORE the
  *     near-dup machinery (`SampleOps.frequencyCap`, the SlimPajama
  *     recipe): natural duplication keeps up to `cap` copies, heavy
  *     duplicates die here for one content-key shuffle.
  *  1. QUALITY GATE — heuristic filter on token stats (narrow scan,
  *     zero shuffle; `TextOps.qualityColumns`).
  *  2. NEAR-DUP CLUSTERS — MinHash+LSH candidate edges → pointer-
  *     jumping connected components, keeping the HIGHEST-QUALITY doc
  *     per cluster (`TextOps.clusterRepresentatives` — the production
  *     selection rule, not min-id).
  *  3. LEAK-FREE SPLIT — train/test assignment keyed on the CLUSTER
  *     id, so near-duplicates can never straddle the split
  *     (`SampleOps.hashSplit` over cluster labels — the p12 contract).
  *  4. CLASSIFIER — distill a label heuristic into a quality model by
  *     in-engine gradient descent on the TRAIN side only
  *     (`LearnOps.trainQualityClassifier`).
  *  5. SCORE + PACK — score every surviving doc with the frozen
  *     weights (pure narrow column, batch or streaming) and report
  *     the split sizes a shard writer would consume.
  *  6. TOKENIZER — train BPE merges on the TRAIN fragment only
  *     (`BpeOps.train` — word-count shuffle once, vocab-sized merge
  *     rounds) and report the resulting subword budget per split.
  */
object TrainDataPipeline {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local("train-data-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, dir) finally spark.stop()
  }

  /** The walkthrough body — separated from [[main]] so the CI smoke
    * spec can drive it on the shared test session.
    */
  def run(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val stopwords = Seq("the", "a", "of", "to")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text", $"lang")

    // 0. profile the delivery: nulls/cardinalities/ranges per column
    // BEFORE spending compute on a possibly-broken crawl — and the
    // Zipf QA line: a spectrum far off slope ≈ −1 means template or
    // machine-generated text shipped in this delivery
    graft.ops.ProfileOps.profile(docs, Seq("doc_id", "text", "lang"))
      .orderBy("column").show(truncate = false)
    val zipf = TextOps.zipfFit(docs, "text", topN = 50)
      .as[(Long, Double, Double)].head()
    println(f"zipf fit over top-${zipf._1} terms: " +
      f"slope ${zipf._2}%.4f intercept ${zipf._3}%.4f")

    // 0.5 frequency cap: bound exact-duplicate multiplicity before the
    // near-dup machinery (one content-key shuffle, audit flags kept)
    val capped = SampleOps.frequencyCap(docs, md5($"text"), "doc_id", cap = 2)
      .where($"kept").select($"doc_id", $"text", $"lang")

    // 1. quality gate: drop degenerate docs before anything shuffles
    val quality = TextOps.qualityColumns($"text", stopwords).toMap
    val gated = Pin(capped.where(quality("n_tokens") >= 5))

    // 2. near-dup clusters; keep the HIGHEST-QUALITY representative
    // per cluster (the linear LSH path — never all-pairs)
    val clustered = TextOps.clusterRepresentatives(
      gated, "doc_id", "text", stopwords, numHashes = 16, bands = 2,
      minEstimate = 0.7, portable = true)
    val kept = Pin(clustered.where($"is_kept" === 1)
      .join(gated, "doc_id")
      .select($"doc_id", $"text", $"lang", $"cluster_id"))

    // 3. leak-free split: key the hash on the CLUSTER id
    val split = SampleOps.hashSplit(kept, "cluster_id",
      Seq("train" -> 9.0, "test" -> 1.0), salt = "demo")

    // 4. train the quality classifier on the train fragment only
    val train = split.where($"split" === "train")
    val w = LearnOps.trainQualityClassifier(train, "text",
        when($"lang" === "en", 1.0).otherwise(0.0), stopwords,
        steps = 3, lr = 0.2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val weights = Seq(w("w0"), w("w1"), w("w2"), w("w3"))
    println(f"trained weights: ${weights.map(x => f"$x%+.6f").mkString(" ")}" +
      f"  (train mse ${w("mse")}%.6f)")

    // 5. score everything with the frozen weights and report
    val scored = split.withColumn("quality",
      LearnOps.qualityScore(weights, $"text", stopwords))
    val report = scored.groupBy("split").agg(
      count(lit(1)).as("n_docs"),
      round(avg($"quality"), 4).as("avg_quality"))
      .orderBy("split")
    report.show(truncate = false)

    // 6. train the tokenizer on the train fragment; report the
    // subword budget each split would feed a shard writer
    val trainDocs = split.where($"split" === "train")
      .select($"doc_id", $"text")
    val (merges, words) = BpeOps.train(trainDocs, "text", rounds = 4)
    Pin.release(words)
    println("bpe merges: " + merges.map(m =>
      s"${m.w1}+${m.w2}(${m.n})").mkString(" "))
    // the census reads the tokenizer's pinned word state: the scope frees it
    Pin.scope {
      BpeOps.segmentCounts(split, "doc_id", "text", rounds = 4)
        .join(split.select("doc_id", "split"), "doc_id")
        .groupBy("split").agg(sum($"n_subwords").as("subword_budget"))
        .orderBy("split")
        .show(truncate = false)
    }

    // 7. curriculum shard writing: bucket the train fragment by the
    // frozen-weight quality score (cuts from the portable quantile
    // sketch — no global sort), hash-shuffled shards within buckets;
    // the trainer then reads buckets high-quality-first
    val curriculum = SampleOps.curriculumShards(
      scored.where($"split" === "train")
        .withColumn("score_i", floor($"quality" * 100).cast("long")),
      "doc_id", $"score_i", nShards = 2, levels = 7, salt = "demo")
    curriculum.groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        min("score_i").as("lo"), max("score_i").as("hi"))
      .orderBy("bucket")
      .show(truncate = false)

    // 8. mixture quota: max-min fair token budget across languages
    // (the water-filling allocator) — small languages keep their whole
    // supply, the dominant one caps at the common level, and the
    // budget is exactly exhausted; feed `allocation / n_tokens` as the
    // per-language sampling rate into the shard writer above
    val supply = split.where($"split" === "train")
      .groupBy("lang").agg(sum(TextOps.tokenCount($"text")).as("n_tokens"))
    SampleOps.waterfillQuota(supply, "lang", "n_tokens", budgetPct = 60)
      .orderBy("lang").show(truncate = false)

    // 9. ship the train fragment as WebDataset shards (the loader's
    // physical format): byte-budget ustar packing via the distributed
    // prefix-sum cut, then prove the loader's read path end-to-end by
    // slicing one sample's text back out byte-losslessly
    val shards = graft.ops.TarOps.textToWdsShards(
      scored.where($"split" === "train")
        .select($"lang".as("source"), $"doc_id", $"text",
          $"split".as("lang")),
      byteBudget = 4096L)
    graft.ops.TarOps.wdsShardCensus(shards)
      .groupBy("source").agg(
        count(lit(1)).as("n_shards"),
        sum("payload_bytes").as("bytes"))
      .orderBy("source").show(truncate = false)
    val roundTrip = graft.ops.TarOps.wdsExtractText(shards, "txt").count()
    require(roundTrip == scored.where($"split" === "train").count(),
      "every packed training sample must read back out of its shard")

    val total = docs.count()
    val survived = scored.count()
    println(s"$total docs in -> $survived representative docs out " +
      s"(${total - survived} near-duplicates removed)")
    require(survived > 0, "pipeline produced no output")
    require(merges.nonEmpty, "tokenizer learned no merges")
    Pin.release(gated)
    Pin.release(kept)
  }
}
