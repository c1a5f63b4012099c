package faustbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.ops.{SampleOps, TextOps}

/** `corpus_curation`: the batch LLM-data pass over a seeded corpus.
  *
  * `SampleOps.frequencyCap` (cap 1: exact-duplicate removal) →
  * `TextOps.qualityColumns` gate → `TextOps.clusterRepresentatives`
  * (MinHash LSH + connected components, best doc per cluster) →
  * `TextOps.redactPii` → parquet. Each stage's output is pinned, so
  * the span around each call times that stage's own work; the pins
  * are dropped at the end of every pass.
  *
  * The last pass is checked against the corpus's planted truth.
  */
final class CurationWorkload extends Workload {
  import CurationWorkload._

  private var corpus: IndexedSeq[CorpusGen.Doc] = _
  private var corpusPath: String = _

  def setup(ctx: Ctx): Unit = {
    corpus = CorpusGen.corpus(ctx.seed, BaseDocs)
    corpusPath = ctx.path("corpus")
    write(ctx.spark, corpus, corpusPath)
    // warm-up: one untimed pass over the corpus itself
    new Pass(ctx.spark, corpusPath, ctx.path("warm-out"), new Tracer(false)).run().release()
  }

  def measure(ctx: Ctx, out: Outcome): Unit = {
    val tracer = ctx.tracer
    val t0Wall = System.currentTimeMillis()
    ctx.probes.startWindow()
    val outPath = ctx.path("curated")
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val passMs = mutable.ArrayBuffer.empty[Double]
    var last: Pass = null
    while (passMs.length < MinPasses || System.nanoTime() < deadline) {
      if (last != null) last.release()
      val t = System.nanoTime()
      last = new Pass(ctx.spark, corpusPath, outPath, tracer).run()
      passMs += (System.nanoTime() - t) / 1e6
      out.check(true, "pass")
    }
    val t1Wall = System.currentTimeMillis()
    val passP50 = Stats.median(passMs)
    val docsPerS = corpus.length / (passP50 / 1000)
    out.named("docs_per_s") = Map("value" -> docsPerS, "unit" -> "1/s",
      "docs" -> corpus.length, "passes" -> passMs.length)
    out.named("pass_p50_ms") = Map("value" -> passP50, "unit" -> "ms", "samples" -> passMs.length,
      "passes_ms" -> passMs.toList)
    out.e2e("throughput_per_s") = Metric(docsPerS, "1/s")
    out.e2e("latency_p50_ms") = Metric(passP50, "ms")

    val (precision, recall) = check(ctx.spark, last, outPath, out)
    last.release()
    out.layer("ops.near_dup_precision", precision, "ratio")
    out.layer("ops.near_dup_recall", recall, "ratio")
    out.layer("traced.throughput_per_s", docsPerS, "1/s")
    out.layer("traced.latency_p50_ms", passP50, "ms")
    if (tracer.enabled) {
      val n = passMs.length.toDouble
      Seq("frequency_cap", "quality_gate", "cluster_representatives", "redact_pii", "write")
        .foreach(s => out.layer(s"ops.${s}_ms", tracer.p50(s"ops.$s"), "ms"))
      val sp = ctx.probes.sparkProbe
      val spark = ctx.probes.sparkMetrics(t0Wall, t1Wall)
      spark.foreach { case (k, (v, u)) => out.layer(k, v, u) }
      out.layer("ops.jobs_per_pass", spark("spark.jobs")._1 / n, "count")
      out.layer("ops.pins", sp.pins / n, "count")
      out.layer("ops.pinned_mb.peak", sp.pinnedPeakBytes / 1048576.0, "MB")
      out.layer("ops.shuffle_write_mb", sp.shuffleWriteBytes / 1048576.0 / n, "MB")
      out.layer("ops.spill_mb", sp.spillBytes / 1048576.0 / n, "MB")
    }
  }

  /** The checks of the last pass; returns near-dup (precision, recall). */
  private def check(spark: SparkSession, pass: Pass, outPath: String, out: Outcome): (Double, Double) = {
    val ref = new Reference(corpus)
    val capped = pass.capped.count()
    out.check(capped == ref.distinctTexts,
      s"frequency cap kept $capped docs, reference ${ref.distinctTexts}")
    val gated = pass.gated.select("doc_id").collect().map(_.getLong(0)).toSet
    out.check(gated == ref.gated,
      s"quality gate kept ${gated.size} docs, reference ${ref.gated.size}")
    val clusters = pass.clusters.select("doc_id", "cluster_id", "is_kept").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byCluster = clusters.groupBy(_._2)
    val origin = corpus.map(d => d.id -> d.origin).toMap
    val mixed = byCluster.values.count(_.map(c => origin(c._1)).distinct.length > 1)
    out.check(mixed == 0, s"$mixed clusters join unrelated base documents")
    val oneKept = byCluster.values.forall(_.map(_._3).sum == 1)
    out.check(oneKept, "a cluster kept other than exactly one representative")
    val pairs = byCluster.values.map(cs => cs.length.toLong * (cs.length - 1) / 2).sum
    val truePairs = byCluster.values.map { cs =>
      cs.groupBy(c => origin(c._1)).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    }.sum
    val precision = if (pairs == 0) 1.0 else truePairs.toDouble / pairs
    val clusterOf = clusters.map(c => c._1 -> c._2).toMap
    val (found, planted) = ref.families(gated).foldLeft((0L, 0L)) { case ((f, p), (base, members)) =>
      val same = members.count(m => clusterOf.get(m) == clusterOf.get(base))
      (f + same, p + members.length)
    }
    val recall = if (planted == 0) 1.0 else found.toDouble / planted
    out.check(recall >= MinRecall, f"near-duplicate recall $recall%.4f below $MinRecall")
    val written = spark.read.parquet(outPath).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    out.check(written.length == byCluster.size,
      s"wrote ${written.length} docs for ${byCluster.size} clusters")
    val pii = corpus.map(d => d.id -> d.pii).toMap
    val leaked = written.count { case (id, text) => pii(id).exists(text.contains) }
    out.check(leaked == 0, s"$leaked written docs still hold planted PII")
    out.require(ref.families(gated).nonEmpty && pii.values.exists(_.nonEmpty),
      "corpus planted no families or no PII")
    (precision, recall)
  }

  def teardown(): Unit = ()
}

object CurationWorkload {
  val BaseDocs = 8000
  val MinPasses = 3
  val MinTokens = 20
  val MinStopwordRatio = 0.05
  val NumHashes = 16
  val Bands = 4
  val MinEstimate = 0.7
  /** Share of planted near-duplicates that must land in their base's cluster. */
  val MinRecall = 0.95

  def write(spark: SparkSession, docs: IndexedSeq[CorpusGen.Doc], path: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang)).toDF("doc_id", "text", "lang")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
  }

  /** One curation pass; each stage pinned under its own span. */
  final class Pass(spark: SparkSession, in: String, outPath: String, tracer: Tracer) {
    var capped: DataFrame = _
    var gated: DataFrame = _
    var clusters: DataFrame = _
    private var redacted: DataFrame = _

    def run(): Pass = {
      val docs = spark.read.parquet(in)
      capped = tracer.span("ops.frequency_cap") {
        SampleOps.frequencyCap(docs, md5(col("text")), "doc_id", cap = 1)
          .where(col("kept")).select("doc_id", "text", "lang").localCheckpoint(true)
      }
      gated = tracer.span("ops.quality_gate") {
        val q = TextOps.qualityColumns(col("text"), CorpusGen.AllStopwords).toMap
        capped.where(q("n_tokens") >= MinTokens && q("stopword_ratio") >= MinStopwordRatio)
          .localCheckpoint(true)
      }
      clusters = tracer.span("ops.cluster_representatives") {
        TextOps.clusterRepresentatives(gated, "doc_id", "text", CorpusGen.AllStopwords,
          numHashes = NumHashes, bands = Bands, minEstimate = MinEstimate).localCheckpoint(true)
      }
      redacted = tracer.span("ops.redact_pii") {
        clusters.where(col("is_kept") === 1).select("doc_id", "cluster_id")
          .join(gated, "doc_id")
          .withColumn("text", TextOps.redactPii(col("text")))
          .localCheckpoint(true)
      }
      tracer.span("ops.write") { redacted.write.mode("overwrite").parquet(outPath) }
      this
    }

    def release(): Unit =
      Seq(capped, gated, clusters, redacted).filter(_ != null).foreach(ColumnBridge.unpersistCheckpoint)
  }

  /** The corpus's planted truth, computed in plain Scala. */
  final class Reference(corpus: IndexedSeq[CorpusGen.Doc]) {
    private val stop = CorpusGen.AllStopwords.toSet
    private val firstCopy = corpus.groupBy(_.text).values.map(_.minBy(_.id)).toSeq
    val distinctTexts: Long = firstCopy.length.toLong

    val gated: Set[Long] = firstCopy.filter { d =>
      val toks = d.text.split(" ", -1)
      val ratio = toks.count(stop.contains).toDouble / toks.length
      toks.length >= MinTokens && ratio >= MinStopwordRatio
    }.map(_.id).toSet

    /** base id -> its planted variants that passed the gate, for bases that did. */
    def families(kept: Set[Long]): Map[Long, Seq[Long]] =
      corpus.filter(d => d.kind == CorpusGen.Variant && kept(d.id) && kept(d.origin))
        .groupBy(_.origin).map { case (b, vs) => b -> vs.map(_.id) }
  }
}
