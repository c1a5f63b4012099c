package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pin

/** In-engine BPE tokenizer TRAINING (Sennrich et al. 2016,
  * arXiv:1508.07909) — the "train the tokenizer on the corpus" step of
  * a training-data pipeline, run as a Spark plan instead of a local
  * tool: each round counts adjacent symbol pairs weighted by word
  * frequency, picks the most frequent pair (ties → lexicographic), and
  * merges it greedily left-to-right in every word.
  *
  * Like real BPE trainers (and like [[VectorOps.kmeansTrain]]'s
  * centroid rounds), the iteration runs on the WORD-COUNT table, not
  * raw documents: the corpus-sized work is one word-count shuffle up
  * front; each round is then a vocab-sized pair-count partial
  * aggregate plus a driver collect of exactly ONE row (the winning
  * pair, baked back into the next round's plan as literals). The
  * greedy merge is a fixed `maxLen`-position unrolled expression —
  * pure integer/string logic, so every round is bit-reproducible
  * cross-engine with no numeric snapping at all.
  *
  * Precondition: words at most `maxLen` symbols (the corpus fixture is
  * ASCII words <= 8 chars — spec-asserted). Symbols past `maxLen`
  * would be silently dropped by the unrolled rebuild, so [[train]]
  * fails fast if the corpus violates the bound.
  *
  * Scale notes (100 TB): the vocab table is Zipf-bounded (productions
  * cap it, e.g. top-1M words) and never carries document text; rounds
  * shuffle only (symbol, symbol, count) rows. Segmentation
  * ([[segmentCounts]]) re-tokenizes the VOCAB once and broadcast-joins
  * the per-word subword counts back to the token stream — documents
  * are never re-segmented per occurrence.
  *
  * Reference anchor: beyond-reference op (faust has no tokenizer
  * surface); weighted word-count formulation per the original BPE
  * paper and common tokenizer-trainer practice.
  */
object BpeOps {

  /** One learned merge: round number, the pair, its weighted count. */
  final case class Merge(round: Int, w1: String, w2: String, n: Long)

  private def chars(t: Column): Column =
    transform(sequence(lit(1), length(t)), i => t.substr(i, lit(1)))

  /** Greedy left-to-right non-overlapping merge of (x, y) in a symbol
    * array of length <= maxLen, unrolled position by position: fire(i)
    * = syms[i]=x & syms[i+1]=y & !fire(i-1); position i emits the
    * merged symbol on fire(i), nothing on fire(i-1), else itself.
    * Length guards come FIRST so every predicate stays two-valued.
    */
  private[graft] def applyMerge(syms: Column, x: String, y: String,
                                maxLen: Int): Column = {
    val n = size(syms)
    def at(i: Int) = try_element_at(syms, lit(i))
    val fires = new Array[Column](maxLen) // 1-based positions 1..maxLen-1
    for (i <- 1 until maxLen) {
      val base = (n >= i + 1) && (at(i) === lit(x)) && (at(i + 1) === lit(y))
      fires(i) = if (i == 1) base else !fires(i - 1) && base
    }
    val empty = array().cast("array<string>")
    val frags = (1 to maxLen).map { i =>
      val head =
        if (i < maxLen) when(fires(i), array(lit(x + y)))
        else when(lit(false), empty)
      val afterPrev =
        if (i >= 2) head.when(fires(i - 1), empty) else head
      afterPrev.when(n >= i, array(at(i))).otherwise(empty)
    }
    concat(frags: _*)
  }

  /** (word, n) corpus word counts — the one corpus-sized shuffle. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Run `rounds` BPE merge rounds. Returns the learned merge list and
    * the final word state (word, n, syms) with all merges applied.
    * Stops early (returning fewer merges) only if the pair space runs
    * dry — a degenerate corpus of single-symbol words. The word state
    * is a [[Pin]]: the caller's [[Pin.scope]] frees it, or
    * [[Pin.release]] does.
    */
  def train(df: DataFrame, textCol: String, rounds: Int,
            maxLen: Int = 8): (Seq[Merge], DataFrame) = {
    require(rounds >= 1 && rounds <= 32, "rounds must be in [1, 32]")
    require(maxLen >= 2 && maxLen <= 16, "maxLen must be in [2, 16]")
    // Each round's top-pair scan reads the PREVIOUS round's word state.
    // Without a pin, round r would re-evaluate all r-1 prior merge
    // expressions from the raw word counts (O(rounds²) work and one
    // FileScan per round — at 100 TB vocab scale, hours not minutes).
    // So: pin per round, then drop the predecessor — one FileScan
    // total, O(1) recompute depth per round.
    var words = Pin(wordCounts(df, textCol)
      .select(col("word"), col("n"), chars(col("word")).as("syms")))
    val over = words.where(length(col("word")) > maxLen).limit(1).collect()
    require(over.isEmpty,
      s"word '${over.headOption.map(_.getString(0)).getOrElse("")}' exceeds " +
        s"maxLen=$maxLen symbols; raise maxLen (the merge unroll bound)")
    val merges = Seq.newBuilder[Merge]
    // the predecessor of a lazily pinned `words`, live until a scan
    // materializes `words`
    var pending: Option[DataFrame] = None
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      // ONE action per round (r18 optimization; was two): the top-pair
      // scan below is the action that materializes the current round's
      // lazily pinned word state, after which its predecessor goes.
      val nBi = greatest(size(col("syms")) - 1, lit(0))
      val top = words.select(col("n"),
          explode(zip_with(slice(col("syms"), lit(1), nBi),
            slice(col("syms"), lit(2), nBi),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .collect()
      pending.foreach(Pin.release)
      pending = None
      if (top.isEmpty) dry = true
      else {
        val (a, b, cnt) =
          (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += Merge(r, a, b, cnt)
        // lazy: the next round's scan materializes it. The final round
        // has no next scan, so its state is pinned eagerly and its
        // predecessor dropped at once.
        val last = r == rounds
        val next = Pin(words.withColumn("syms", applyMerge(col("syms"), a, b, maxLen)),
          eager = last)
        if (last) Pin.release(words) else pending = Some(words)
        words = next
        r += 1
      }
    }
    (merges.result(), words)
  }

  /** The learned merge table as a DataFrame: (round, w1, w2, n). */
  def bpeMerges(spark: SparkSession, df: DataFrame, textCol: String,
                rounds: Int, maxLen: Int = 8): DataFrame = {
    import spark.implicits._
    val (ms, words) = train(df, textCol, rounds, maxLen)
    Pin.release(words) // merge table only; drop the word state
    ms.toDF("round", "w1", "w2", "n")
  }

  /** Per-doc subword census under the trained tokenizer: segment the
    * VOCAB once (the trainer's final word state), broadcast-join the
    * per-word subword counts to the token stream, aggregate per doc.
    * Output: (doc_id, n_tokens, n_subwords). The result reads the word
    * state's pin, which the caller's [[Pin.scope]] frees.
    */
  def segmentCounts(df: DataFrame, idCol: String, textCol: String,
                    rounds: Int, maxLen: Int = 8): DataFrame = {
    val (_, words) = train(df, textCol, rounds, maxLen)
    val seg = words.select(col("word"), size(col("syms")).as("n_sub"))
    df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("word"))
      .join(broadcast(seg), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("n_sub").cast("long").as("n_subwords"))
  }
}
