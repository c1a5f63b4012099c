package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin

/** Text-analysis + dedup operators for large-scale document pipelines.
  *
  * All scalar paths are built from `org.apache.spark.sql.functions`
  * (codegen'd, no UDFs): tokenization, quality scoring, language-ID
  * heuristics, fingerprints, exact dedup, n-gram Jaccard near-dup,
  * MinHash+LSH, and SimHash.
  *
  * Scale notes (100 TB): exact dedup and MinHash/LSH are single-shuffle
  * group-bys on bounded keys; pairwise Jaccard is quadratic per token
  * bucket and exists as the small-scale oracle-checkable variant — the
  * scale path is [[minHashPairs]], whose candidate generation touches
  * only docs sharing an LSH band bucket.
  */
object TextOps {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword-count heuristic: words plus punctuation marks
    * counted as separate tokens (regex token split).
    */
  def regexTokens(text: Column): Column =
    filter(split(text, "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Per-language dataset-card profile — the corpus report every
    * curated training set ships with: doc/token volume, source
    * spread, and exact char-length quantiles per language slice.
    * One grouped aggregation; the DISTINCT source count and exact
    * percentiles make this a report query (group cardinality =
    * #languages), not a hot-path operator — at 100 TB swap
    * `countDistinct`/`percentile` for `approx_count_distinct`/
    * `approx_percentile` to keep every aggregate partial.
    */
  def corpusReport(df: DataFrame, textCol: String, langCol: String,
                   sourceCol: String, charsCol: String): DataFrame =
    df.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol))).as("total_tokens"),
        round(avg(tokenCount(col(textCol))), 6).as("avg_doc_tokens"),
        countDistinct(col(sourceCol)).as("n_sources"),
        expr(s"percentile($charsCol, 0.5)").as("p50_chars"),
        expr(s"percentile($charsCol, 0.9)").as("p90_chars"),
        min(col(charsCol)).as("min_chars"),
        max(col(charsCol)).as("max_chars"))

  /** Readability metrics (Flesch reading ease + Flesch–Kincaid grade)
    * from deterministic heuristics: sentences = runs of `.!?`,
    * syllables = vowel-group count per word (min 1) — the standard
    * dictionary-free approximation. Zero-shuffle scalar bundle; the
    * formula is written in one fixed evaluation order and snapped to
    * 6 dp so an independent SQL replay lands the same bits.
    */
  def readabilityColumns(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nWords = size(toks).cast("double")
    val nSentences =
      greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))
        .cast("double")
    val nSyllables = aggregate(
      transform(toks, w => greatest(
        size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))),
        lit(1)).cast("long")),
      lit(0L), (acc, x) => acc + x).cast("double")
    val wps = nWords / nSentences
    val spw = nSyllables / nWords
    Seq("n_words" -> nWords.cast("long"),
      "n_sentences" -> nSentences.cast("long"),
      "n_syllables" -> nSyllables.cast("long"),
      "flesch_ease" ->
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6),
      "fk_grade" ->
        round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6))
  }

  /** Encoding/mojibake QA flags — the byte-hygiene gate of a crawl
    * pipeline: U+FFFD replacement chars (decode failures), C0/DEL
    * control chars, and the non-ASCII ratio. Pure narrow projection.
    */
  def encodingQaColumns(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val nAscii = length(regexp_replace(text, "[^\\x00-\\x7F]", ""))
    val nonAscii = (nChars - nAscii).cast("long")
    val nReplacement =
      (nChars - length(regexp_replace(text, "�", ""))).cast("long")
    val nControl =
      (nChars - length(regexp_replace(text,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))).cast("long")
    val ratio = nonAscii.cast("double") / nChars
    Seq("n_chars" -> nChars.cast("long"),
      "n_non_ascii" -> nonAscii,
      "n_replacement" -> nReplacement,
      "n_control" -> nControl,
      "non_ascii_ratio" -> round(ratio, 6),
      "encoding_suspect" ->
        (nReplacement > 0 || nControl > 0 || ratio > lit(0.3)))
  }

  /** Inverted index build — the search-engine ingestion primitive:
    * per (term, doc) postings with term frequency and sorted 1-based
    * positions, plus each term's document frequency. t19's BM25 and
    * t06's TF-IDF score FROM these statistics; this materializes the
    * index itself (phrase/proximity queries need the positions).
    *
    * Scale shape: one (term, doc) partial-agg shuffle for the
    * postings, one term-key window for doc_freq. `sort_array` pins
    * the positions order (collect_list alone is partition-order
    * dependent), keeping rows hash-exact across engines and reruns.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"),
        array_join(sort_array(collect_list((col("pos") + 1).cast("long"))),
          ",").as("positions"))
      .withColumn("doc_freq",
        count(lit(1)).over(Window.partitionBy("term")))
  }

  /** Sentence-boundary chunking — the RAG chunker next to
    * [[chunkTokens]]'s fixed token windows: sentences (runs ending in
    * `.!?`, trailing fragment kept) pack greedily into chunks of
    * ~`tokenBudget` tokens WITHOUT splitting a sentence; a chunk
    * boundary falls only between sentences, so retrieval snippets
    * stay readable. Chunk assignment is `tokens-before div budget` —
    * deterministic, order-pinned reassembly.
    *
    * Scale shape: one doc-key window (cumulative token count) + one
    * (doc, chunk) partial agg; rows are (id, short sentence), never
    * full documents, and the sentence regex is a codegen'd scalar.
    */
  def sentenceChunks(df: DataFrame, idCol: String, textCol: String,
                     tokenBudget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokenBudget > 0, "positive token budget")
    val sents = regexp_extract_all(col(textCol),
      lit("[^.!?]+[.!?]+|[^.!?]+$"), lit(0))
    val exploded = df
      .select(col(idCol), posexplode(sents).as(Seq("sidx", "sent_raw")))
      .select(col(idCol), col("sidx"), trim(col("sent_raw")).as("sent"))
      .withColumn("n_toks", size(split(col("sent"), " ")).cast("long"))
    val w = Window.partitionBy(col(idCol)).orderBy("sidx")
      .rowsBetween(Window.unboundedPreceding, -1)
    exploded
      .withColumn("__before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .withColumn("chunk_id", expr(s"__before div $tokenBudget"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("n_toks")).as("n_chunk_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("sidx"), col("sent")))),
          s => s.getField("sent")), " ").as("chunk_text"))
  }

  /** Blocked fuzzy key matching — the entity-resolution tier: pairs
    * whose keys sit within `maxDistance` Levenshtein edits, candidate-
    * gated by a caller-chosen blocking key (classic blocking: only
    * same-block pairs are compared, so pair work is Σ|block|², never
    * n² — pick blocks that bound skew, e.g. prefix+length, or salt a
    * hot block). The verify metric is exact integer edit distance, so
    * the report is hash-exact cross-engine.
    */
  def fuzzyKeyPairs(df: DataFrame, idCol: String, keyCol: Column,
                    blockKey: Column, maxDistance: Int): DataFrame = {
    require(maxDistance >= 0, "maxDistance >= 0")
    val a = df.select(col(idCol).as("id_a"), keyCol.as("key_a"),
      blockKey.as("__blk"))
    val b = df.select(col(idCol).as("id_b"), keyCol.as("key_b"),
      blockKey.as("__blk"))
    a.join(b, Seq("__blk")).where(col("id_a") < col("id_b"))
      .withColumn("distance", levenshtein(col("key_a"), col("key_b")))
      .where(col("distance") <= maxDistance)
      .select("id_a", "id_b", "key_a", "key_b", "distance")
  }

  /** Incremental flavor of [[fuzzyKeyPairs]] — the entity-resolution
    * ingest shape: new records match against the EXISTING corpus only
    * (increment × history inside shared blocks), the d09/d31 growing-
    * corpus contract. Within-increment pairs are the caller's batch
    * [[fuzzyKeyPairs]] pass if needed; history never self-joins.
    */
  def fuzzyKeyPairsIncremental(increment: DataFrame, history: DataFrame,
                               idCol: String, keyCol: Column,
                               blockKey: Column, maxDistance: Int)
      : DataFrame = {
    require(maxDistance >= 0, "maxDistance >= 0")
    val a = increment.select(col(idCol).as("id_new"), keyCol.as("key_new"),
      blockKey.as("__blk"))
    val b = history.select(col(idCol).as("id_old"), keyCol.as("key_old"),
      blockKey.as("__blk"))
    a.join(b, Seq("__blk"))
      .withColumn("distance", levenshtein(col("key_new"), col("key_old")))
      .where(col("distance") <= maxDistance)
      .select("id_new", "id_old", "key_new", "key_old", "distance")
  }

  /** Blocklist screening — per-doc hit count / rate over a fixed term
    * list (the wordlist-filter tier of toxicity/unsafe-content
    * screening; real pipelines chain a classifier behind it, the scan
    * shape is this). Case-folded whole-token matches only — substring
    * matching is the classic Scunthorpe failure. Zero-shuffle scalar
    * bundle; a large blocklist becomes a broadcast-joined set at the
    * same plan shape.
    */
  def blocklistColumns(text: Column, blocklist: Seq[String],
                       maxRate: Double = 0.01): Seq[(String, Column)] = {
    require(blocklist.nonEmpty, "empty blocklist")
    val toks = tokens(lower(text))
    val hits = filter(toks, t => t.isInCollection(blocklist))
    val nToks = size(toks)
    val nHits = size(hits)
    val rate = nHits.cast("double") / nToks
    Seq("n_tokens" -> nToks.cast("long"),
      "n_blocklist_hits" -> nHits.cast("long"),
      "blocklist_rate" -> round(rate, 6),
      "blocklist_flagged" -> (rate > lit(maxRate)))
  }

  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    val sw = stopwords.map(lit)
    size(filter(tokens(text), t => t.isin(sw: _*)))
  }

  /** Quality-score components: token counts, mean token length
    * (char arithmetic, exact), stopword ratio, and a composite score.
    * Deterministic integer/rational arithmetic → oracle-safe.
    */
  def qualityColumns(text: Column, stopwords: Seq[String]): Seq[(String, Column)] = {
    val nTok = tokenCount(text)
    val nChars = length(text)
    val meanTokLen = (nChars - (nTok - lit(1))).cast("double") / nTok
    val swRatio = stopwordCount(text, stopwords).cast("double") / nTok
    val score = meanTokLen * (lit(1.0) - swRatio)
    Seq("n_tokens" -> nTok, "mean_token_len" -> meanTokLen,
        "stopword_ratio" -> swRatio, "quality_score" -> score)
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, the "Colossal
    * Clean Crawled Corpus" heuristics, arXiv:1910.10683 §2.2) as ONE
    * zero-shuffle scalar pipeline — the classic web-crawl scrub that
    * runs before every filter in this family:
    *
    *   - lines = `\n`-split of the document
    *   - a line survives iff it ends in terminal punctuation
    *     (`. ! ? "`), has at least `minLineWords` words, and does not
    *     mention "javascript" (case-insensitive)
    *   - the whole DOC is dropped when it mentions "lorem ipsum"
    *     (boilerplate filler) or contains a curly brace (leaked
    *     source code), or when fewer than `minKeptLines` lines
    *     survive (the paper's ≥-5-sentences page gate, expressed in
    *     lines)
    *
    * Output: (id, n_lines, n_kept_lines, doc_kept, clean_text) with
    * `clean_text` the surviving lines rejoined ('' when dropped).
    * Pure string/array HOF arithmetic — every rule is a narrow
    * projection, nothing shuffles, and the whole pipeline stays
    * inside whole-stage codegen at any corpus size.
    *
    * The synthetic corpus has no newlines or punctuation, so there
    * every doc is one unterminated line and `doc_kept` is uniformly
    * false — the oracle still verifies every rule's arithmetic; the
    * multi-line semantics are pinned by the crafted fixture in
    * OpsSpec (terminal-punct, short-line, javascript, lorem-ipsum,
    * brace and min-lines cases each exercised).
    */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 3, minKeptLines: Int = 1): DataFrame = {
    require(minLineWords >= 1, "minLineWords >= 1")
    require(minKeptLines >= 1, "minKeptLines >= 1")
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, " "), w => length(w) > 0)) >= minLineWords &&
        !lower(l).contains("javascript"))
    val docOk = !lower(col(textCol)).contains("lorem ipsum") &&
      !col(textCol).contains("{")
    df.select(col(idCol).as("id"), lines.as("__graft_lines"),
        kept.as("__graft_kept"), docOk.as("__graft_ok"))
      .select(col("id"),
        size(col("__graft_lines")).as("n_lines"),
        size(col("__graft_kept")).as("n_kept_lines"),
        (col("__graft_ok") &&
          size(col("__graft_kept")) >= minKeptLines).cast("int").as("doc_kept"),
        when(col("__graft_ok") && size(col("__graft_kept")) >= minKeptLines,
          array_join(col("__graft_kept"), "\n")).otherwise(lit(""))
          .as("clean_text"))
  }

  /** Gopher-style document-level quality gates (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1) — the rule battery MassiveWeb filtered
    * with, as one zero-shuffle scalar projection. Per document:
    *
    *   - word count within [minWords, maxWords]
    *   - mean word length within [minMeanLen, maxMeanLen] (t02's
    *     exact chars/tokens arithmetic)
    *   - symbol-to-word ratio (tokens containing `#` or `...`)
    *     ≤ maxSymbolRatio
    *   - fraction of words with ≥ 1 alphabetic char ≥ minAlphaRatio
    *   - at least minStopwords stopword hits (the paper's
    *     "2 of a small stop list" gibberish gate)
    *
    * Output: the five measurements, one 0/1 flag per rule and the
    * conjunction `keep`. Every rule is integer/rational arithmetic
    * (single divisions of exact ints — no rounding needed); the
    * paper's remaining LINE-level rules (bullet/ellipsis line
    * fractions) are [[c4Clean]]'s machinery.
    */
  def gopherQualityGates(df: DataFrame, idCol: String, textCol: String,
                         stopwords: Seq[String],
                         minWords: Int = 10, maxWords: Int = 100000,
                         minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                         maxSymbolRatio: Double = 0.1,
                         minAlphaRatio: Double = 0.8,
                         minStopwords: Int = 2): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks)
    val meanLen = (length(col(textCol)) - (nTok - lit(1))).cast("double") / nTok
    val symbolRatio = size(filter(toks,
      t => t.contains("#") || t.contains("..."))).cast("double") / nTok
    val alphaRatio = size(filter(toks,
      t => t.rlike("[A-Za-z]"))).cast("double") / nTok
    val nStop = stopwordCount(col(textCol), stopwords)
    val flags = Seq(
      "ok_words" -> (nTok >= minWords && nTok <= maxWords),
      "ok_mean_len" -> (meanLen >= minMeanLen && meanLen <= maxMeanLen),
      "ok_symbols" -> (symbolRatio <= maxSymbolRatio),
      "ok_alpha" -> (alphaRatio >= minAlphaRatio),
      "ok_stopwords" -> (nStop >= minStopwords))
    df.select(
      col(idCol).as("id") +: nTok.as("n_words") +:
        meanLen.as("mean_word_len") +: symbolRatio.as("symbol_ratio") +:
        alphaRatio.as("alpha_word_ratio") +: nStop.as("n_stopwords") +:
        (flags.map { case (n, c) => c.cast("int").as(n) } :+
          flags.map(_._2).reduce(_ && _).cast("int").as("keep")): _*)
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169): score every raw-corpus document by how much
    * likelier its bag of hashed n-gram features is under the TARGET
    * distribution than under the raw one —
    * `log_weight(doc) = Σ_g [ln p̂_t(bucket(g)) − ln p̂_r(bucket(g))]`
    * over the doc's unigrams + bigrams, buckets from the portable
    * 60-bit hash mod `numBuckets`, both distributions
    * Laplace-smoothed (`(c_b + α) / (N + α·B)`). The target side here
    * is any predicate over the corpus (a trusted slice standing in
    * for DSIR's high-quality target sample).
    *
    * Output: (id, n_grams, log_weight) — log_weight > 0 means
    * target-like. Feed `exp(log_weight)` to
    * [[graft.ops.SampleOps.weightedSampleByHash]] (p10) for the
    * resampling half of DSIR.
    *
    * Scale shape: both bucket tables are ≤ `numBuckets` rows — the
    * gram stream partial-aggregates onto B keys map-side (64 keys
    * collapse to 64 rows per partition before the shuffle), the
    * smoothed log-ratio table broadcasts, and the per-doc sum is one
    * doc-key shuffle. Nothing document-length-sized crosses a
    * shuffle; the n-gram pass is shared by both distribution
    * estimates and the scoring leg.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, numBuckets: Int = 64,
                  alpha: Double = 0.5): DataFrame = {
    import graft.functions.PortableSketches.ngramHashesPos60
    require(numBuckets >= 2, "numBuckets >= 2")
    require(alpha > 0.0, "alpha > 0")
    // fused positional kernel (duplicates kept — occurrence counts,
    // not presence): each hash equals mdHash60(<gram string>), so the
    // md5-replaying oracle is unchanged; one digest per window, no
    // token/gram string arrays materialized per row
    val hashes = concat(ngramHashesPos60(col(textCol), 1),
      ngramHashesPos60(col(textCol), 2))
    val docBuckets = df
      .select(col(idCol).as("id"), targetPred.as("__graft_t"),
        explode(hashes).as("h"))
      .select(col("id"), col("__graft_t"),
        (col("h") % numBuckets).as("b"))
    // ONE gram pass serves both distributions: the target count rides
    // the raw groupBy as a conditional count (0 where the bucket never
    // appears in the target slice — the α-smoothing handles it), and
    // raw covers every bucket any doc can probe (raw ⊇ doc)
    val cnts = docBuckets.groupBy("b")
      .agg(count(lit(1)).as("cr"),
        count(when(col("__graft_t"), lit(1))).as("ct"))
    val totals = cnts.agg(sum("cr").as("_nr"), sum("ct").as("_nt"))
    val lr = cnts.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct").cast("double") + alpha) /
            (col("_nt").cast("double") + lit(alpha * numBuckets))) -
          log((col("cr").cast("double") + alpha) /
            (col("_nr").cast("double") + lit(alpha * numBuckets)))).as("lr"))
    // round(6): ln + double-sum order differ at the ulp level across
    // engines (cf. unigramLmScore)
    docBuckets.join(broadcast(lr), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("lr")), 6).as("log_weight"))
  }

  /** N-gram-heuristic language ID: score each language profile by
    * marker-token hits, pick the argmax (ties broken by profile order).
    * Profiles are (lang, marker tokens).
    */
  def langId(text: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val scored = profiles.map { case (lang, markers) =>
      (lang, stopwordCount(text, markers))
    }
    // argmax with first-listed profile winning ties: fold a struct(score, lang)
    scored.tail.foldLeft(struct(scored.head._2.as("s"), lit(scored.head._1).as("l"))) {
      case (best, (lang, sc)) =>
        when(sc > best.getField("s"), struct(sc.as("s"), lit(lang).as("l"))).otherwise(best)
    }.getField("l")
  }

  /** Per-doc Shannon entropy of the token distribution (nats) — the
    * gibberish/boilerplate signal the ratio heuristics (t02/t08) miss:
    * low entropy flags keyword-stuffed or looping text, high entropy
    * flags random noise.
    *
    * Zero-shuffle: production path is the fused
    * [[graft.functions.TextStatsExpressions.TokenEntropy]] native
    * expression — one compiled sort + run-length loop per document
    * (the t09 PiiScan pattern; sf0.1 bench median 11.1s → 0.50s vs
    * the interpreted fold). Bit-parity with [[tokenEntropyFold]] is
    * spec-pinned, so the DuckDB oracle contract is unchanged. The
    * term-sum order is fixed (sorted-token order) but an oracle's
    * groupBy sums in its own order — ROUND(6) absorbs the last-ulp
    * divergence (t11's documented ln-chain contract).
    */
  def tokenEntropy(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.TextStatsExpressions.TokenEntropy(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** Unicode NFC canonical composition as a native codegen expression
    * ([[graft.functions.UnicodeExpressions.NfcNormalize]]) — the
    * standard pre-dedup/pre-tokenize cleaning step; see the
    * expression's scaladoc for the oracle-parity contract.
    */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.UnicodeExpressions.NfcNormalize(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** Declarative twin of [[tokenEntropy]]: `array_sort` + ONE
    * left-to-right `aggregate` pass accumulating run lengths (a run in
    * the sorted array = one distinct token's count), folding each
    * finished run's -(c/n)·ln(c/n) term — linear in doc length, no
    * explode/groupBy. Runs as an interpreted higher-order lambda, so
    * it is the PARITY REFERENCE (the kernel must match it bit-for-
    * bit), not the hot path.
    */
  def tokenEntropyFold(text: Column): Column = {
    val toks = array_sort(tokens(text))
    // n rides in the fold's ZERO (one evaluation per row): higher-order
    // lambdas run interpreted, so referencing the outer `size(toks)`
    // inside the merge would re-tokenize + re-sort the whole document
    // at every run break — measured 11.1s → 2.9s at sf0.1 for the
    // bench query. Same arithmetic, same order: bit-identical output.
    def term(run: Column, n: Column): Column = {
      val p = run.cast("double") / n
      p * log(p)
    }
    val z = struct(lit("").as("prev"), lit(0L).as("run"), lit(0.0).as("s"),
      size(toks).cast("double").as("n"))
    val folded = aggregate(toks, z,
      (acc, t) => when(t === acc.getField("prev"),
        struct(t.as("prev"),
          (acc.getField("run") + lit(1L)).as("run"),
          acc.getField("s").as("s"),
          acc.getField("n").as("n")))
        .otherwise(struct(t.as("prev"), lit(1L).as("run"),
          (acc.getField("s") + when(acc.getField("run") > 0,
            term(acc.getField("run"), acc.getField("n"))).otherwise(lit(0.0))).as("s"),
          acc.getField("n").as("n"))),
      acc => acc.getField("s") + when(acc.getField("run") > 0,
        term(acc.getField("run"), acc.getField("n"))).otherwise(lit(0.0)))
    // 0.0 - s, not -s: a single-distinct-token doc folds s = 0.0 and
    // unary negation would emit -0.0, which engines render/hash
    // differently; IEEE 0.0 - 0.0 normalizes to +0.0 on both.
    round(lit(0.0) - folded, 6)
  }

  /** Exact content fingerprint. */
  def fingerprintMd5(text: Column): Column = md5(text)

  /** Token-SET signature: md5 of the sorted distinct tokens. Two docs
    * collide iff they use exactly the same vocabulary — the exact
    * (collision-free) end of the spectrum MinHash approximates on
    * shingle sets. Order-stable across engines (ASCII lexicographic).
    */
  def tokenSetFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Positional rolling fingerprint: sum_i i * len(token_i) mod p.
    * Pure integer arithmetic over the token array → engine-independent.
    */
  def fingerprintRolling(text: Column, p: Long = 1000000007L): Column = {
    val toks = tokens(text)
    aggregate(
      zip_with(toks, sequence(lit(1), size(toks)), (t, i) => i.cast("long") * length(t)),
      lit(0L), (acc, x) => acc + x) % p
  }

  /** Exact dedup: one row per distinct text, keeping the smallest id.
    * Single hash-shuffle on the fingerprint — linear at any scale.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup — the production shape for growing
    * corpora: dedup an incoming batch against itself AND against the
    * already-ingested corpus without touching the old documents'
    * text. Only 16-byte fingerprints of the existing side participate
    * (one hash-shuffle + one anti-join on fingerprints); at 100 TB
    * the existing fingerprint set is a fraction of corpus size and
    * the daily increment never re-scans history.
    *
    * @return one row per NEW distinct text: (fingerprint, keep_id,
    *         n_dups within the increment)
    */
  def incrementalExactDedup(incoming: DataFrame, existing: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val incomingDedup = exactDedup(incoming, idCol, textCol)
    val known = existing.select(fingerprintMd5(col(textCol)).as("fingerprint"))
      .distinct()
    incomingDedup.join(known, Seq("fingerprint"), "left_anti")
  }

  /** Bloom-accelerated incremental exact dedup — same result as
    * [[incrementalExactDedup]] (bit-identical: Bloom filters have no
    * false negatives, and every might-contain row is exact-confirmed
    * by the anti-join), but the existing-corpus membership check runs
    * map-side against a broadcast sketch first. Only the might-contain
    * sliver of the increment pays the anti-join shuffle; at 1% fpp
    * that sliver is (true dups) + ~1% of new rows, so for a mostly-new
    * daily increment the shuffle shrinks by ~100×. The split is
    * `bloomAntiJoin`, shared with [[incrementalChunkDedupBloom]].
    *
    * Note: building the sketch is an eager Spark job at call time
    * (one pass over the existing fingerprints); the returned frame is
    * lazy as usual. Size the sketch via `expectedItems` ≈ |existing
    * distinct| — ~1.2 bytes/item at the default 1% fpp.
    */
  def incrementalExactDedupBloom(incoming: DataFrame, existing: DataFrame,
                                 idCol: String, textCol: String,
                                 expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val known = existing.select(fingerprintMd5(col(textCol)).as("fingerprint"))
      .distinct()
    bloomAntiJoin(exactDedup(incoming, idCol, textCol), known, "fingerprint",
      expectedItems, fpp)
  }

  /** Probe of `key` against a broadcast Bloom sketch of `known`'s `key`
    * (an eager job): false = absent, true = maybe, null for null.
    */
  private def bloomProbe(known: DataFrame, key: String,
                         expectedItems: Long, fpp: Double): Column = {
    val sketch = known.stat.bloomFilter(key, expectedItems, fpp)
    graft.functions.BloomExpressions.bloomMightContain(col(key),
      known.sparkSession.sparkContext.broadcast(sketch))
  }

  /** `rows` left-anti `known` on `key`, the same rows as the plain
    * anti-join: definitely-new rows (and null keys, which never match)
    * skip it, the maybes are exact-confirmed.
    */
  private def bloomAntiJoin(rows: DataFrame, known: DataFrame, key: String,
                            expectedItems: Long, fpp: Double): DataFrame = {
    val maybe = bloomProbe(known, key, expectedItems, fpp)
    rows.where(maybe.isNull || !maybe)
      .unionByName(rows.where(coalesce(maybe, lit(false)))
        .join(known, Seq(key), "left_anti"))
  }

  /** Sketch-based source similarity matrix: one k-lane MinHash
    * signature per GROUP (source/dump/shard) — the elementwise min of
    * its documents' signatures, which IS the signature of the union of
    * their token sets — then the lane-agreement Jaccard estimate for
    * every group pair. [[sourceOverlap]]'s exact census reads every
    * fingerprint pair; this reads k longs per group, so the matrix
    * costs |G|²·k regardless of corpus size.
    *
    * The mergeability is the 100 TB point: per-partition partial mins
    * combine associatively (plain map-side-combine `min` per (group,
    * lane)), signatures from yesterday's corpus merge with today's by
    * the same elementwise min, and no token ever crosses the wire —
    * only k·|G| longs shuffle.
    */
  def sourceSimilarityMinhash(df: DataFrame, groupCol: String,
                              textCol: String, k: Int = 16): DataFrame =
    sourceSimilarityFromRegisters(
      sourceSignatureRegisters(df, groupCol, textCol, k), k)

  /** Register-maintenance half of [[sourceSimilarityMinhash]]: the
    * per-(group, lane) signature mins via ONE `min` aggregation —
    * streaming-safe in update/complete mode (min is commutative and
    * idempotent, the hllRegisters contract), state bounded by
    * groups × k regardless of document volume. A Structured Streaming
    * query maintains the corpus signature incrementally; fold the
    * matrix at read time with [[sourceSimilarityFromRegisters]].
    */
  def sourceSignatureRegisters(df: DataFrame, groupCol: String,
                               textCol: String, k: Int = 16): DataFrame =
    df.select(col(groupCol).as("grp"),
        posexplode(minHashSignature(col(textCol), k, portable = true))
          .as(Seq("i", "mh")))
      .groupBy("grp", "i").agg(min(col("mh")).as("mh"))

  /** Read-time fold: pairwise lane-agreement Jaccard estimates off a
    * maintained register table (serving-side work, |G|·k input rows).
    */
  def sourceSimilarityFromRegisters(regs: DataFrame,
                                    k: Int = 16): DataFrame = {
    val a = regs.select(col("grp").as("src_a"), col("i"),
      col("mh").as("mh_a"))
    val b = regs.select(col("grp").as("src_b"), col("i"),
      col("mh").as("mh_b"))
    a.join(b, Seq("i")).where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L))
        .as("n_agree"))
      .withColumn("est_jaccard", col("n_agree").cast("double") / lit(k))
  }

  /** Cross-source duplicate overlap matrix — which crawls/dumps are
    * re-serving each other's content. For every source pair (a < b):
    * the number of distinct fingerprints present in BOTH, plus the
    * Jaccard overlap of the two fingerprint sets. This is the
    * diagnostic that decides source-level dedup ORDER (dedup the
    * biggest overlap cliques first) before any pairwise doc dedup runs.
    *
    * Scale shape: documents collapse to distinct (fingerprint, slice)
    * rows first (one hash-shuffle on 16-byte fingerprints — text never
    * shuffles), then a fingerprint-keyed self-join; a fingerprint
    * shared by s sources expands to C(s,2) rows, bounded by the SOURCE
    * count squared, not the corpus. Per-source set sizes ride in via a
    * broadcast of the slice-count aggregate (|sources| rows).
    *
    * @param fpCol fingerprint granularity, caller-chosen: exact text
    *              ([[fingerprintMd5]]) for byte-identical reposts, or
    *              a token-SET signature ([[tokenSetFingerprint]] — the
    *              exact analog of the shingle set MinHash banks on)
    *              for content-level overlap
    */
  def sourceOverlap(df: DataFrame, fpCol: Column,
                    sliceCol: String): DataFrame = {
    val fpSlice = df
      .select(fpCol.as("fingerprint"),
        col(sliceCol).cast("string").as("slice"))
      .distinct()
    val sizes = fpSlice.groupBy(col("slice")).agg(count(lit(1)).as("sz"))
    val a = fpSlice.select(col("fingerprint"), col("slice").as("src_a"))
    val b = fpSlice.select(col("fingerprint"), col("slice").as("src_b"))
    a.join(b, Seq("fingerprint"))
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.withColumnRenamed("slice", "src_a")
        .withColumnRenamed("sz", "sz_a")), Seq("src_a"))
      .join(broadcast(sizes.withColumnRenamed("slice", "src_b")
        .withColumnRenamed("sz", "sz_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")), 6).as("jaccard"))
  }

  /** Distinct CDC-chunk fingerprints of a corpus — the compact unit
    * the incremental chunk contracts shuffle/broadcast instead of
    * documents (one MD5 per distinct content-defined chunk). In
    * production this set is MAINTAINED incrementally (yesterday's set
    * ∪ yesterday's new chunks), never re-derived from history — the
    * derivation here is for self-contained fixtures.
    */
  def chunkFingerprints(df: DataFrame, idCol: String, textCol: String,
                        window: Int = 4, modulus: Int = 8): DataFrame =
    contentDefinedChunks(df, idCol, textCol, window, modulus)
      .select(md5(col("chunk_text")).as("chunk_hash")).distinct()

  /** Incremental CDC-chunk dedup — [[incrementalExactDedup]]'s
    * growing-corpus contract at CHUNK granularity: dedup the incoming
    * batch's content-defined chunks against themselves AND against
    * the corpus's chunk-fingerprint set, without touching old text.
    * This is the production loop for recrawled/edited corpora: an
    * edit early in a re-fetched page re-cuts only the chunks around
    * the edit (FastCDC shift-resistance, see
    * [[contentDefinedChunks]]), so the unchanged remainder anti-joins
    * away as already-known chunk hashes instead of re-entering the
    * corpus as "new" content — doc-level exact dedup (d09) would call
    * the whole page new.
    *
    * Scale shape: chunking is the narrow t15 pass over the INCREMENT
    * only; both shuffle legs carry chunk hashes, never chunk text.
    *
    * @return one row per NEW distinct chunk: (chunk_hash, keep_doc =
    *         smallest increment doc containing it, n_dups within the
    *         increment)
    */
  def incrementalChunkDedup(incoming: DataFrame, existing: DataFrame,
                            idCol: String, textCol: String,
                            window: Int = 4, modulus: Int = 8): DataFrame =
    chunkCounts(incoming, idCol, textCol, window, modulus)
      .join(chunkFingerprints(existing, idCol, textCol, window, modulus),
        Seq("chunk_hash"), "left_anti")

  /** Bloom-accelerated [[incrementalChunkDedup]] — bit-identical
    * result (no false negatives; every might-contain row is
    * exact-confirmed by the anti-join), but the membership check runs
    * map-side against a broadcast sketch of the corpus chunk
    * fingerprints first, so only the (true dups + fpp) sliver of the
    * increment's chunks pays the anti-join shuffle — the d15↔d09
    * relationship at chunk granularity, through the same
    * `bloomAntiJoin`.
    */
  def incrementalChunkDedupBloom(incoming: DataFrame, existing: DataFrame,
                                 idCol: String, textCol: String,
                                 expectedItems: Long, fpp: Double = 0.01,
                                 window: Int = 4, modulus: Int = 8): DataFrame =
    bloomAntiJoin(chunkCounts(incoming, idCol, textCol, window, modulus),
      chunkFingerprints(existing, idCol, textCol, window, modulus),
      "chunk_hash", expectedItems, fpp)

  private def chunkCounts(incoming: DataFrame, idCol: String, textCol: String,
                          window: Int, modulus: Int): DataFrame =
    contentDefinedChunks(incoming, idCol, textCol, window, modulus)
      .groupBy(md5(col("chunk_text")).as("chunk_hash"))
      .agg(min(col("id")).as("keep_doc"), count(lit(1)).as("n_dups"))

  /** Token-set Jaccard near-duplicate pairs (id_a < id_b, jaccard >= threshold).
    *
    * Blocked on shared tokens: only docs sharing >=1 token pair up.
    * Exact and oracle-checkable; quadratic within a token's posting
    * list — use [[minHashPairs]] at scale.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    val docs = df.select(col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("toks"))
      .withColumn("n_toks", size(col("toks")))
    val posting = docs.select(col("id"), col("n_toks"), explode(col("toks")).as("tok"))
    val a = posting.toDF("id_a", "n_a", "tok")
    val b = posting.toDF("id_b", "n_b", "tok")
    a.join(b, Seq("tok"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** EXACT Jaccard-similarity join with prefix filtering (AllPairs /
    * PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008) — the
    * linear-candidate path to the same answer [[jaccardPairs]] gets
    * quadratically and [[minHashPairs]] gets approximately: identical
    * output to `jaccardPairs(threshold)`, bit for bit, but candidates
    * come only from collisions on each doc's RAREST tokens.
    *
    * Order every doc's distinct tokens rarest-first (global doc
    * frequency, ties by token); for Jaccard ≥ t a pair needs
    * |A∩B| ≥ ⌈t·n_x⌉ on each side, and the smallest common token
    * under the global order must then sit within the first
    * n_x − ⌈t·n_x⌉ + 1 tokens of BOTH docs (else too few tokens
    * remain after it to reach the required overlap) — so joining on
    * PREFIX tokens only is lossless. Prefixes are short (10% of the
    * set at t=0.9) and built from the rare end of the Zipf curve, so
    * posting lists stay tiny exactly where the full join explodes.
    *
    * The ⌈t·n⌉ is computed as `ceil(t·n − 1e-9)`: IEEE t·n can land a
    * hair ABOVE an exact integer (0.9×30 → 27.000…0007, ceil 28 —
    * a one-short prefix that could silently drop a true pair); the
    * epsilon only ever LENGTHENS the prefix, trading a few candidates
    * for provable completeness (spec: bit-identity with jaccardPairs).
    *
    * Scale shape: token df table (1 shuffle), per-doc rarest-first
    * re-sort (1 shuffle), prefix-token self-join with the Jaccard
    * length filter (min ≥ t·max) pushed into it, candidate-id dedup,
    * then exact verification on the two token arrays joined back by
    * id — shuffles carry ids and short prefixes, token arrays only
    * fan to VERIFIED-candidate cardinality. At 100 TB hash tokens to
    * 60-bit longs first (d11's kernel) so arrays ride as long[].
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double): DataFrame =
    prefixJaccardPairs(df, idCol, textCol, threshold, broadcastDocs = None)

  /** As above with an explicit verify-join tier: `Some(true)` forces
    * the broadcast tier, `Some(false)` the shuffle_hash tier, `None`
    * auto-selects (Catalyst plan stats when exact, else one count).
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double,
                         broadcastDocs: Option[Boolean]): DataFrame = {
    val (_, candIds) = prefixJaccardStages(df, idCol, textCol, threshold)
    // verify against LEX-sorted distinct-token arrays with the fused
    // merge-intersect kernel — array_intersect builds a hash set per
    // candidate pair (~80 µs/pair over the 12.5M sf0.1 candidates);
    // the merge over once-sorted arrays is allocation-free. Count is
    // definitionally identical (bit-parity spec-pinned in OpsSpec).
    // pinned (r19): consumed under two join keys (id_a, id_b) — the
    // tokenize+sort pass otherwise runs twice
    val lex = Pin(df.select(col(idCol).as("id"),
        array_sort(array_distinct(tokens(col(textCol)))).as("lt"))
      .select(col("id"), col("lt"), size(col("lt")).cast("long").as("n")))
    // Verify-join strategy is SIZE-ADAPTIVE (the README's "broadcast
    // the small side always", applied to the doc-array side):
    //  - small corpus (row count from the INPUT df — a metadata-cheap
    //    parquet count, no tokenization): BROADCAST the lex arrays to
    //    both lookups, so the multi-million-row candidate stream never
    //    re-shuffles carrying wide token arrays (measured at sf0.1:
    //    the id_b-side reshuffle of candidates+ta was the dominant
    //    cost of the old always-shuffle_hash plan);
    //  - large corpus: SHUFFLED HASH join with the doc-array side as
    //    build (hint), not sort-merge: SMJ would sort the candidate
    //    stream WITH its wide token arrays attached — at 1000× corpus
    //    that sort is the first memory wall (UNABLE_TO_ACQUIRE_MEMORY
    //    under 32 concurrent sort consumers at the 8 GB default heap;
    //    SCALE.md round-12 finding 1). The build side hashes only each
    //    partition's share of DOCS (spillable since Spark 3.2), and
    //    the candidate stream is never sorted at all.
    // The 100k-row tier cut assumes the testdata corpus's array mass
    // (~600 B of distinct lex tokens per doc → ~60 MB broadcast); a
    // corpus of much longer documents should pass an explicit
    // `broadcastDocs = Some(false)` rather than rely on the row proxy.
    // Tier selection (round-15 advice: don't pay a count() action per
    // plan build): explicit caller tier if given; else Catalyst's
    // optimized-plan row-count stat — trusted ONLY with CBO off
    // (without CBO a present rowCount is a hard plan property, e.g. a
    // LocalRelation; under CBO it can be an ESTIMATE or a stale
    // ANALYZE figure, and an underestimate here would broadcast an
    // unbounded array side); else ONE count() fallback — which for a
    // transformed non-parquet input is a real scan, the documented
    // cost of leaving the tier implicit.
    val useBroadcast = broadcastDocs.getOrElse {
      val spark = df.sparkSession
      val cboOn = spark.conf.get("spark.sql.cbo.enabled", "false").toBoolean
      val statRows =
        if (cboOn) None else df.queryExecution.optimizedPlan.stats.rowCount
      // compare as BigInt — a .toLong of a >Long.MaxValue stat would
      // wrap negative and silently broadcast an unbounded side
      statRows.map(_ <= BigInt(100000L)).getOrElse(df.count() <= 100000L)
    }
    val lexA = lex.toDF("id_a", "ta", "n_a")
    val lexB = lex.toDF("id_b", "tb", "n_b")
    val joined =
      if (useBroadcast)
        candIds.join(broadcast(lexA), "id_a").join(broadcast(lexB), "id_b")
      else
        candIds.join(lexA.hint("shuffle_hash"), "id_a")
          .join(lexB.hint("shuffle_hash"), "id_b")
    joined
      .select(col("id_a"), col("id_b"),
        // threshold-aware early-exit merge (r18): exact count for
        // every pair whose Jaccard can reach the threshold, a
        // below-threshold partial count for pairs that cannot — the
        // `jaccard >= threshold` filter below therefore keeps and
        // emits EXACTLY the same rows as the unbounded kernel
        // (bit-parity with jaccardPairs stays spec-pinned), while
        // the dissimilar bulk of the candidate stream stops merging
        // as soon as failure is provable
        graft.functions.ArrayKernels
          .sortedIntersectJaccardStr(col("ta"), col("tb"), threshold)
          .as("n_common"),
        col("n_a"), col("n_b"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** Internal stages of [[prefixJaccardPairs]], exposed so specs can
    * measure the filter's candidate volume: (per-doc rarest-first
    * token frame `(id, n_toks, stoks, plen)`, UNVERIFIED candidate id
    * pairs surviving the prefix collision + length filter).
    */
  private[graft] def prefixJaccardStages(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    val docs = df.select(col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("toks"))
      .withColumn("n_toks", size(col("toks")))
    val toks = docs.select(col("id"), col("n_toks"),
      explode(col("toks")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // pinned (r19): `prefix` below feeds BOTH legs of the collision
    // self-join (stream repartition + broadcast build), so the df-join
    // + rarest-first re-sort subtree otherwise runs twice
    val sorted = Pin(toks.join(dfreq, "tok")
      .groupBy(col("id"), col("n_toks"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("o"))
      .select(col("id"), col("n_toks"),
        transform(col("o"), x => x.getField("tok")).as("stoks"))
      .withColumn("plen",
        col("n_toks") -
          ceil(lit(threshold) * col("n_toks") - lit(1e-9)).cast("int") + 1))
    // PPJoin's POSITIONAL filter was implemented and MEASURED here,
    // then rejected: at sf0.1 (t=0.9, rarest-first order) it pruned
    // candidates only 3.69M → 3.28M (−11%), while replacing the
    // DISTINCT below with a per-pair min-position aggregate made the
    // collision shuffle rows wider — net wall time went 14.6 s →
    // 15.4 s (quiet-box medians). At this threshold the prefix +
    // length filters already capture nearly all of the pruning the
    // positions could add; re-evaluate only if the threshold drops
    // (longer prefixes → weaker prefix filter → positions matter).
    val prefix = sorted.select(col("id"), col("n_toks"),
      explode(slice(col("stoks"), lit(1), col("plen"))).as("ptok"))
    // The STREAM leg of the collision self-join is hash-repartitioned
    // on ptok with an explicit count (r18): AQE sizes a shuffle read
    // by its INPUT bytes, and this read is ~1 MB at sf0.1 — it was
    // coalesced to ONE task even though the collision join EXPLODES
    // it by three orders of magnitude (profiled: 5.7 s single-task
    // pair generation). A user-specified repartition is exempt from
    // coalescing, so the pair stage keeps the session's configured
    // shuffle width at any scale. The build leg stays a broadcast
    // hash join exactly as before — a sort-merge self-join was tried
    // here and rejected: SMJ buffers and re-scans each duplicate-key
    // group, which is quadratic in posting-list length (measured 2×
    // WORSE end-to-end at sf0.1).
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val candIds = prefix.repartition(nPart, col("ptok"))
      .toDF("id_a", "n_a", "ptok")
      .join(prefix.toDF("id_b", "n_b", "ptok"), Seq("ptok"))
      .where(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(threshold) * greatest(col("n_a"), col("n_b")))
      .select("id_a", "id_b").distinct()
    (sorted, candIds)
  }

  /** Directional shingle-containment pairs — Broder (1997)'s
    * containment `C(A,B) = |S(A) ∩ S(B)| / |S(A)|` over distinct
    * n-gram shingle sets: the fraction of doc A's shingles that also
    * occur in doc B. Emits ordered pairs with `containment >= threshold`
    * (id_a = the contained doc).
    *
    * This is the asymmetric dedup signal symmetric Jaccard (d02/d03)
    * structurally MISSES: a short doc quoted whole inside a much
    * longer one scores `|A|/|B|` on Jaccard (arbitrarily low) but
    * containment 1.0 — the quote/boilerplate/subset-recrawl case.
    * Shingles, not tokens, are the unit: token-set containment
    * saturates on small vocabularies (any short doc's tokens ⊂ a
    * long doc's), while an n-gram only matches on verbatim n-token
    * runs — d11's decontamination unit, reused here corpus-vs-self.
    *
    * Scale shape: one fused shingle-hash kernel pass, then the d02
    * posting-list self-join on the 60-bit shingle hash — quadratic
    * only within a shingle's posting list, so this is the exact tier;
    * at 100 TB generate candidates with [[minHashPairs]] (banding
    * bounds bucket fan-out) and confirm with this containment ratio
    * on the candidate pairs.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 5, threshold: Double = 0.9): DataFrame = {
    import graft.functions.PortableSketches.ngramHashes60
    val sh = df.select(col(idCol).as("id"),
      explode(ngramHashes60(col(textCol), n)).as("ngh"))
    val cnt = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val a = sh.toDF("id_a", "ngh")
    val b = sh.toDF("id_b", "ngh")
    a.join(b, Seq("ngh"))
      .where(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .join(cnt.toDF("id_a", "n_a"), Seq("id_a"))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_a"))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "n_common", "containment")
  }

  /** Scale-path containment (d23's 100 TB tier, oracle-gated as d27):
    * MinHash-banded candidate pairs first, then the EXACT directional
    * shingle-containment confirm on candidate ids only — the
    * candidate→verify LSH contract, never all-pairs. Both directions
    * of each candidate pair are confirmed (containment is asymmetric).
    *
    * Recall caveat (by construction, measured in the spec): MinHash
    * bands estimate symmetric JACCARD, so a short doc inside a much
    * longer one — high containment, low Jaccard — can miss candidacy.
    * This tier trades that recall for never materializing the shingle
    * posting self-join; the exact tier ([[containmentPairs]]) stays
    * the complete answer at oracle scale.
    */
  def containmentPairsViaMinHash(df: DataFrame, idCol: String,
                                 textCol: String, n: Int = 5,
                                 threshold: Double = 0.9,
                                 numHashes: Int = 16,
                                 bands: Int = 2): DataFrame = {
    import graft.functions.PortableSketches.ngramHashes60
    // cand deliberately NOT pinned (r19, measured): the union's two
    // legs canonicalize to the same banding-join exchange, which Spark
    // already reuses within the one action — an eager pin here only
    // added a job and a full write/read of the candidate set (d27
    // 1.81 → 2.12 s with the pin)
    val cand = minHashPairs(df, idCol, textCol, numHashes, bands,
        minEstimate = 0.0, portable = true)
      .select("id_a", "id_b")
    val candBoth = cand.unionByName(
      cand.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    // confirm on ASCENDING-sorted distinct shingle-hash arrays with
    // the fused merge-intersect kernel (d26's verify shape): shuffles
    // carry ids, arrays fan only to candidate cardinality — the
    // exploded posting join this replaced shuffled candidates ×
    // shingles rows. n_a > 0 guard = the old inner posting join's
    // implicit drop of shingle-less docs (and keeps the ratio NaN-free).
    // sh pinned (r19): consumed under two join keys (id_a, id_b) — the
    // shingle-hash + sort pass otherwise runs twice
    val sh = Pin(df.select(col(idCol).as("id"),
        sort_array(ngramHashes60(col(textCol), n)).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).cast("long").as("n")))
    candBoth
      .join(sh.toDF("id_a", "sa", "n_a"), Seq("id_a"))
      .join(sh.toDF("id_b", "sb", "n_b"), Seq("id_b"))
      .where(col("n_a") > 0)
      .select(col("id_a"), col("id_b"),
        // threshold-aware early-exit merge (r18, d26's verify trick at
        // the containment grain): exact for pairs that can clear the
        // threshold, below-threshold for pairs that cannot — the
        // filter below emits identical rows either way
        graft.functions.ArrayKernels
          .sortedIntersectContainLong(col("sa"), col("sb"), threshold)
          .as("n_common"),
        col("n_a"))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_a"))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "n_common", "containment")
  }

  /** MinHash estimator calibration — the dedup analog of the ANN
    * recall report (s17): every LSH candidate pair's ESTIMATED
    * Jaccard next to its TRUE Jaccard, folded into a calibration
    * table per estimate bucket (estimates are exact multiples of
    * 1/numHashes, so the bucket key is engine-exact). `n_true` /
    * `precision` count candidates that clear the dedup threshold —
    * the number that decides numHashes/bands: low precision wastes
    * verify work, a mean far from the bucket key means the sketch is
    * biased on this corpus.
    *
    * Scale shape: candidates from the banding join (bounded, d03's
    * shape), then a deterministic 1/`sampleMod` hash-sample of the
    * PAIRS — calibration is a statistic, so it is read off a sample,
    * exactly like s17 samples its ground-truth queries (verifying
    * every candidate's true Jaccard would cost a large fraction of
    * the dedup run it is meant to tune). TRUE Jaccard is computed for
    * the sampled candidates ONLY — the token arrays join back by id
    * and intersect per pair (d26's verify shape: shuffles carry ids,
    * arrays fan only to candidate cardinality — the exploded posting
    * join this replaced shuffled candidates × tokens rows, 7.0s →
    * 4.8s on the sf0.1 bench, the rest is the banding join itself);
    * the fold is a ≤ numHashes+1-row groupBy.
    */
  def minHashCalibration(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 16, bands: Int = 2,
                         threshold: Double = 0.9,
                         sampleMod: Int = 1): DataFrame = {
    require(sampleMod >= 1, "sampleMod >= 1")
    val all = minHashPairs(df, idCol, textCol, numHashes, bands,
        minEstimate = 0.0, portable = true)
      .select("id_a", "id_b", "est_jaccard")
    val cand =
      if (sampleMod == 1) all
      else all.where(graft.functions.PortableHash.mdHash60(
        concat(col("id_a").cast("string"), lit("|"),
          col("id_b").cast("string"))) % sampleMod === 0)
    // pinned (r19): the truth join consumes this frame under two
    // different keys (id_a, id_b) — separate exchanges, no reuse — so
    // the tokenize+sort pass over the corpus ran twice per query
    val docsArr = Pin(df.select(col(idCol).as("id"),
      array_sort(array_distinct(tokens(col(textCol)))).as("ts")))
    val truth = cand
      .join(docsArr.toDF("id_a", "ta"), Seq("id_a"))
      .join(docsArr.toDF("id_b", "tb"), Seq("id_b"))
      .withColumn("__graft_nc",
        graft.functions.ArrayKernels
          .sortedIntersectCountStr(col("ta"), col("tb")))
      .withColumn("jaccard",
        col("__graft_nc").cast("double") /
          (size(col("ta")).cast("long") + size(col("tb")).cast("long") -
            col("__graft_nc")))
    truth.groupBy("est_jaccard")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("mean_jaccard"),
        count(when(col("jaccard") >= threshold, 1)).as("n_true"))
      .withColumn("precision",
        col("n_true").cast("double") / col("n_pairs").cast("double"))
  }

  /** MinHash signature: k permutation-minima over distinct-token
    * hashes (seeded per permutation). Returns array<long>.
    *
    * `portable = false` (default) hashes with xxhash64 — the fast
    * engine-local path. `portable = true` uses the 60-bit MD5 hash
    * ([[graft.functions.PortableHash]]), reproducible in any engine —
    * this flavor is what the DuckDB oracle verifies (d03).
    *
    * Null text yields a null signature in both flavors, and
    * [[minHashPairs]] drops such docs from pair generation. (The
    * pre-kernel declarative chain instead produced an array of k
    * nulls for null text, which banded every null-text doc together
    * as est_jaccard=1.0 "duplicates" — the kernel's null-out is the
    * intended fix, matching the portable flavor.)
    */
  def minHashSignature(text: Column, k: Int,
                       portable: Boolean = false): Column = {
    if (portable) {
      // one digest per token; permutations via universal hashes
      // (a_i*h + b_i) mod (2^31-1) — see PortableSketches for the
      // engine-independent formulation
      graft.functions.PortableSketches.minhash60(array_distinct(tokens(text)), k)
    } else {
      // fused single-pass kernel — bit-parity to the declarative
      // array((0..k).map(i => array_min(transform(toks, t =>
      // xxhash64(lit(i), t))))) chain for NON-NULL text (spec-proven),
      // zero token-array materialization. On null text the chain and
      // kernel intentionally diverge: see the scaladoc note above.
      graft.functions.PortableSketches.minhashXx(text, k)
    }
  }

  /** MinHash + LSH banding candidate pairs with estimated Jaccard.
    *
    * signature → b bands of r rows; docs colliding in any band bucket
    * become candidates; estimate = fraction of matching signature
    * positions. One explode + one shuffle on (band, bandHash); at
    * 100 TB bucket sizes stay bounded because collisions require real
    * similarity.
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 16, bands: Int = 4,
                   minEstimate: Double = 0.5,
                   portable: Boolean = false): DataFrame =
    minHashPairsFromSignatures(
      minHashSigs(df, idCol, textCol, numHashes, portable),
      numHashes, bands, minEstimate)

  /** w-shingling flavor (Broder 1997): the MinHash set is word
    * `n`-grams instead of unigram tokens, so a match requires shared
    * PHRASING, not just shared vocabulary — the classic prose
    * near-dup channel (unigram sets false-positive on same-topic
    * different-order text; shingles don't). Same banding chain,
    * portable signatures; docs under `n` tokens have no shingles and
    * drop out (the unigram chain's tokenless convention).
    */
  def shingleMinHashPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, numHashes: Int = 16,
                          bands: Int = 2,
                          minEstimate: Double = 0.7): DataFrame = {
    require(n >= 2, "shingle order must be >= 2 (n = 1 is minHashPairs)")
    val shingles = array_distinct(wordNgrams(col(textCol), n))
    minHashPairsFromSignatures(
      df.select(col(idCol).as("id"),
        when(size(shingles) > 0,
          graft.functions.PortableSketches.minhash60(shingles, numHashes))
          .otherwise(lit(null)).as("sig")),
      numHashes, bands, minEstimate)
  }

  /** Engine-local xxhash flavor of [[shingleMinHashPairs]] — the
    * PRODUCTION path (d08's relationship to d03, at shingle grain):
    * the fused kernel hashes each n-token window SPAN in place (the
    * span IS the shingle string's bytes — no shingle strings, no
    * token arrays materialize), one `XXH64` call per (window, perm).
    */
  def shingleMinHashPairsXx(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, numHashes: Int = 16,
                            bands: Int = 2,
                            minEstimate: Double = 0.7): DataFrame = {
    require(n >= 2, "shingle order must be >= 2 (n = 1 is minHashPairs)")
    minHashPairsFromSignatures(
      df.select(col(idCol).as("id"),
        graft.functions.PortableSketches
          .shingleMinhashXx(col(textCol), n, numHashes).as("sig")),
      numHashes, bands, minEstimate)
  }

  /** The candidate→estimate→member-expansion half of [[minHashPairs]]
    * over any `(id, sig)` signature frame — the unigram and shingle
    * flavors and d38's shared signature frame enter here. It is the
    * banded-LSH core below with the MinHash band key and score.
    */
  def minHashPairsFromSignatures(sigFrame: DataFrame, numHashes: Int,
                                 bands: Int,
                                 minEstimate: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // Candidate generation and scoring run at DISTINCT-SIGNATURE
    // granularity: duplicate-heavy corpora collapse identical
    // signatures into one row each, turning an O(bucket²) doc-level
    // self-join into a far smaller sig-level one (5000 docs → 1809
    // sigs → 16× fewer scored pairs on the test corpus; the win grows
    // with duplication, which is the regime dedup runs in). Member
    // lists expand only AFTER the estimate filter. Note: emitting all
    // member pairs is inherently quadratic per duplicate group — at
    // extreme group sizes a (canonical_id, member_id) output shape is
    // the scalable contract (see exactDedup).
    //
    // Pinned (r19): `groups` feeds the banding self-join (two legs)
    // AND the intra-group leg — three references that each re-ran the
    // signature kernel over the corpus (d03's final plan scanned
    // documents 6×). One eager pin of the compact (sig, ids) frame =
    // one signature pass.
    val groups = Pin(sigGroups(sigFrame))
    val banded = minHashBands(groups, numHashes, bands)
    val score = minHashScore(numHashes, minEstimate)
    memberPairs(bandJoin(banded, banded, ordered = true, score), groups, score)
  }

  // ── Banded LSH: every candidate path here runs these steps over an
  // `(id, sig)` frame, differing only in band key, score and pins ──

  private def sigGroups(sigFrame: DataFrame): DataFrame =
    sigFrame.where(col("sig").isNotNull)
      .groupBy("sig").agg(collect_list(col("id")).as("ids"))

  private def bandRows(groups: DataFrame, keys: Column): DataFrame =
    groups.select(groups.columns.map(col).toSeq :+ posexplode(keys): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")

  /** Band b hashes signature positions [b·r, (b+1)·r); this hash
    * decides which pairs become candidates.
    */
  private def minHashBands(groups: DataFrame, numHashes: Int,
                           bands: Int): DataFrame = {
    val r = numHashes / bands
    bandRows(groups, transform(sequence(lit(0), lit(bands - 1)),
      bnd => xxhash64(bnd, slice(col("sig"), bnd * r + 1, lit(r)).cast("string"))))
  }

  /** A band join's score column: its `name`, its value `of` two
    * signatures, the threshold to `keep`, its value on `same` ones.
    */
  private case class BandScore(name: String, of: (Column, Column) => Column,
                               keep: Column => Column, same: Column)

  private def minHashScore(numHashes: Int, minEstimate: Double): BandScore =
    BandScore("est_jaccard",
      (a, b) => graft.functions.VectorExpressions.long_array_eq_count(a, b)
        .cast("double") / numHashes,
      _ >= minEstimate, lit(1.0))

  /** Two sides' band rows joined on (band, band_hash), other columns
    * suffixed `_a`/`_b`, scored and thresholded, one row per signature
    * pair; `ordered` (a self-join) keeps sig_a < sig_b.
    */
  private def bandJoin(a: DataFrame, b: DataFrame, ordered: Boolean,
                       score: BandScore): DataFrame = {
    val carried = a.columns.toSeq.filterNot(Set("band", "band_hash"))
    def side(df: DataFrame, sfx: String) = df.select(col("band") +:
      col("band_hash") +: carried.map(c => col(c).as(c + sfx)): _*)
    val joined = side(a, "_a").join(side(b, "_b"), Seq("band", "band_hash"))
    (if (ordered) joined.where(col("sig_a") < col("sig_b")) else joined)
      .select(carried.flatMap(c => Seq(col(c + "_a"), col(c + "_b"))) :+
        score.of(col("sig_a"), col("sig_b")).as(score.name): _*)
      .where(score.keep(col(score.name)))
      .dropDuplicates("sig_a", "sig_b") // multi-band collisions
  }

  /** Signature pairs expanded to `(id_a < id_b, score)` member pairs,
    * plus each identical-signature group's own pairs at `same`.
    */
  private def memberPairs(sigPairs: DataFrame, groups: DataFrame,
                          score: BandScore): DataFrame = {
    val crossPairs = explodeMembers(sigPairs, "m_a", "m_b", score)
      .select(least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"), col(score.name))
    val intra = groups.where(size(col("ids")) > 1 && score.keep(score.same))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .withColumn(score.name, score.same)
    crossPairs.unionByName(intra)
  }

  private def explodeMembers(sigPairs: DataFrame, a: String, b: String,
                             score: BandScore): DataFrame =
    sigPairs.select(explode(col("ids_a")).as(a), col("ids_b"), col(score.name))
      .select(col(a), explode(col("ids_b")).as(b), col(score.name))

  /** Top-k most-similar documents per document (the similar-document
    * report): MinHash+LSH candidate pairs, symmetrized, each doc's k
    * best by estimated Jaccard (ties broken by neighbor id — fully
    * deterministic since estimates are exact multiples of
    * 1/numHashes).
    *
    * Symmetrization is an inline explode of both directions — a
    * single lazy plan that evaluates the signature/banding pipeline
    * exactly once (a naive self-union would evaluate it per leg, and
    * an eager checkpoint would trade that for a construction-time job
    * plus unreclaimed blocks).
    *
    * Scale: inherits minHashPairs' LSH shape (never all-pairs); the
    * literal rank filter lowers to WindowGroupLimit so each partition
    * prunes to k before the per-doc shuffle.
    */
  def textNearestNeighbors(df: DataFrame, idCol: String, textCol: String,
                           k: Int, numHashes: Int = 16, bands: Int = 4,
                           minEstimate: Double = 0.5,
                           portable: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    val pairs = minHashPairs(df, idCol, textCol, numHashes, bands,
      minEstimate, portable)
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("id"), col("id_b").as("nbr_id"), col("est_jaccard")),
        struct(col("id_b").as("id"), col("id_a").as("nbr_id"), col("est_jaccard"))))
        .as("e"))
      .select(col("e.id").as("id"), col("e.nbr_id").as("nbr_id"),
        col("e.est_jaccard").as("est_jaccard"))
    val w = Window.partitionBy("id").orderBy(col("est_jaccard").desc, col("nbr_id"))
    sym.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select("id", "rk", "nbr_id", "est_jaccard")
  }

  /** Exact-duplicate pairs surfaced THROUGH the engine-local
    * (xxhash64) LSH candidate pipeline and verified by token-set
    * fingerprint — the recall proof for the fast MinHash flavor.
    *
    * Guarantee (deterministic, not probabilistic): two docs with the
    * same distinct-token SET get the same MinHash signature under any
    * hash function, land in the same signature group, and therefore
    * always surface as an est=1.0 candidate. Filtering candidates to
    * set-fingerprint equality then yields EXACTLY the pairs with equal
    * token sets — an engine-independent result computed via the
    * engine-local path, which is what makes the xx flavor
    * oracle-checkable end-to-end (signature → banding → candidates →
    * verification) even though xxhash64 itself is not portable.
    *
    * Scale: candidates are LSH-banded (never all-pairs); verification
    * joins two 16-byte fingerprints per candidate pair — the standard
    * candidate→verify LSH contract.
    */
  def minHashPairsExactVerified(df: DataFrame, idCol: String, textCol: String,
                                numHashes: Int = 16,
                                bands: Int = 2): DataFrame = {
    // pinned (r19): consumed under two join keys (id_a, id_b) — the
    // tokenize+sort+md5 pass otherwise runs twice
    val fps = Pin(df.select(col(idCol).as("id"),
      md5(array_join(array_sort(array_distinct(tokens(col(textCol)))), " "))
        .as("set_fp")))
    // est = 1.0 ⇔ identical signatures (any position mismatch lowers
    // the estimate below 1), so this selects exactly the
    // identical-signature candidate groups
    val cands = minHashPairs(df, idCol, textCol, numHashes, bands,
      minEstimate = 1.0, portable = false)
    cands
      .join(fps.select(col("id").as("id_a"), col("set_fp").as("fp_a")), "id_a")
      .join(fps.select(col("id").as("id_b"), col("set_fp").as("fp_b")), "id_b")
      .where(col("fp_a") === col("fp_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Incremental MinHash near-dup: candidate pairs between an
    * INCOMING batch and the EXISTING corpus only — no incoming×incoming
    * or existing×existing work. The existing side participates as
    * (signature, ids) groups; at 100 TB those are precomputed once and
    * appended per increment, so each day's near-dedup costs one band
    * join of increment-bands against corpus-bands.
    *
    * @return (inc_id, ex_id, est_jaccard) with est >= minEstimate
    */
  def minHashPairsIncremental(incoming: DataFrame, existing: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 16, bands: Int = 4,
                              minEstimate: Double = 0.5,
                              portable: Boolean = false): DataFrame =
    incrementalMinHash(incoming, existing, idCol, textCol, numHashes, bands,
      minEstimate, portable)(_ => lit(true))

  /** Bloom-accelerated [[minHashPairsIncremental]] — bit-identical
    * results (spec-proven): the increment's band rows are pre-filtered
    * MAP-SIDE against a broadcast Bloom filter over the CORPUS's band
    * hashes, so only the might-collide sliver (true band matches plus
    * the fpp fraction) pays the band-join shuffle. This is d15's
    * sketch trick lifted from exact fingerprints to LSH band keys —
    * the near-dup flavor of the growing-corpus ingest loop: corpus
    * band hashes compress to ~1.2 bytes each at 1% fpp and ride along
    * as a build-once-per-cycle broadcast, probed by every increment.
    * No false negatives + the exact signature-agreement confirmation
    * downstream keep the pair set identical to the plain join; the
    * probe is `bloomProbe`, the one d15 and d19 split on.
    */
  def minHashPairsIncrementalBloom(incoming: DataFrame, existing: DataFrame,
                                   idCol: String, textCol: String,
                                   numHashes: Int = 16, bands: Int = 4,
                                   minEstimate: Double = 0.5,
                                   portable: Boolean = false,
                                   expectedItems: Long = 1L << 20,
                                   fpp: Double = 0.01): DataFrame =
    incrementalMinHash(incoming, existing, idCol, textCol, numHashes, bands,
      minEstimate, portable)(ex => bloomProbe(ex, "band_hash", expectedItems, fpp))

  /** Increment × corpus pairs; `mightCollide` filters the increment's band rows. */
  private def incrementalMinHash(incoming: DataFrame, existing: DataFrame,
                                 idCol: String, textCol: String,
                                 numHashes: Int, bands: Int,
                                 minEstimate: Double, portable: Boolean)(
                                 mightCollide: DataFrame => Column): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // pinned (r19): the corpus side is referenced by both the Bloom
    // sketch build (an action) and the band join; the increment side
    // by the band join's plan — one signature pass each either way
    def side(df: DataFrame) = minHashBands(
      Pin(sigGroups(minHashSigs(df, idCol, textCol, numHashes, portable))),
      numHashes, bands)
    val ex = side(existing)
    val probe = mightCollide(ex)
    val score = minHashScore(numHashes, minEstimate)
    explodeMembers(bandJoin(side(incoming).where(probe), ex, ordered = false, score),
      "inc_id", "ex_id", score)
  }

  /** Near-duplicate CLUSTERS from an explicit candidate-edge set:
    * connected components over the near-dup pair graph, one canonical
    * doc (min id) per cluster. Singleton docs form their own cluster.
    * Output: (doc_id, cluster_id, cluster_size, is_canonical).
    *
    * This is the shape a 100 TB dedup actually ships: keep rows where
    * `is_canonical = 1` (or join training data against the cluster
    * map) instead of materializing quadratic duplicate pairs. The edge
    * source decides the scale story — pass [[minHashPairs]] output
    * (linear candidate generation) for large corpora; [[jaccardPairs]]
    * is the exact small-scale fixture.
    *
    * @param edges candidate pairs with columns `id_a`, `id_b`
    */
  def dedupClustersFromEdges(df: DataFrame, idCol: String,
                             edges: DataFrame): DataFrame = {
    val e = edges.select(col("id_a").as("u"), col("id_b").as("v"))
    val nodes = df.select(col(idCol).as("id"))
    val labels = GraphOps.connectedComponents(e, nodes)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).cast("int").as("is_canonical"))
  }

  /** Dedup clusters over exact token-set Jaccard edges — the
    * oracle-checkable fixture (quadratic within token blocks; see
    * [[jaccardPairs]]). Prefer [[dedupClustersMinHash]] at scale.
    */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
                    threshold: Double): DataFrame =
    dedupClustersFromEdges(df, idCol,
      jaccardPairs(df, idCol, textCol, threshold))

  /** Dedup clusters over MinHash+LSH candidate edges — the 100 TB
    * path: candidate generation touches only docs colliding in an LSH
    * band bucket (linear in corpus size for bounded duplication), then
    * O(log diameter) pointer-jumping rounds label the components.
    *
    * The component loop runs on the SIGNATURE graph, not the member
    * graph: docs sharing a signature are mutual near-dups (estimate
    * 1.0), so the component structure of the member-pair graph equals
    * that of the distinct-signature graph with each group contracted
    * to its min-id representative — and the member expansion is
    * quadratic per duplicate group (measured 3.1M member edges vs 15k
    * signature edges on the sf0.1 corpus, 205×), which at 100 TB is
    * the difference between a CC input that fits anywhere and one
    * that regenerates every clique every round. Labels, sizes, and
    * canonical flags are bit-identical to member-graph CC
    * (oracle-proven across d06/d21/d22/p12/p26).
    */
  def dedupClustersMinHash(df: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 16, bands: Int = 4,
                           minEstimate: Double = 0.5,
                           portable: Boolean = false): DataFrame = {
    val sigs = minHashSigFrame(df, idCol, textCol, numHashes, portable)
    val out = dedupClustersFromSigFrame(sigs, numHashes, bands, minEstimate)
    // the returned frame is pinned — the signature pin's blocks are no
    // longer reachable from it and can be dropped now
    Pin.release(sigs)
    out
  }

  /** Pinned `(id, sig)` MinHash signature frame — ONE signature pass
    * over the corpus, materialized via an eager [[graft.Pin]] so
    * every consumer (cluster labeling, candidate pairs, report legs)
    * reads the same blocks instead of re-running the kernel.
    *
    * Motivation (r19, VERDICT r18 items 5/9): the cluster-report
    * queries' final plans re-evaluated the signature subtree up to
    * 8–20× (d06 scanned documents 8×, d21 20× — the r18 before-plans),
    * because `docLabels` feeds both the size aggregation and the
    * output join, CC pins its inputs in separate construction jobs,
    * and the banding self-join has two legs. The signature kernel is
    * the only corpus-sized work in the chain, so pinning it collapses
    * the whole family to one pass.
    */
  def minHashSigFrame(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int, portable: Boolean): DataFrame =
    Pin(minHashSigs(df, idCol, textCol, numHashes, portable))

  private def minHashSigs(df: DataFrame, idCol: String, textCol: String,
                          numHashes: Int, portable: Boolean): DataFrame =
    df.select(col(idCol).as("id"),
      minHashSignature(col(textCol), numHashes, portable).as("sig"))

  /** The cluster half of [[dedupClustersMinHash]] over an existing
    * `(id, sig)` frame — callers that also need candidate pairs
    * (d38's quality report) share one [[minHashSigFrame]] across both
    * paths. Output is pinned: report queries reference the labels
    * several times (sizes, funnel legs, joins), and the label frame
    * is report-sized (one row per doc id), so materializing it once
    * beats re-running the label join per reference.
    */
  def dedupClustersFromSigFrame(sigs: DataFrame, numHashes: Int,
                                bands: Int,
                                minEstimate: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val withRep = sigGroups(sigs).select(col("sig"),
      array_min(col("ids")).as("rep"), col("ids"))
    // tokenless docs (null signature) stay singleton components
    val docRep = withRep.select(explode(col("ids")).as("doc_id"),
        col("rep"))
      .unionByName(sigs.where(col("sig").isNull)
        .select(col("id").as("doc_id"), col("id").as("rep")))
    val banded = minHashBands(withRep.drop("ids"), numHashes, bands)
    val repEdges = bandJoin(banded, banded, ordered = true,
        minHashScore(numHashes, minEstimate))
      .select(col("rep_a").as("u"), col("rep_b").as("v"))
    val repNodes = docRep.select(col("rep").as("id")).distinct()
    val labels = GraphOps.connectedComponents(repEdges, repNodes)
    val docLabels = docRep.join(labels, docRep("rep") === labels("id"))
      .select(col("doc_id"), col("cluster_id"))
    // cluster_size via an unordered count window instead of
    // groupBy+self-join: one reference to docLabels, one exchange on
    // cluster_id (the join version re-executed the whole label subtree
    // for the size leg and paid two more exchanges) — same values
    Pin(docLabels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_canonical")))
  }

  /** Quality-aware cluster representative selection: instead of the
    * min-id canonical doc, keep the HIGHEST-QUALITY doc per near-dup
    * cluster (ties broken by min id) — the selection rule a production
    * training-data dedup actually ships (re: faust has no dedup; this
    * extends the reference surface per SURVEY §2 extension rows).
    *
    * Scale notes: clusters come from the banded-LSH + pointer-jumping
    * path ([[dedupClustersMinHash]]); the representative is a
    * partial-aggregatable `max(struct(quality, -id))` per cluster —
    * map-side combine, one shuffle on cluster_id, no window sort.
    * Output: (doc_id, cluster_id, cluster_size, quality_score, is_kept).
    */
  def clusterRepresentatives(df: DataFrame, idCol: String, textCol: String,
                             stopwords: Seq[String],
                             numHashes: Int = 16, bands: Int = 4,
                             minEstimate: Double = 0.5,
                             portable: Boolean = false): DataFrame = {
    val clusters = dedupClustersMinHash(df, idCol, textCol, numHashes, bands,
      minEstimate, portable)
    val quality = qualityColumns(col(textCol), stopwords).toMap
    // pinned (r19): `scored` feeds both the per-cluster argmax and the
    // output join — without the pin the quality-scoring pass (and the
    // label join) ran twice (d21's final plan scanned documents 20×
    // before the family-wide pins)
    val scored = Pin(clusters.join(
      df.select(col(idCol).as("doc_id"),
        quality("quality_score").as("quality_score")),
      Seq("doc_id")))
    // nothing reachable from the returned frame reads `clusters` now
    Pin.release(clusters)
    val rep = scored.groupBy("cluster_id")
      .agg(max(struct(col("quality_score").as("q"),
        (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), (-col("best.neg_id")).as("rep_id"))
    scored.join(rep, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"),
        (col("doc_id") === col("rep_id")).cast("int").as("is_kept"))
  }

  /** 64-bit SimHash over distinct-token xxhash64 values: bit j of the
    * result is set iff more than half the token hashes have bit j set.
    * Single-pass native expression (64 HOF passes were the naive form).
    */
  def simHash(text: Column): Column =
    graft.functions.VectorExpressions.simhash64(array_distinct(tokens(text)))

  /** Portable SimHash: same bit-majority vote over 60-bit MD5 token
    * hashes instead of xxhash64 — reproducible outside Spark (bits
    * 60-63 are always 0). Oracle-verified flavor (d04). Single-pass
    * native kernel; the declarative equivalent is
    * `bit_majority(transform(toks, PortableHash.mdHash60))`.
    */
  def simHashPortable(text: Column): Column =
    graft.functions.PortableSketches.simhash60(array_distinct(tokens(text)))

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs: all (id_a < id_b) with Hamming
    * distance <= `maxHamming` over the portable 60-bit simhash,
    * found via band-bucketed LSH — the signature splits into `bands`
    * equal bit-slices, and by pigeonhole any pair within `maxHamming`
    * (< bands) collides exactly on at least one slice. Candidate
    * generation is therefore one explode + one shuffle on
    * (band, bits) — never all-pairs — and, like [[minHashPairs]],
    * runs at distinct-signature granularity so duplicate-heavy
    * corpora collapse before the self-join.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame =
    hammingPairsFromSignatures(
      df.select(col(idCol).as("id"),
        simHashPortable(col(textCol)).as("sh")),
      maxHamming, bands)

  /** The banding half of [[simHashPairs]], reusable for ANY <=60-bit
    * signature frame `(id, sh)` (simhash, perceptual image hash, …):
    * band-bucketed Hamming-LSH at distinct-signature granularity,
    * pigeonhole-complete for `maxHamming < bands`. Null signatures
    * are dropped. It is the banded-LSH core of [[minHashPairs]] with
    * a bit-slice band key and the Hamming distance as the score.
    */
  def hammingPairsFromSignatures(sigFrame: DataFrame, maxHamming: Int,
                                 bands: Int): DataFrame = {
    require(bands > maxHamming,
      "bands must exceed maxHamming (pigeonhole completeness)")
    require(60 % bands == 0, "bands must divide the 60-bit signature")
    val bits = 60 / bands
    val mask = (1L << bits) - 1
    // pinned (r19): the groups feed both band-join legs and the
    // intra-group leg — and the signature here is often an IMAGE hash
    // (m05/m11/m13 perceptual pipelines), where re-decoding per
    // reference is far worse than re-splitting text
    val groups = Pin(sigGroups(sigFrame.select(col("id"), col("sh").as("sig"))))
    val banded = bandRows(groups, array((0 until bands).map(b =>
      shiftrightunsigned(col("sig"), b * bits).bitwiseAND(lit(mask))): _*))
    val score = BandScore("hamming", hammingDistance, _ <= maxHamming, lit(0))
    memberPairs(bandJoin(banded, banded, ordered = true, score), groups, score)
  }

  /** Word n-grams of the token array (n >= 2): joined with single
    * spaces, preserving order.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    // guard: sequence(1, 0) would produce a DESCENDING [1, 0] and hit
    // slice index errors on docs shorter than n tokens.
    // one slice per position, not n element_at calls — measurably
    // faster (t15 regressed 2× on the element_at formulation).
    // The token array is LET-BOUND through a single-element outer
    // transform: higher-order lambdas run interpreted and re-evaluate
    // their body per element, so inlining `tokens(text)` inside the
    // position lambda would re-split the whole document once per
    // n-gram position — O(len²) splits per row (the same trap
    // tokenEntropyFold documents for its fold zero). Referencing the
    // bound variable `ts` is an O(1) read; same expressions, same
    // order, bit-identical output.
    get(
      transform(array(tokens(text)), ts =>
        when(size(ts) >= n,
          transform(sequence(lit(1), size(ts) - (n - 1)), i =>
            concat_ws(" ", slice(ts, i, lit(n)))))
          .otherwise(array().cast("array<string>"))),
      lit(0))
  }

  /** TF-IDF per (doc, term) over a corpus: one explode + two
    * aggregations; idf as ln(N / df) — the standard formulation. At
    * scale this is the shuffle-bounded tokenize→groupBy pipeline.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String,
            totalDocs: Option[Long] = None): DataFrame = {
    val terms = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // corpus size: pass totalDocs to avoid the extra scan (required for
    // streaming frames, where count() is unavailable)
    val n = totalDocs.getOrElse(df.count())
    // round(6): ln differs by 1 ulp across libm implementations; the
    // rounded value is engine-independent (oracle-hashable)
    tf.join(dfreq, "term")
      .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .select("id", "term", "tf", "df", "tfidf")
  }

  /** Top-k TF-IDF keywords per document — the doc-tagging/labeling
    * step (route docs to domain experts, build facet indexes, explain
    * dedup clusters by their distinguishing terms). Ranking is fully
    * deterministic: the 6-dp-rounded [[tfIdf]] score (engine-exact)
    * with ties broken by term.
    *
    * Scale shape: t06's two bounded groupBys, then ONE window per doc
    * whose rank<=k predicate Spark turns into WindowGroupLimit —
    * per-doc top-k is pruned inside the shuffle (d17's shape), never
    * a full per-doc sort materialized.
    */
  def topKeywords(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 3): DataFrame = {
    val scored = tfIdf(df, idCol, textCol)
    val w = Window.partitionBy("id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select("id", "rk", "term", "tf", "tfidf")
  }

  /** Okapi BM25 per (doc, term) — [[tfIdf]]'s IR-standard upgrade
    * (saturating tf, doc-length normalization; Lucene-style
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` idf that never goes
    * negative). The score a retrieval-based decontamination or
    * near-dup-explain pass ranks candidate matches with.
    *
    * Scale shape: identical to [[tfIdf]] — (id, term) count shuffle +
    * term-keyed df join — plus one 1-row `avgdl` aggregate broadcast
    * back via the scalar crossJoin idiom. Doc length rides the
    * existing tf shuffle (min over the constant), not a second join.
    * `avgdl` is computed as exact-integer `sum(dl)/count` (no
    * double-summation order dependence); the final score is rounded
    * to 6 dp to absorb the one transcendental (ln, 1-ulp across libm
    * builds) — t06's proven oracle contract.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           k1: Double = 1.2, b: Double = 0.75,
           totalDocs: Option[Long] = None): DataFrame = {
    val docs = df.select(col(idCol).as("id"),
      tokenCount(col(textCol)).as("dl"), col(textCol).as("text"))
    val terms = docs.select(col("id"), col("dl"),
      explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = totalDocs.getOrElse(df.count())
    val avgdl = docs.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // operand order mirrors the oracle SQL exactly (IEEE parity)
    val idf = log((lit(n.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val score = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(avgdl))
      .select(col("id"), col("term"), col("tf"), col("df"),
        round(score, 6).as("bm25"))
  }

  /** Unigram language-model quality score (perplexity proxy): per-doc
    * cross-entropy in nats against the corpus's own unigram MLE — the
    * CCNet-style "LM scores the doc, outliers are junk" filter
    * (Wenzek et al. 2020, public paper), with the KenLM model replaced
    * by the corpus unigram distribution (no external model in this
    * container; the plumbing — train LM, broadcast it, score docs —
    * is the real shape).
    *
    * Scale: term counting is one shuffle carrying (term, count);
    * the trained LM table is Zipf-bounded (vocab, not corpus, sized)
    * and broadcast to score the token stream map-side — exactly how a
    * KenLM binary rides a 1000-executor scoring pass. Scoring itself
    * adds one partial-aggregated shuffle of (doc, sum, count) rows.
    * For a pathological unbounded vocab swap the broadcast for a
    * shuffle join on term.
    */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docToks = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("term"))
    val termCounts = docToks.groupBy("term").agg(count(lit(1)).as("tc"))
    val total = termCounts.agg(sum("tc").cast("double").as("_total"))
    val lm = termCounts.crossJoin(broadcast(total))
      .select(col("term"), (-log(col("tc").cast("double") / col("_total"))).as("nll"))
    // round(6): ln and double-sum order differ at the ulp level across
    // engines; rounded cross-entropy is oracle-hashable (cf. tfIdf)
    docToks.join(broadcast(lm), Seq("term"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("nll")), 6).as("cross_entropy"))
  }

  /** Character-n-gram LM score — [[unigramLmScore]]'s shape at the
    * CHARACTER level: the gibberish / OCR-noise detector (a doc whose
    * char-trigram stream is improbable under the corpus trigram law
    * is mojibake, markup soup, or OCR noise even when its WORDS pass
    * the token-level gates). Same plan: one Zipf-bounded gram census
    * + broadcast LM + per-doc avg; `ppl = e^H` for the familiar
    * perplexity readout. Docs shorter than `n` chars emit nothing.
    */
  def charNgramLmScore(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3): DataFrame = {
    require(n > 0, "gram order must be positive")
    val t = col(textCol)
    val grams = df.select(col(idCol).as("id"),
      explode(when(length(t) >= n,
        transform(sequence(lit(1), length(t) - (n - 1)),
          i => t.substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))).as("g"))
    // counts pinned (r19): the total-sum leg planned as a SEPARATE
    // subtree (its exchange lacked the join side's null filter,
    // defeating exchange reuse), so the corpus-sized gram explode ran
    // a THIRD time just to sum counts it had already computed
    // (plans/r19/t49_*: 3 Generates → 2). The pinned frame is the
    // distinct-gram count table — bounded by the charset³, not the
    // corpus. (A whole-table window was tried first and correctly
    // rejected by PlanHygieneSpec's unpartitioned-window gate.)
    val counts = Pin(grams.groupBy("g").agg(count(lit(1)).as("gc")))
    val total = counts.agg(sum("gc").cast("double").as("_total"))
    val lm = counts.crossJoin(broadcast(total))
      .select(col("g"),
        (-log(col("gc").cast("double") / col("_total"))).as("nll"))
    grams.join(broadcast(lm), Seq("g"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        round(avg(col("nll")), 6).as("cross_entropy"),
        round(exp(avg(col("nll"))), 6).as("ppl"))
  }

  /** Bigram-LM quality score with interpolated unigram backoff — one
    * rung up the CCNet ladder from [[unigramLmScore]] toward the
    * KenLM n-gram filter: per-bigram probability
    * `lambda·c(w1 w2)/c(w1) + (1-lambda)·c(w2)/N`, per-doc
    * cross-entropy as the averaged negative log. Single-token docs
    * have no bigrams and drop out of the report.
    *
    * Scale shape: bigram counts are Zipf-bounded like the vocab but
    * quadratically wider, so unlike t11 the bigram table is NOT
    * broadcast — the occurrence stream shuffle-joins it on the
    * (w1, w2) key (AQE broadcasts when it does fit); both unigram
    * legs ride as broadcasts. Tokens are short strings; every join
    * key is bounded by token length, never document length.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.8): DataFrame = {
    require(lambda > 0.0 && lambda <= 1.0, "lambda must be in (0, 1]")
    val toks = tokens(col(textCol))
    val nBi = greatest(size(toks) - 1, lit(0))
    val docBigrams = df.select(col(idCol).as("id"),
        explode(zip_with(slice(toks, lit(1), nBi), slice(toks, lit(2), nBi),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c1 = df.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val total = c1.agg(sum("nw").cast("double").as("_n"))
    val c2 = docBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("nbg"))
    // (1.0 - lambda) stays an ARITHMETIC expression in the oracle too:
    // the IEEE result of 1.0-0.8 is not the literal 0.2, and the
    // probability must match bit-for-bit before round(6)
    docBigrams
      .join(c2, Seq("w1", "w2"))
      .join(broadcast(c1.select(col("w").as("w1"), col("nw").as("c1w1"))), Seq("w1"))
      .join(broadcast(c1.select(col("w").as("w2"), col("nw").as("c1w2"))), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("id"), (-log(
        lit(lambda) * col("nbg").cast("double") / col("c1w1") +
          lit(1.0 - lambda) * col("c1w2").cast("double") / col("_n"))).as("nll"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 6).as("cross_entropy"))
  }

  /** PMI collocation mining over adjacent word pairs — the
    * phrase-detection prep step (word2vec-style "new_york" merging):
    * `pmi(w1,w2) = ln( (c(w1,w2)/Nb) / ((c(w1)/N)·(c(w2)/N)) )` with
    * Nb = total bigram count, N = total token count. Pairs below
    * `minCount` are pruned (rare-pair PMI is noise).
    * Output: (w1, w2, n_pair, pmi) — pmi rounded to 6dp for oracle
    * parity (ln at the ulp level, cf. [[unigramLmScore]]).
    *
    * Scale shape: one shuffle for pair counts on (w1, w2) short-token
    * keys; unigram legs and the two scalar totals ride as broadcasts.
    * Nothing document-length-sized crosses a shuffle.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 2L): DataFrame = {
    val toks = tokens(col(textCol))
    val nBi = greatest(size(toks) - 1, lit(0))
    val bigrams = df.select(
        explode(zip_with(slice(toks, lit(1), nBi), slice(toks, lit(2), nBi),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c1 = df.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val total = c1.agg(sum("nw").cast("double").as("_n"))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val totalBi = c2.agg(sum("n_pair").cast("double").as("_nb"))
    c2.where(col("n_pair") >= minCount)
      .join(broadcast(c1.select(col("w").as("w1"), col("nw").as("c1w1"))), Seq("w1"))
      .join(broadcast(c1.select(col("w").as("w2"), col("nw").as("c1w2"))), Seq("w2"))
      .crossJoin(broadcast(total))
      .crossJoin(broadcast(totalBi))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(
          (col("n_pair").cast("double") / col("_nb")) /
            ((col("c1w1").cast("double") / col("_n")) *
              (col("c1w2").cast("double") / col("_n")))), 6).as("pmi"))
  }

  /** Per-slice distribution drift: Jensen–Shannon divergence between
    * each slice's unigram token distribution and the corpus-wide one —
    * the mixture-monitoring statistic behind re-weighting decisions
    * (a source whose JSD creeps up has shifted domain; feed p05/p09
    * new weights). JSD rather than KL: symmetric, bounded by ln 2,
    * and finite even on tokens a slice never emits (the corpus-side
    * half `0.5·q·ln(q/m)` is still defined when `p = 0`, so the dense
    * slice × vocab grid — zeros included — is the correct support).
    *
    * Output: `(slice, n_tokens, jsd)`, jsd rounded to 6dp for oracle
    * parity (ln + double-sum order at the ulp level, cf.
    * [[unigramLmScore]]).
    *
    * Scale shape: one (slice, term) partial-agg groupBy bounded by
    * slices × vocab, one vocab groupBy; the dense grid is a broadcast
    * nested-loop of the two COUNT tables (slices × vocab rows, never
    * the token stream), and the scalar total rides the usual 1-row
    * broadcast. No windows, no sorts; the occurrence stream is
    * scanned exactly once... twice (slice and corpus legs share the
    * scan under reused exchange when the planner elects to).
    */
  def distributionDrift(df: DataFrame, sliceCol: String,
                        textCol: String): DataFrame = {
    val occ = df.select(col(sliceCol).as("slice"),
      explode(tokens(col(textCol))).as("term"))
    val sliceCounts = occ.groupBy("slice", "term").agg(count(lit(1)).as("c_st"))
    val sliceTotals = sliceCounts.groupBy("slice").agg(sum("c_st").as("n_s"))
    val corpusCounts = occ.groupBy("term").agg(count(lit(1)).as("c_t"))
    val total = corpusCounts.agg(sum("c_t").cast("double").as("_n"))
    val p = coalesce(col("c_st").cast("double"), lit(0.0)) /
      col("n_s").cast("double")
    val q = col("c_t").cast("double") / col("_n")
    val m = (p + q) / lit(2.0)
    val term = when(col("c_st").isNotNull,
        lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
      lit(0.5) * q * log(q / m)
    sliceTotals.crossJoin(broadcast(corpusCounts))
      .join(sliceCounts, Seq("slice", "term"), "left")
      .crossJoin(broadcast(total))
      .groupBy("slice", "n_s")
      .agg(round(sum(term), 6).as("jsd"))
      .withColumnRenamed("n_s", "n_tokens")
  }

  /** Trigram-LM quality score with two-level interpolated backoff —
    * [[bigramLmScore]]'s next rung toward real CCNet/KenLM perplexity
    * filtering: per-trigram probability
    * `l3·c(w1w2w3)/c(w1w2) + l2·c(w2w3)/c(w2) + (1-l3-l2)·c(w3)/N`,
    * per-doc cross-entropy as the averaged negative log. Docs with
    * fewer than three tokens have no trigrams and drop out.
    *
    * Denominators are CORPUS occurrence counts of the context (same
    * convention as [[bigramLmScore]]'s c(w1) leg — not
    * continuation-filtered counts), so the three legs share one
    * unigram and one bigram table.
    *
    * Scale shape: the trigram count table is the wide one and is
    * shuffle-joined on (w1,w2,w3); both bigram legs ride the same
    * bigram table (context and backoff), broadcast here — at a vocab
    * where c2 outgrows the broadcast threshold, drop the hint and the
    * planner shuffle-joins those legs too. All join keys are bounded
    * by token length, never document length.
    */
  def trigramLmScore(df: DataFrame, idCol: String, textCol: String,
                     lambda3: Double = 0.6, lambda2: Double = 0.3): DataFrame = {
    require(lambda3 > 0.0 && lambda2 >= 0.0 && lambda3 + lambda2 < 1.0,
      "need lambda3 > 0, lambda2 >= 0, lambda3 + lambda2 < 1")
    val toks = tokens(col(textCol))
    val nTri = greatest(size(toks) - 2, lit(0))
    val nBi = greatest(size(toks) - 1, lit(0))
    val docTrigrams = df.select(col(idCol).as("id"),
        explode(zip_with(
          zip_with(slice(toks, lit(1), nTri), slice(toks, lit(2), nTri),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          slice(toks, lit(3), nTri),
          (p, c) => struct(p.getField("w1").as("w1"),
            p.getField("w2").as("w2"), c.as("w3")))).as("tg"))
      .select(col("id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
    val corpusBigrams = df.select(
        explode(zip_with(slice(toks, lit(1), nBi), slice(toks, lit(2), nBi),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c1 = df.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val total = c1.agg(sum("nw").cast("double").as("_n"))
    val c2 = corpusBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("nbg"))
    val c3 = docTrigrams.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ntg"))
    // the lambda remainder stays ARITHMETIC on both sides — the IEEE
    // result of 1.0-0.6-0.3 is not the decimal literal 0.1, and the
    // probability must match bit-for-bit before round(6) (cf. t14)
    docTrigrams
      .join(c3, Seq("w1", "w2", "w3"))
      .join(broadcast(c2.select(col("w1"), col("w2"), col("nbg").as("ctx2"))),
        Seq("w1", "w2"))
      .join(broadcast(c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("nbg").as("bg23"))), Seq("w2", "w3"))
      .join(broadcast(c1.select(col("w").as("w2"), col("nw").as("c1w2"))), Seq("w2"))
      .join(broadcast(c1.select(col("w").as("w3"), col("nw").as("c1w3"))), Seq("w3"))
      .crossJoin(broadcast(total))
      .select(col("id"), (-log(
        lit(lambda3) * col("ntg").cast("double") / col("ctx2") +
          lit(lambda2) * col("bg23").cast("double") / col("c1w2") +
          lit(1.0 - lambda3 - lambda2) * col("c1w3").cast("double") / col("_n")))
        .as("nll"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(col("nll")), 6).as("cross_entropy"))
  }

  /** Content-defined chunking (FastCDC-style, at token granularity):
    * a chunk boundary falls AFTER position i whenever the rolling
    * window hash of tokens (i-w+1 .. i) is ≡ 0 mod `modulus` — so
    * boundaries are a function of local CONTENT, not absolute offsets,
    * and inserting/deleting a token early in a document shifts at most
    * the chunks around the edit instead of re-cutting everything
    * downstream (the property fixed-size chunking (t10) lacks, and the
    * reason CDC chunks make shift-resistant dedup units). Expected
    * chunk length ≈ `modulus` tokens; positions < w never cut (the
    * FastCDC min-size region).
    *
    * Scale shape: flags are computed per doc in one narrow HOF pass
    * (the w-token window hash is portable MD5, oracle-replicable);
    * the explode + per-doc running sum costs one window shuffle on
    * doc id, then chunks assemble with a grouped sort_array — the
    * same d12-family shape, rows carry (id, pos, token).
    */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
                           window: Int = 4, modulus: Int = 8,
                           portable: Boolean = true): DataFrame = {
    require(window > 0 && modulus > 0, "window and modulus must be positive")
    val toks = tokens(col(textCol))
    val n = size(toks)
    // the window string IS the w-token word n-gram — derive flags from
    // the one wordNgrams definition (shared with d12/decontam) so the
    // "equal content hashes equally" contract has a single encoding;
    // positions < w never cut (w-1 leading zeros).
    // portable=false swaps the MD5 window hash for Spark's xxhash64 —
    // the production flavor (one codegen'd hash vs an md5 + substring
    // chain); divisibility of the SIGNED hash is engine-independent,
    // and the oracle recomputes the full arbitrary-length XXH64
    // (stripe loop included) via XxHashSql.strHashCtes, so t17 is
    // hash-EXACT just like t15.
    val boundary: Column => Column =
      if (portable) g => graft.functions.PortableHash.mdHash60(g) % modulus === 0
      else g => xxhash64(g) % modulus === 0
    val flags = concat(
      array_repeat(lit(0), least(n, lit(window - 1)).cast("int")),
      transform(wordNgrams(col(textCol), window), g =>
        when(boundary(g), lit(1)).otherwise(lit(0))))
    val w = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol).as("id"),
        explode(arrays_zip(sequence(lit(1), n).as("pos"), toks.as("tok"),
          flags.as("flag"))).as("e"))
      .select(col("id"), col("e.pos").as("pos"), col("e.tok").as("tok"),
        col("e.flag").as("flag"))
      .withColumn("chunk_id", coalesce(sum("flag").over(w), lit(0L)))
      .groupBy(col("id"), col("chunk_id"))
      .agg(min("pos").as("start_pos"), count(lit(1)).as("n_chunk_tokens"),
        concat_ws(" ", transform(sort_array(collect_list(struct(col("pos"),
          col("tok")))), s => s.getField("tok"))).as("chunk_text"))
  }

  /** Top-k corpus vocabulary (count-desc, term-asc tie-break — fully
    * deterministic membership) plus per-document coverage against it:
    * in-vocab token fraction and distinct-OOV count, the "does a fixed
    * vocab cover this doc" tokenizer-prep signal.
    *
    * Scale: vocab = one term-count shuffle + a k-row
    * TakeOrderedAndProject (per-partition top-k, driver merge — never
    * a global sort); coverage joins the k-row vocab broadcast against
    * the token stream and re-aggregates per doc (partial map-side).
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val docToks = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("term"))
    val vocab = docToks.groupBy("term").agg(count(lit(1)).as("tc"))
      .orderBy(col("tc").desc, col("term")).limit(k)
      .select(col("term"))
    docToks.join(broadcast(vocab).withColumn("_in", lit(1)), Seq("term"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(when(col("_in").isNotNull, 1.0).otherwise(0.0)), 6)
          .as("in_vocab_ratio"),
        countDistinct(when(col("_in").isNull, col("term")))
          .as("n_oov_terms"))
  }

  /** Gopher-style repetition signals per document: top-bigram mass and
    * duplicate-bigram fraction, the classic "is this doc degenerate
    * boilerplate" quality gates (Rae et al. 2021, §A1.1, public paper).
    *
    * One explode + two doc-keyed aggregations; both shuffles carry
    * (id, 8-byte bigram hash) — the fused positional-xxhash kernel
    * replaces the bigram STRING before anything is exploded or
    * shuffled, so the heavy row stream is fixed-width longs and
    * partial-aggregates map-side; the pipeline is shuffle-bounded by
    * token count at 100 TB. Counting over 64-bit hashes ≡ counting
    * over bigram strings modulo a ~2^-64 in-document collision. Docs
    * with fewer than two tokens have no bigrams and drop out (same
    * semantics as the SQL formulation).
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(
        graft.functions.PortableSketches.ngramHashesPosXx(col(textCol), 2))
        .as("bigram"))
      .groupBy(idCol, "bigram").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(
        max("c").as("top_bigram_count"),
        sum("c").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"))
      .select(col(idCol),
        col("top_bigram_count"),
        col("n_bigrams"),
        col("n_distinct_bigrams"),
        (col("top_bigram_count").cast("double") / col("n_bigrams"))
          .as("top_bigram_frac"),
        (lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"))
          .as("dup_bigram_frac"))

  /** PII patterns kept RE2-compatible (no backreferences, no \b) so the
    * same source strings run verbatim in Java regex and DuckDB/RE2.
    * Authoritative copies live in [[graft.functions.PiiExpressions]]
    * next to the fused kernel; re-exported here for the portable twin.
    */
  val EmailRe: String = graft.functions.PiiExpressions.EmailRe
  val PhoneRe: String = graft.functions.PiiExpressions.PhoneRe
  val Ipv4Re: String = graft.functions.PiiExpressions.Ipv4Re

  /** Per-pattern PII match counts (emails, phones, IPv4s). Counts are
    * taken SEQUENTIALLY on the progressively-redacted text — the same
    * order [[redactPii]] masks in — so every counted instance
    * corresponds to exactly one mask in the redacted output (digits
    * inside an email's local part are never double-counted as a
    * phone).
    */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, PhoneRe, "<PHONE>")
    Seq(
      "n_emails" -> regexp_count(text, lit(EmailRe)),
      "n_phones" -> regexp_count(afterEmail, lit(PhoneRe)),
      "n_ips" -> regexp_count(afterPhone, lit(Ipv4Re)))
  }

  /** Mask PII in place. Replacement order matters: emails first (their
    * local parts contain digits/dots that the narrower patterns could
    * bite into), then phones, then bare IPv4s. Pure scalar pipeline —
    * narrow, codegen'd, zero shuffles at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Fused production flavor: counts + redaction in one kernel — three
    * match passes over the original text and one rebuild, vs ~9 full
    * regex passes for the [[piiCounts]]+[[redactPii]] chain. Returns a
    * struct `(n_emails, n_phones, n_ips, redacted)`; bit-identical to
    * the portable chain (see [[graft.functions.PiiExpressions]] for
    * the equivalence argument and PiiSpec for the adversarial
    * property proof).
    */
  def piiScan(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.PiiExpressions.PiiScan(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** Train/eval decontamination: for each training document, count its
    * distinct word n-grams that also appear anywhere in the eval set
    * (the standard n-gram-overlap contamination check used for LLM
    * training corpora). Returns only contaminated docs with
    * `n_contaminated`, `n_ngrams`, `contamination_frac`.
    *
    * Scale shape: n-grams are collapsed to portable 60-bit hashes
    * ([[graft.functions.PortableHash.mdHash60]]) so the join carries
    * 8-byte keys, never n-gram strings; the eval side — tiny relative
    * to a 100 TB train corpus by construction — is distinct-ed and
    * broadcast, so the train side is a single narrow scan + broadcast
    * hash join + one groupBy(id) shuffle.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    import graft.functions.PortableSketches.ngramHashes60
    val trainNg = train
      .select(col(idCol), explode(ngramHashes60(col(textCol), n)).as("ngh"))
    val evalNg = evalSet
      .select(explode(ngramHashes60(col(textCol), n)).as("ngh")).distinct()
    // single n-gram pass: broadcast LEFT join marks hits, one groupBy
    // yields both the total and the contaminated count — the train
    // side is tokenized and hashed exactly once
    trainNg
      .join(broadcast(evalNg.withColumn("_hit", lit(1))), Seq("ngh"), "left")
      .groupBy(idCol).agg(
        count(col("_hit")).as("n_contaminated"),
        count(lit(1)).as("n_ngrams"))
      .where(col("n_contaminated") > 0)
      .select(col(idCol), col("n_contaminated"), col("n_ngrams"),
        (col("n_contaminated").cast("double") / col("n_ngrams"))
          .as("contamination_frac"))
  }

  /** Per-term burstiness (Church & Gale): how a term's occurrences
    * CLUSTER into documents — `burst` = cf/df (mean occurrences per
    * containing doc) and the variance-to-mean ratio over containing
    * docs. Uniformly-spread function words sit near burst ≈ 1,
    * topical/bursty terms and keyword-stuffing spam sit high — the
    * term-level complement of t08's doc-level repetition signals.
    *
    * All moments are exact integer sums (cf, df, Σc²); the ratios are
    * fixed-order IEEE ops on those exact sums, so the output is
    * engine-exact. Scale shape: (doc, term) partial-agg + term
    * rollup — t06's two Zipf-bounded shuffles, nothing wider.
    */
  def termBurstiness(df: DataFrame, idCol: String, textCol: String,
                     minCf: Long): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy("tok").agg(sum(col("c")).as("cf"),
        count(lit(1)).as("df"), sum(col("c") * col("c")).as("cf2"))
      .where(col("cf") >= minCf)
      .select(col("tok"), col("cf"), col("df"),
        (col("cf").cast("double") / col("df")).as("burst"),
        ((col("cf2").cast("double") / col("df") -
          (col("cf").cast("double") / col("df")) *
            (col("cf").cast("double") / col("df"))) /
          (col("cf").cast("double") / col("df"))).as("vmr"))

  /** LSH banding planner — the closed-form complement of d24's
    * empirical calibration: for every (bands b, rows r) factorization
    * of the signature budget, the collision S-curve
    * p(s) = 1 − (1 − s^r)^b over a similarity grid, plus the curve's
    * threshold estimate t* ≈ (1/b)^(1/r). This is the table you read
    * BEFORE committing a 100 TB MinHash pass to one (b, r) choice:
    * pick the divisor pair whose t* brackets the dedup threshold and
    * whose low-s tail bounds the candidate-volume false-positive cost.
    *
    * Pure parameter arithmetic (no corpus scan); 6 dp snap on the two
    * libm pow chains keeps the table engine-exact in practice.
    */
  def lshTuner(spark: org.apache.spark.sql.SparkSession,
               numHashes: Int): DataFrame = {
    import spark.implicits._
    require(numHashes > 0, "numHashes must be positive")
    val pairs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    pairs.toDF("bands", "rows_per_band")
      .withColumn("threshold_est",
        round(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")), 6))
      .withColumn("i", explode(sequence(lit(1), lit(19))))
      .withColumn("s", col("i").cast("double") / 20)
      .withColumn("p_collision",
        round(lit(1.0) - pow(lit(1.0) - pow(col("s"),
          col("rows_per_band").cast("double")),
          col("bands").cast("double")), 6))
      .drop("i")
  }

  /** Zipf fit over the corpus frequency spectrum: least-squares slope
    * and intercept of ln(freq) against ln(rank) for the top-N terms —
    * natural language sits near slope ≈ −1, and machine-generated /
    * template corpora bend away from it, so the slope is a cheap
    * corpus-level quality signal (and the input to smoothing choices
    * for the t11/t14/t16 LM family).
    *
    * Engine-exact by construction: the only order-dependent step —
    * summing the regression moments — runs on 6 dp-snapped DECIMAL
    * log points (exact ± arithmetic at any summation order, the q47
    * pattern), and the closed-form slope/intercept are then single
    * fixed-order IEEE ops on the exact sums.
    *
    * Scale shape: term census is one Zipf-bounded (term, count)
    * shuffle; top-N selection is `TakeOrderedAndProject` (k rows per
    * partition, no global sort); everything after runs on N rows.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val top = freq.orderBy(col("freq").desc, col("tok")).limit(topN)
    // rank assignment AFTER the top-N cut: the window sorts N rows,
    // not the vocabulary
    val ranked = top.select(col("freq"),
      row_number().over(Window.orderBy(col("freq").desc, col("tok")))
        .as("rank"))
    val pts = ranked.select(
      round(log(col("rank").cast("double")), 6).cast("decimal(18,6)").as("x"),
      round(log(col("freq").cast("double")), 6).cast("decimal(18,6)").as("y"))
    val s = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    // cast the EXACT decimal sums to double first, then closed-form
    // slope/intercept as fixed-order IEEE ops — multiplying the wide
    // decimal sums again would overflow both engines' decimal width
    // and they degrade differently (observed 1e-12 drift)
    s.select(col("n"), col("n").cast("double").as("nd"),
      col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"),
      col("sxx").cast("double").as("sxxd"), col("sxy").cast("double").as("sxyd"))
      .select(col("n"),
        ((col("nd") * col("sxyd") - col("sxd") * col("syd")) /
          (col("nd") * col("sxxd") - col("sxd") * col("sxd"))).as("slope"),
        col("nd"), col("sxd"), col("syd"))
      .select(col("n"), col("slope"),
        ((col("syd") - col("slope") * col("sxd")) / col("nd")).as("intercept"))
  }

  /** Per-document lexical diversity: token/type/hapax counts plus the
    * classic ratios — TTR (types/tokens, length-sensitive) and
    * Guiraud's R (types/√tokens, the length-corrected variant) — the
    * cheap quality gates that catch keyword-stuffed and template text
    * (low diversity) before any model-based scoring.
    *
    * Scale shape: explode → (doc, token) partial-agg count →
    * per-doc rollup; two narrow shuffles, linear in corpus tokens.
    * Deliberately NOT a per-row nested-lambda expression (which is
    * O(len²) per doc and blows up on 100k-token documents).
    */
  def lexicalDiversity(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        count(when(col("c") === 1, 1)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        (col("n_types").cast("double") /
          sqrt(col("n_tokens").cast("double"))).as("guiraud"))

  /** N-gram novelty per document: the fraction of a doc's distinct
    * word n-grams whose FIRST corpus occurrence (min doc id) is this
    * doc — the curriculum/filtering signal that separates documents
    * contributing new text from ones restating earlier content
    * (boilerplate scores ~0, fresh prose ~1). The complement of
    * [[decontaminate]]: overlap against the corpus's own past instead
    * of an eval set.
    *
    * Scale shape: n-grams collapse to 8-byte portable hashes; the
    * first-occurrence census is one partial-agg min() shuffle on the
    * hash key, the join back re-uses the same key partitioning, and
    * the per-doc rollup is one id shuffle. Docs shorter than n tokens
    * have no n-grams and drop out (novelty undefined).
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    import graft.functions.PortableSketches.ngramHashes60
    val grams = df
      .select(col(idCol).as("doc_id"), explode(ngramHashes60(col(textCol), n)).as("ngh"))
    val first = grams.groupBy("ngh").agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("ngh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
  }

  /** Incremental [[ngramNovelty]] — the production shape for a growing
    * corpus: score only the INCREMENT's documents, against (a) the
    * history's gram census and (b) first-occurrence order within the
    * increment itself. The history census is an append-only state
    * table between increments (union the increment's distinct grams
    * after each batch) — history text is never re-scanned, the d09/d10
    * incremental-dedup contract applied to the novelty signal.
    *
    * Scale shape: both the history census and the increment's grams
    * hash-partition on the same 8-byte gram key, so the membership
    * join and the min() census co-partition; per-doc rollup is one id
    * shuffle. A recrawl-heavy increment can additionally pre-filter
    * through a Bloom sketch of the census (d15/d20's prefilter) to
    * collapse known grams map-side before the join.
    */
  def ngramNoveltyIncremental(increment: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String,
                              n: Int): DataFrame = {
    import graft.functions.PortableSketches.ngramHashes60
    val incG = increment.select(col(idCol).as("doc_id"),
      explode(ngramHashes60(col(textCol), n)).as("ngh"))
    val hist = corpus.select(explode(ngramHashes60(col(textCol), n)).as("ngh"))
      .distinct().withColumn("_seen", lit(1))
    val firstInc = incG.groupBy("ngh").agg(min(col("doc_id")).as("first_doc"))
    incG.join(firstInc, Seq("ngh"))
      .join(hist, Seq("ngh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("_seen").isNull && col("first_doc") === col("doc_id"), 1))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
  }

  /** The removal half of exact substring dedup (Lee et al. 2022): drop
    * every token covered by a duplicated `n`-gram span whose first
    * occurrence lives in an EARLIER document, keeping the first
    * occurrence intact. Returns all docs with the scrubbed text and
    * the removed-token count.
    *
    * Scale shape: span census (one groupBy on 8-byte hashes) joined
    * back to positional n-grams (second shuffle), coverage mask per
    * doc (third, doc-keyed) — all shuffles carry hashes/positions,
    * never text; the scrub itself is a narrow per-row array filter.
    */
  def scrubDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    // positional (non-distinct) n-grams: pos is 0-based. Fused
    // tokenize→window→hash kernel — same values as
    // posexplode(wordNgrams) → mdHash60 (spec-proven bit-parity)
    // without materializing the n-gram strings.
    val positioned = df
      .select(col(idCol), posexplode(
        graft.functions.PortableSketches.ngramHashesPos60(col(textCol), n)))
      .select(col(idCol), col("pos"), col("col").as("span_hash"))
    // census derived from the SAME positional rows (one tokenize+hash
    // pass over the corpus, not two); distinct (doc, hash) first =
    // per-doc-distinct n-grams, identical to duplicatedNgramSpans
    val census = positioned.select(col(idCol), col("span_hash")).distinct()
      .groupBy("span_hash").agg(
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .where(col("n_docs") >= 2)
      .select(col("span_hash"), col("first_doc"))
    val covered = positioned.join(census, "span_hash")
      .where(col(idCol) =!= col("first_doc"))
      .select(col(idCol),
        explode(sequence(col("pos") + 1, col("pos") + n)).as("tok"))
      .groupBy(idCol).agg(collect_set(col("tok")).as("_mask"))
    df.join(covered, Seq(idCol), "left")
      .withColumn("_m", coalesce(col("_mask"), array().cast("array<int>")))
      .select(col(idCol),
        size(col("_m")).cast("long").as("n_removed"),
        concat_ws(" ", filter(tokens(col(textCol)),
          (t, i) => !array_contains(col("_m"), i + 1))).as("scrubbed_text"))
  }

  /** Fixed-size token chunking with overlap: the context-window
    * preparation step (split each document into `chunkSize`-token
    * windows advancing by `chunkSize - overlap`). One explode, no
    * shuffle — chunk rows stay on the partition that read the doc,
    * and the chunk id is derived arithmetic, not state.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    val stride = chunkSize - overlap
    require(overlap >= 0 && overlap < chunkSize,
      "overlap must be in [0, chunkSize)")
    // last start is capped at len - overlap: a chunk starting past
    // that point adds no tokens beyond the previous chunk (its whole
    // content is the previous chunk's overlap tail) — emitting it
    // would duplicate training text
    df.select(col(idCol), tokens(col(textCol)).as("_t"))
      .select(col(idCol), col("_t"),
        explode(sequence(lit(1),
          greatest(size(col("_t")) - overlap, lit(1)), lit(stride))).as("_s"))
      .select(col(idCol),
        floor((col("_s") - 1) / stride).cast("long").as("chunk_id"),
        size(slice(col("_t"), col("_s"), lit(chunkSize))).cast("long")
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("_t"), col("_s"), lit(chunkSize))).as("chunk_text"))
  }

  /** Cross-document exact n-gram spans: n-grams appearing in at least
    * `minDocs` distinct documents — the candidate-span step of exact
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", public paper). A suffix array is
    * the single-node formulation; the distributed equivalent is this
    * hash-grouped span census: one explode + one groupBy over 60-bit
    * span hashes, shuffle-bounded by token count.
    */
  /** `portable = true` hashes spans with the oracle-reproducible MD5
    * scheme via the fused [[graft.functions.PortableSketches.NgramHash60]]
    * kernel; `false` keeps the declarative n-gram chain with xxhash64
    * keys (engine-local). Since the kernel landed, the portable flavor
    * is the FASTER one (2.1s vs 3.0s at sf0.1) — the xxhash flavor
    * remains as the no-custom-expression reference formulation.
    */
  def duplicatedNgramSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int, minDocs: Int = 2,
                           portable: Boolean = true): DataFrame = {
    val spans =
      if (portable) // fused tokenize→n-gram→distinct→hash kernel
        df.select(col(idCol),
          explode(graft.functions.PortableSketches.ngramHashes60(
            col(textCol), n)).as("span_hash"))
      else // fused xxhash64 twin — same windows, hashed in place, no
           // n-gram string materialization (spec-proven bit-parity to
           // explode(array_distinct(wordNgrams)) → xxhash64)
        df.select(col(idCol),
          explode(graft.functions.PortableSketches.ngramHashesXx(
            col(textCol), n)).as("span_hash"))
    spans.groupBy("span_hash").agg(
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .where(col("n_docs") >= minDocs)
  }

  /** Per-doc duplicated-window fraction — the memorization-risk
    * summary of substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499):
    * for every document, the share of its n-token windows whose
    * n-gram also occurs in at least `minDocs` distinct documents.
    * [[duplicatedNgramSpans]] reports the corpus-side span census;
    * this is the doc-side risk score a filtering policy thresholds on.
    *
    * Shape: ONE positional n-gram explode feeds both the cross-doc
    * census (distinct-doc counts per hash) and the per-doc dup-window
    * count (semi join on the flagged hashes) — Catalyst reuses the
    * exchange for the identical subplan, so the text is scanned and
    * hashed once. Everything shuffles on the 8-byte hash, never the
    * n-gram string.
    */
  def duplicatedWindowFraction(df: DataFrame, idCol: String, textCol: String,
                               n: Int, minDocs: Int = 2): DataFrame = {
    import graft.functions.PortableSketches
    val wins = df.select(col(idCol),
      PortableSketches.ngramHashesPos60(col(textCol), n).as("__whs"))
    val pos = wins.select(col(idCol), explode(col("__whs")).as("span_hash"))
    val dup = pos.groupBy("span_hash")
      .agg(countDistinct(col(idCol)).as("nd"))
      .where(col("nd") >= minDocs)
      .select("span_hash")
    val dupCounts = pos.join(dup, Seq("span_hash"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_dup_windows"))
    wins.where(size(col("__whs")) > 0)
      .select(col(idCol), size(col("__whs")).cast("long").as("n_windows"))
      .join(dupCounts, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup_windows"), lit(0L)).cast("double")
          / col("n_windows"), 6).as("dup_window_fraction"))
  }

  /** Per-shard mergeable top-k summary — the deterministic cousin of
    * SpaceSaving/Misra-Gries (Agarwal et al., "Mergeable Summaries",
    * PODS'12): for each shard the EXACT top-`k` token counts plus the
    * shard's tail bound (the (k+1)-th count — any token NOT kept in
    * the shard occurs at most that often there; 0 when the shard has
    * ≤ k types). Store one summary per source/day partition and merge
    * ANY subset at read time with [[topkFromSummaries]], no corpus
    * re-scan — the census→report split applied to frequency ranking.
    * The (shard, token) census partial-aggs map-side; the rank window
    * is shard-local; the summary is shards×k rows.
    */
  def topkSummaries(docs: DataFrame, shardCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val counts = docs
      .select(col(shardCol).as("shard"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("shard", "tok").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("shard").orderBy(col("cnt").desc, col("tok"))
    val ranked = counts.withColumn("rk", row_number().over(w))
    val tails = ranked.groupBy("shard")
      .agg(coalesce(max(when(col("rk") === k + 1, col("cnt"))), lit(0L))
        .as("tail"))
    ranked.where(col("rk") <= k)
      .join(tails, "shard")
      .select("shard", "tok", "cnt", "tail")
  }

  /** Range-merge of [[topkSummaries]] rows: each candidate token (kept
    * in ≥ 1 shard) gets the exact-over-kept-shards lower bound and the
    * sound upper bound lb + Σ tails of the shards that did NOT keep it
    * (count there ≤ that shard's tail by construction). Reports the
    * top-`k` by lower bound (token tie-break) with `guaranteed` = 1
    * when the lower bound STRICTLY beats both every excluded
    * candidate's upper bound and the total tail (the most a never-kept
    * token could total) — strict because a tie can still displace the
    * candidate under the count-then-token ordering. Touches only
    * shards×k summary rows — the merged report never re-reads the
    * corpus.
    */
  def topkFromSummaries(summaries: DataFrame, k: Int): DataFrame = {
    val tails = summaries.select("shard", "tail").distinct()
    val totalTail = tails.agg(sum("tail").as("total_tail"))
    val cand = summaries.groupBy("tok")
      .agg(sum(col("cnt")).as("lb"), sum(col("tail")).as("kept_tail"))
      .crossJoin(broadcast(totalTail))
      .select(col("tok"), col("lb"),
        (col("lb") + col("total_tail") - col("kept_tail")).as("ub"),
        col("total_tail").as("unseen_cap"))
    rankCandidates(cand, k)
  }

  /** Shared report tail for the summary-merge flavors: rank the
    * candidate census by lower bound (token tie-break), keep the top
    * `k`, and flag `guaranteed` = 1 when the lower bound STRICTLY
    * beats both every excluded candidate's upper bound and
    * `unseen_cap` (the most a token absent from every summary could
    * total). The rank runs on the candidate census (≤ shards×k rows),
    * never token streams.
    */
  private def rankCandidates(cand: DataFrame, k: Int): DataFrame = {
    val ranked = cand.withColumn("rank",
      row_number().over(Window.orderBy(col("lb").desc, col("tok"))))
    val challenger = ranked.where(col("rank") > k)
      .agg(coalesce(max(col("ub")), lit(0L)).as("max_excl"))
    ranked.where(col("rank") <= k)
      .crossJoin(broadcast(challenger))
      .select(col("rank"), col("tok"), col("lb").as("est_low"),
        col("ub").as("est_high"),
        (col("lb") > greatest(col("max_excl"), col("unseen_cap")))
          .cast("int").as("guaranteed"))
      .orderBy("rank")
  }

  /** Range-merge for [[mgSummariesStream]] rows — the Misra-Gries
    * bound algebra differs from [[topkFromSummaries]]'s exact-top-k
    * algebra: an MG counter UNDERcounts its token by at most the
    * shard's cumulative decrement `dec` (emitted as `tail`), and a
    * token absent from a shard's counters totals at most `dec` there,
    * so lb = Σ kept counters (sound: counters never overcount) and
    * ub = lb + Σ ALL shards' dec — the kept shards' slack included,
    * unlike the exact flavor where kept counts are exact.
    */
  def topkFromMgSummaries(summaries: DataFrame, k: Int): DataFrame = {
    // accept the raw versioned emission stream: last-write-wins to the
    // newest snapshot per shard (summing across emit_seq versions would
    // double-count counters and break the sound-bounds contract)
    val snap =
      if (summaries.columns.contains("emit_seq")) {
        val w = Window.partitionBy("shard").orderBy(col("emit_seq").desc)
        summaries.withColumn("_rk", dense_rank().over(w))
          .where(col("_rk") === 1).drop("_rk", "emit_seq")
      } else summaries
    // fail LOUDLY on mixed snapshots that slipped past (a shard must
    // carry exactly one decrement total)
    val decs = snap.select("shard", "tail").distinct()
      .groupBy("shard").agg(count(lit(1)).as("_n"), max(col("tail")).as("tail"))
      .select(col("shard"), (col("tail") + coalesce(
        assert_true(col("_n") === 1, lit("topkFromMgSummaries: multiple " +
          "snapshots per shard — dedup to one emit_seq before merging"))
          .cast("long"), lit(0L))).as("tail"))
    val totalDec = decs.agg(sum("tail").as("total_dec"))
    val cand = snap.groupBy("tok").agg(sum(col("cnt")).as("lb"))
      .crossJoin(broadcast(totalDec))
      .select(col("tok"), col("lb"),
        (col("lb") + col("total_dec")).as("ub"),
        col("total_dec").as("unseen_cap"))
    rankCandidates(cand, k)
  }

  /** Streaming Misra-Gries heavy hitters per shard — the
    * bounded-state twin of [[topkSummaries]]: state is AT MOST `k`
    * (token, counter) slots plus one decrement total per shard,
    * REGARDLESS of vocabulary size (every other streaming count in
    * the engine keeps state ∝ keyspace; this one trades exactness
    * for a hard k-slot cap, the classic MG deal). Per token: present
    * → increment; free slot → insert; else decrement every counter
    * (and the incoming token's implicit 1) by 1, dropping zeroed
    * slots and bumping `dec`. The MG invariants hold under ANY
    * arrival order: true_shard_count − dec ≤ counter ≤
    * true_shard_count, dec ≤ N/(k+1), and every token with true
    * count > N/(k+1) holds a slot (spec-pinned). Each micro-batch
    * emits the shard's full counter snapshot as
    * (shard, tok, cnt, tail = dec, emit_seq) — [[topkFromSummaries]]
    * shape plus a monotone per-shard version so a keyed store (or the
    * spec's memory sink) can last-write-wins to the current summary;
    * merge snapshots with [[topkFromMgSummaries]] (NOT the exact
    * flavor — the bound algebra differs). Snapshot bounds are sound
    * AS OF their emit_seq (any snapshot is stale w.r.t. later
    * arrivals); the rare batch that decrements the table empty emits
    * no rows, leaving the previous emit_seq as the reader's as-of
    * point.
    */
  def mgSummariesStream(tokens: org.apache.spark.sql.Dataset[(String, String)],
                        k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StatefulTable
    require(k >= 1, "need k >= 1")
    val spark = tokens.sparkSession
    import spark.implicits._
    StatefulTable.keyed(tokens, (t: (String, String)) => t._1, OutputMode.Update()) {
      (shard: String, st: Option[(Map[String, Long], Long, Long)],
       toks: Iterator[(String, String)]) =>
        val (m0, dec0, seq0) = st.getOrElse((Map.empty[String, Long], 0L, 0L))
        var m = m0; var dec = dec0
        toks.foreach { case (_, t) =>
          m.get(t) match {
            case Some(c) => m = m.updated(t, c + 1)
            case None if m.size < k => m = m.updated(t, 1L)
            case None =>
              // decrement-all-by-1: the incoming token's implicit
              // count and all k counters shed 1 together (k+1 mass
              // per decrement ⇒ dec ≤ N/(k+1))
              dec += 1
              m = m.flatMap { case (t2, c) =>
                if (c > 1) Some(t2 -> (c - 1)) else None }
          }
        }
        val seq = seq0 + 1
        StatefulTable.Next(Some((m, dec, seq)),
          m.iterator.map { case (t, c) => (shard, t, c, dec, seq) })
    }.toDF("shard", "tok", "cnt", "tail", "emit_seq")
  }
}
