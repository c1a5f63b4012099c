package graft

import org.apache.spark.sql.functions._

import graft.ops.{MultimodalOps, TextOps, VectorOps}

/** Sanity/semantic tests for the extension operators (driver's DuckDB
  * gate covers exact parity; these cover properties the oracle can't).
  */
class OpsSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)

  test("minhash estimate correlates with true jaccard") {
    val est = TextOps.minHashPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, minEstimate = 0.0)
      .select($"id_a", $"id_b", $"est_jaccard")
    val truth = TextOps.jaccardPairs(docs, "doc_id", "text", 0.0)
      .select($"id_a", $"id_b", $"jaccard")
    val joined = est.join(truth, Seq("id_a", "id_b"))
      .select(abs($"est_jaccard" - $"jaccard").as("err"))
      .agg(avg($"err")).as[Double].head()
    // 32 hashes → stderr ~ sqrt(j(1-j)/32) ≈ 0.09; mean abs err well under 0.15
    assert(joined < 0.15, s"mean |est-true| = $joined")
  }

  test("portable hash: column, driver, and reference values agree") {
    import graft.functions.PortableHash
    // reference value independently computed by DuckDB:
    // ('0x' || substr(md5('hello'), 1, 15))::BIGINT
    assert(PortableHash.md5Long60("hello") == 419982666956583591L)
    val viaCol = Seq("hello", "0|tok", "3,17").toDF("s")
      .select(PortableHash.mdHash60($"s")).as[Long].collect()
    assert(viaCol.sameElements(
      Array("hello", "0|tok", "3,17").map(PortableHash.md5Long60)))
    val u = PortableHash.unitValue("0,0")
    assert(u >= -1.0 && u < 1.0)
  }

  test("portable minhash/simhash: same semantics as the fast flavor") {
    val d = docs.limit(100)
    // both flavors agree on exact duplicates and estimate quality —
    // only the underlying hash family differs
    val est = TextOps.minHashPairs(d, "doc_id", "text",
      numHashes = 32, bands = 8, minEstimate = 0.0, portable = true)
      .select($"id_a", $"id_b", $"est_jaccard")
    val truth = TextOps.jaccardPairs(d, "doc_id", "text", 0.0)
      .select($"id_a", $"id_b", $"jaccard")
    val err = est.join(truth, Seq("id_a", "id_b"))
      .select(abs($"est_jaccard" - $"jaccard").as("err"))
      .agg(avg($"err")).as[Double].head()
    assert(err < 0.15, s"portable minhash mean |est-true| = $err")
    // portable simhash of identical text is identical, and is 60-bit
    val sh = d.select(TextOps.simHashPortable($"text").as("h"))
      .as[Long].collect()
    assert(sh.forall(h => h >= 0 && h < (1L << 60)))
  }

  test("simhash: identical docs collide; hamming is symmetric and 0 on self") {
    val sh = docs.limit(50).select($"doc_id", TextOps.simHash($"text").as("h"))
    val self = sh.as("a").join(sh.as("b"), $"a.doc_id" === $"b.doc_id")
      .select(TextOps.hammingDistance($"a.h", $"b.h").as("d"))
      .agg(max($"d")).as[Long].head()
    assert(self == 0)
  }

  test("duplicate texts produce identical minhash signatures and simhash") {
    val dup = Seq((1L, "spark window merge sort"), (2L, "spark window merge sort"),
      (3L, "completely different words entirely")).toDF("doc_id", "text")
    val sigs = dup.select($"doc_id", TextOps.minHashSignature($"text", 16).as("sig"),
      TextOps.simHash($"text").as("sh")).collect()
    val byId = sigs.map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(byId(1L) == byId(2L))
    assert(byId(1L) != byId(3L))
  }

  test("simHashPairs banding is COMPLETE vs brute-force within maxHamming") {
    // pigeonhole: 4 bands of 15 bits must catch every pair at
    // hamming <= 3; assert the LSH pair set equals the all-pairs scan
    val sample = docs.limit(200)
    val lsh = TextOps.simHashPairs(sample, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val sigs = sample.select(col("doc_id"),
      TextOps.simHashPortable(col("text")).as("sh"))
    val a = sigs.toDF("id_a", "sh_a")
    val brute = a.crossJoin(sigs.toDF("id_b", "sh_b"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(lsh == brute)
    assert(brute.nonEmpty) // the corpus actually exercises the path
  }

  test("approx_count_distinct (q25's sketch) stays near exact counts") {
    // q25 is rows-only at the oracle (HLL internals are engine-local);
    // this pins the semantic claim instead: estimates land within 3×
    // the configured rsd of the exact distinct counts
    val e = Tables.events(spark, sf)
    val rows = e.groupBy("event_type").agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (k, exact, approx) =>
      assert(math.abs(approx - exact).toDouble / exact < 0.15,
        s"$k: approx $approx vs exact $exact")
    }
  }

  test("repetition signals are well-formed fractions") {
    val r = TextOps.repetitionSignals(docs, "doc_id", "text")
      .select($"doc_id", $"top_bigram_count", $"n_bigrams",
        $"top_bigram_frac", $"dup_bigram_frac")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (id, top, n, tf, df) =>
      assert(top >= 1 && top <= n, s"doc $id: top $top of $n")
      assert(tf > 0.0 && tf <= 1.0, s"doc $id: top frac $tf")
      assert(df >= 0.0 && df < 1.0, s"doc $id: dup frac $df")
    }
  }

  test("redactPii masks emails, phones and IPs; counts agree") {
    val in = Seq(
      ("mail bob.smith+x@corp.example.org end", 1, 0, 0),
      ("call 555-867-5309 or 555-867-5310", 0, 2, 0),
      ("host 192.168.0.1 and 10.0.255.7", 0, 0, 2),
      ("mixed a@b.co 111-222-3333 8.8.8.8", 1, 1, 1),
      ("clean text with no pii at all", 0, 0, 0))
      .toDF("s", "e", "p", "i")
    val out = in.select(Seq($"s", $"e", $"p", $"i",
      TextOps.redactPii($"s").as("red")) ++
      TextOps.piiCounts($"s").map { case (n, c) => c.as(n) }: _*)
      .as[(String, Int, Int, Int, String, Int, Int, Int)].collect()
    out.foreach { case (s, e, p, i, red, ne, np, ni) =>
      assert((ne, np, ni) == ((e, p, i)), s"counts for: $s")
      if (e > 0) assert(red.contains("<EMAIL>") && !red.contains("@"), red)
      if (p > 0) assert(red.contains("<PHONE>"), red)
      if (i > 0) assert(red.contains("<IP>"), red)
      if (e + p + i == 0) assert(red == s, red)
    }
  }

  test("decontaminate flags the duplicated doc at frac 1.0 and skips clean docs") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val ev = Seq((99L, "x alpha beta gamma delta epsilon zeta eta y"))
      .toDF("doc_id", "text")
    val out = TextOps.decontaminate(train, ev, "doc_id", "text", n = 5)
      .select($"doc_id", $"n_contaminated", $"n_ngrams", $"contamination_frac")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc 1's three distinct 5-grams all appear inside the eval doc
    assert(out == Seq((1L, 3L, 3L, 1.0)), out.toString)
  }

  test("minHashCalibration: buckets are 1/k multiples, exact dups calibrate to 1.0") {
    // add one exact duplicate pair so the est=1.0 bucket is non-empty
    val dup = docs.limit(1).select(($"doc_id" + 100000L).as("doc_id"), $"text")
    val d = docs.select("doc_id", "text").unionByName(dup)
    val cal = TextOps.minHashCalibration(d, "doc_id", "text",
      numHashes = 16, bands = 2, threshold = 0.9)
      .orderBy("est_jaccard")
      .as[(Double, Long, Double, Long, Double)].collect().toSeq
    assert(cal.nonEmpty)
    cal.foreach { case (est, nPairs, meanJ, nTrue, prec) =>
      assert((est * 16).isWhole && est > 0 && est <= 1.0, s"bucket $est")
      assert(meanJ >= 0.0 && meanJ <= 1.0 && nTrue <= nPairs)
      assert(prec == nTrue.toDouble / nPairs)
    }
    // the exact-duplicate pair lands in the est=1.0 bucket and clears
    // the threshold. On this pathologically-uniform corpus that bucket
    // is NOT pure (16 hashes over ~25-token sets collide: mean true
    // jaccard ~0.89, precision ~0.57) — surfacing exactly that bias is
    // what the calibration table is for; a clean corpus reads ~1.0.
    val top = cal.last
    assert(top._1 == 1.0 && top._4 >= 1, top.toString)
    assert(top._3 < 1.0 && top._5 < 1.0,
      s"fixture corpus should exhibit estimator bias: $top")
  }

  test("containment is directional and catches the subset-dup Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta eta theta" // 8 toks, 4 shingles
    val long = short + " one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val d = Seq((1L, short), (2L, long),
      (3L, "pears plums melon quince fig date kiwi grape")).toDF("doc_id", "text")
    val got = TextOps.containmentPairs(d, "doc_id", "text", n = 5, threshold = 0.9)
      .select($"id_a", $"id_b", $"containment")
      .as[(Long, Long, Double)].collect().toSeq
    // only the quoted-whole direction survives: all of doc 1's shingles
    // occur in doc 2 (containment 1.0); the reverse is 4/20 and drops
    assert(got == Seq((1L, 2L, 1.0)), got.toString)
    // symmetric Jaccard structurally misses the same pair at any
    // dedup-grade threshold (intersection/union = 4/20)
    val jac = TextOps.jaccardPairs(d, "doc_id", "text", 0.9).count()
    assert(jac == 0)
  }

  test("containment scale tier (d27): subset of the exact tier, recall measured") {
    val docs = graft.Tables.documents(spark, sf)
    val exact = TextOps.containmentPairs(docs, "doc_id", "text",
        n = 5, threshold = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val fast = TextOps.containmentPairsViaMinHash(docs, "doc_id", "text",
        n = 5, threshold = 0.9, numHashes = 16, bands = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // confirm step is exact on candidates → no false positives ever
    assert(fast.subsetOf(exact),
      s"scale tier emitted non-pairs: ${fast.diff(exact)}")
    // measured recall: Jaccard-banding may drop short-in-long pairs,
    // but on the corpus fixture it must surface a solid majority
    val recall = if (exact.isEmpty) 1.0 else fast.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall (${fast.size}/${exact.size})")
  }

  test("distribution drift: zero on identical slices, positive on shift, < ln 2") {
    // two slices with the SAME token distribution -> both JSD 0
    val same = Seq(
      ("a", "x x y z"), ("a", "x y z z"),
      ("b", "x x y z"), ("b", "x y z z")).toDF("source", "text")
    val j0 = TextOps.distributionDrift(same, "source", "text")
      .select($"slice", $"jsd").as[(String, Double)].collect().toMap
    assert(j0("a") == 0.0 && j0("b") == 0.0, j0.toString)
    // a slice emitting a token the other never does -> strictly
    // positive on both (corpus mixes them), bounded by ln 2
    val shifted = Seq(
      ("a", "x y x y x y"), ("b", "z z z z z z")).toDF("source", "text")
    val j1 = TextOps.distributionDrift(shifted, "source", "text")
      .select($"slice", $"jsd").as[(String, Double)].collect().toMap
    assert(j1.values.forall(v => v > 0.0 && v < math.log(2.0)), j1.toString)
    // the fully-disjoint halves sit at the same divergence from the
    // 50/50 corpus mix by symmetry
    assert(j1("a") == j1("b"), j1.toString)
  }

  test("duplicatedNgramSpans finds exactly the shared span") {
    val d = Seq(
      (1L, "p q r s t u v w x unique1"),
      (2L, "unique2 p q r s t u v w x"),
      (3L, "totally different words here z z2 z3 z4 z5 z6")).toDF("doc_id", "text")
    val spans = TextOps.duplicatedNgramSpans(d, "doc_id", "text", n = 8)
      .select($"n_docs", $"first_doc").as[(Long, Long)].collect().toSeq
    // docs 1 and 2 share the 9-token run "p q r s t u v w x" → two
    // distinct 8-gram spans, each in both docs
    assert(spans == Seq((2L, 1L), (2L, 1L)), spans.toString)
  }

  test("wordNgrams let-bound form is bit-identical to the inline form") {
    // r18 optimization: the token array is let-bound through a
    // single-element outer transform (HOF lambdas re-evaluate their
    // body per element, so the inline form re-splits the document per
    // n-gram position — O(len²)). This pins the rewrite against the
    // original inline formulation on real docs and on every edge
    // (shorter than n, empty, repeated tokens, double spaces, null).
    def inline(text: org.apache.spark.sql.Column,
               n: Int): org.apache.spark.sql.Column = {
      val toks = TextOps.tokens(text)
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)), i =>
          concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    val edge = Seq((1L, Some("one")), (2L, Some("")), (3L, Some("a a a a a")),
      (4L, Some("x  y")), (5L, None), (6L, Some(" leading and trailing ")))
      .toDF("doc_id", "text")
    for (n <- Seq(2, 3, 5); frame <- Seq(docs, edge)) {
      val got = frame.select($"doc_id", TextOps.wordNgrams($"text", n).as("g"))
      val want = frame.select($"doc_id", inline($"text", n).as("g"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"n=$n mismatch")
    }
  }

  test("ngramHashes60 kernel is bit-identical to the declarative chain") {
    import graft.functions.{PortableHash, PortableSketches}
    for (n <- Seq(2, 5, 8)) {
      val kernel = docs.select($"doc_id",
        PortableSketches.ngramHashes60($"text", n).as("h"))
      val declarative = docs.select($"doc_id",
        array_distinct(TextOps.wordNgrams($"text", n)).as("ngs"))
        .select($"doc_id", transform($"ngs",
          g => PortableHash.mdHash60(g)).as("h"))
      assert(kernel.exceptAll(declarative).isEmpty &&
        declarative.exceptAll(kernel).isEmpty, s"n=$n mismatch")
    }
    // degenerate inputs: shorter than n, empty string, repeated tokens
    val edge = Seq("one", "", "a a a a a", "x  y").toDF("text")
    val k = edge.select(PortableSketches.ngramHashes60($"text", 3).as("h"))
    val d = edge.select(transform(
      array_distinct(TextOps.wordNgrams($"text", 3)),
      g => PortableHash.mdHash60(g)).as("h"))
    assert(k.exceptAll(d).isEmpty && d.exceptAll(k).isEmpty)
  }

  test("ngramHashesXx kernel is bit-identical to the declarative xxhash chain") {
    import graft.functions.PortableSketches
    for (n <- Seq(2, 5, 8)) {
      val kernel = docs.select($"doc_id",
        PortableSketches.ngramHashesXx($"text", n).as("h"))
      val declarative = docs.select($"doc_id",
        transform(array_distinct(TextOps.wordNgrams($"text", n)),
          g => xxhash64(g)).as("h"))
      assert(kernel.exceptAll(declarative).isEmpty &&
        declarative.exceptAll(kernel).isEmpty, s"n=$n mismatch")
    }
    val edge = Seq("one", "", "a a a a a", "x  y").toDF("text")
    val k = edge.select(PortableSketches.ngramHashesXx($"text", 3).as("h"))
    val d = edge.select(transform(
      array_distinct(TextOps.wordNgrams($"text", 3)), g => xxhash64(g)).as("h"))
    assert(k.exceptAll(d).isEmpty && d.exceptAll(k).isEmpty)
  }

  test("ngramHashesPos60 kernel is bit-identical to posexplode(wordNgrams)->md5") {
    import graft.functions.{PortableHash, PortableSketches}
    for (n <- Seq(2, 8)) {
      val kernel = docs.select($"doc_id",
        posexplode(PortableSketches.ngramHashesPos60($"text", n)))
      val declarative = docs.select($"doc_id",
        posexplode(TextOps.wordNgrams($"text", n)))
        .select($"doc_id", $"pos", PortableHash.mdHash60($"col").as("col"))
      assert(kernel.exceptAll(declarative).isEmpty &&
        declarative.exceptAll(kernel).isEmpty, s"n=$n mismatch")
    }
    // null text explodes to zero rows on both paths (kernel nulls the
    // array; wordNgrams propagates null; posexplode drops null arrays)
    val nulled = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    assert(nulled.select($"doc_id",
      posexplode(PortableSketches.ngramHashesPos60($"text", 2))).isEmpty)
    assert(nulled.select($"doc_id",
      explode(PortableSketches.ngramHashesXx($"text", 2))).isEmpty)
    assert(nulled.select($"doc_id",
      posexplode(TextOps.wordNgrams($"text", 2))).isEmpty)
  }

  test("ngramHashesPosXx kernel matches the declarative positional xx chain") {
    import graft.functions.PortableSketches
    for (n <- Seq(2, 8)) {
      val kernel = docs.select($"doc_id",
        posexplode(PortableSketches.ngramHashesPosXx($"text", n)))
      val declarative = docs.select($"doc_id",
        posexplode(TextOps.wordNgrams($"text", n)))
        .select($"doc_id", $"pos", xxhash64($"col").as("col"))
      assert(kernel.exceptAll(declarative).isEmpty &&
        declarative.exceptAll(kernel).isEmpty, s"n=$n mismatch")
    }
    // edges: short/empty/null text explode to zero rows
    val edge = Seq((1L, Some("one")), (2L, Some("")), (3L, None))
      .toDF("doc_id", "text")
    assert(edge.select($"doc_id",
      posexplode(PortableSketches.ngramHashesPosXx($"text", 2))).isEmpty)
  }

  test("minhashXx kernel is bit-identical to the declarative xxhash chain") {
    import graft.functions.PortableSketches
    for (k <- Seq(4, 16)) {
      val kernel = docs.select($"doc_id",
        PortableSketches.minhashXx($"text", k).as("sig"))
      val toks = array_distinct(TextOps.tokens($"text"))
      val declarative = docs.select($"doc_id",
        array((0 until k).map { i =>
          array_min(transform(toks, t => xxhash64(lit(i), t)))
        }: _*).as("sig"))
      assert(kernel.exceptAll(declarative).isEmpty &&
        declarative.exceptAll(kernel).isEmpty, s"k=$k mismatch")
    }
    // degenerate: empty string and multi-space still agree
    val edge = Seq("", "  ", "a", "x  y").toDF("text")
    val ke = edge.select(PortableSketches.minhashXx($"text", 4).as("sig"))
    val de = edge.select(array((0 until 4).map { i =>
      array_min(transform(array_distinct(TextOps.tokens($"text")),
        t => xxhash64(lit(i), t)))
    }: _*).as("sig"))
    assert(ke.exceptAll(de).isEmpty && de.exceptAll(ke).isEmpty)
    // null text is the ONE intended divergence: the kernel nulls the
    // whole signature (like the portable flavor), where the chain
    // produced a non-null array of k nulls that banded all null-text
    // docs together as fake est=1.0 duplicates
    val nulled = Seq((1L, Some("a b")), (2L, None), (3L, None))
      .toDF("doc_id", "text")
    val sigs = nulled.select($"doc_id",
      PortableSketches.minhashXx($"text", 4).as("sig"))
    assert(sigs.where($"sig".isNull).select($"doc_id")
      .as[Long].collect().toSet == Set(2L, 3L))
    val chain = nulled.select(array((0 until 4).map { i =>
      array_min(transform(array_distinct(TextOps.tokens($"text")),
        t => xxhash64(lit(i), t)))
    }: _*).as("sig")).where($"sig".isNull)
    assert(chain.isEmpty, "declarative chain never nulls the signature")
    // and the consumer drops them: null-text docs produce no pairs
    val pairs = TextOps.minHashPairs(nulled, "doc_id", "text",
      numHashes = 4, bands = 2, minEstimate = 0.0, portable = false)
    assert(pairs.isEmpty, "null-text docs must not pair with each other")
  }

  test("dup-span census: fast and portable flavors agree modulo hash") {
    val portable = TextOps.duplicatedNgramSpans(docs, "doc_id", "text", 8)
      .select($"n_docs", $"first_doc").as[(Long, Long)].collect().sorted.toSeq
    val fast = TextOps.duplicatedNgramSpans(docs, "doc_id", "text", 8,
      portable = false)
      .select($"n_docs", $"first_doc").as[(Long, Long)].collect().sorted.toSeq
    assert(portable.nonEmpty && portable == fast)
  }

  test("scrubDuplicatedSpans removes the span from later docs only") {
    val d = Seq(
      (1L, "p q r s t u v w x tail1 tail2"),
      (2L, "head2 p q r s t u v w x tail3"),
      (3L, "no shared span in this document at all eight plus")).toDF("doc_id", "text")
    val out = TextOps.scrubDuplicatedSpans(d, "doc_id", "text", n = 8)
      .orderBy("doc_id")
      .select($"doc_id", $"n_removed", $"scrubbed_text")
      .as[(Long, Long, String)].collect().toSeq
    // doc 1 owns the first occurrence: untouched. doc 2 loses the
    // 9-token shared run (both overlapping 8-gram spans), keeps its
    // unique head/tail. doc 3 untouched.
    assert(out == Seq(
      (1L, 0L, "p q r s t u v w x tail1 tail2"),
      (2L, 9L, "head2 tail3"),
      (3L, 0L, "no shared span in this document at all eight plus")), out.toString)
  }

  test("chunkTokens: full coverage, bounded size, exact overlap") {
    val d = Seq((1L, (1 to 73).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = TextOps.chunkTokens(d, "doc_id", "text", chunkSize = 30, overlap = 5)
      .orderBy("chunk_id")
      .select($"chunk_id", $"n_chunk_tokens", $"chunk_text")
      .as[(Long, Long, String)].collect().toSeq
    // strides of 25 over 73 tokens: starts 1, 26, 51 → sizes 30, 30, 23
    assert(chunks.map(c => (c._1, c._2)) == Seq((0L, 30L), (1L, 30L), (2L, 23L)))
    // consecutive chunks share exactly `overlap` tokens
    val toks = chunks.map(_._3.split(" ").toSeq)
    assert(toks(0).takeRight(5) == toks(1).take(5))
    assert(toks(1).takeRight(5) == toks(2).take(5))
    // every source token appears in some chunk, in order
    assert(toks.head.head == "w1" && toks.last.last == "w73")
    assert(toks.flatten.distinct.size == 73)
    // tail shorter than the overlap: no fully-redundant final chunk
    val d51 = Seq((1L, (1 to 51).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val c51 = TextOps.chunkTokens(d51, "doc_id", "text", 30, 5)
      .orderBy("chunk_id").select($"chunk_id", $"n_chunk_tokens")
      .as[(Long, Long)].collect().toSeq
    // starts 1, 26 only — a chunk at 51 would repeat chunk 2's tail
    assert(c51 == Seq((0L, 30L), (1L, 26L)), c51.toString)
  }

  test("int8 quantization error is bounded by half a quantum") {
    val rep = VectorOps.quantizeInt8Report(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
      .select($"scale", $"max_abs_err").as[(Double, Double)].collect()
    assert(rep.nonEmpty)
    rep.foreach { case (scale, err) =>
      assert(scale > 0.0)
      // round-half-up: |q*scale - v| <= scale/2 (plus one ulp of slack)
      assert(err <= scale / 2 * (1 + 1e-12), s"err $err vs scale $scale")
    }
  }

  test("minHashPairsIncremental equals full pair set restricted to cross-side") {
    val sample = docs.limit(200)
    val inc = sample.where(col("doc_id") >= 100)
    val ex = sample.where(col("doc_id") < 100)
    val got = TextOps.minHashPairsIncremental(inc, ex, "doc_id", "text",
      numHashes = 16, bands = 2, minEstimate = 0.7, portable = true)
      .select("inc_id", "ex_id").as[(Long, Long)].collect().toSet
    val full = TextOps.minHashPairs(sample, "doc_id", "text",
      numHashes = 16, bands = 2, minEstimate = 0.7, portable = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // full emits id_a < id_b, so cross-side pairs appear as (ex, inc)
    val cross = full.collect { case (a, b) if a < 100 && b >= 100 => (b, a) }
    assert(got == cross)
    assert(got.nonEmpty)
  }

  test("d37 agreement census: channel jaccard well-formed") {
    val r = SparkEntry.queries("d37_dual_channel_dedup")(spark, sf)
      .select("n_both", "n_text_only", "n_emb_only", "channel_jaccard")
      .as[(Long, Long, Long, Double)].collect().head
    assert(r._1 >= 0 && r._2 >= 0 && r._3 >= 0)
    assert(r._4 >= 0.0 && r._4 <= 1.0)
    assert(r._4 == (if (r._1 + r._2 + r._3 == 0) 0.0
      else BigDecimal(r._1.toDouble / (r._1 + r._2 + r._3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("d39 funnel: stages are monotone and consistent with d01/d06 counts") {
    val out = SparkEntry.queries("d39_dedup_funnel")(spark, sf)
      .select("stage", "n_docs", "total_tokens", "token_share")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // docs and tokens can only shrink down the funnel
    assert(out("raw")._2 >= out("exact_dedup")._2)
    assert(out("exact_dedup")._2 >= out("near_dup")._2)
    assert(out("raw")._3 >= out("near_dup")._3)
    assert(out("raw")._4 == 1.0)
    // near-dup stage keeps exactly one doc per d06 cluster
    val nClusters = graft.ops.TextOps.dedupClustersMinHash(
      Tables.documents(spark, sf), "doc_id", "text",
      numHashes = 16, bands = 2, minEstimate = 0.7, portable = true)
      .select("cluster_id").distinct().count()
    assert(out("near_dup")._2 == nClusters)
  }

  test("d40/d41: TRUE identical shingle sets land at est=1.0 in BOTH hash families") {
    // est = 1.0 means identical signatures — guaranteed for identical
    // shingle SETS in any hash family (equal set ⇒ equal minima ⇒
    // same band ⇒ recalled), but each family also has its own
    // 16-position near-miss collisions, so the est=1.0 sets need not
    // be equal. The hash-independent contract: the TRUE
    // identical-set pairs are a subset of both.
    // no two natural docs share a full 3-gram set (reordering breaks
    // shingles even when token sets match), so the m05 recrawl
    // fixture injects byte-identical twins
    val base = Tables.documents(spark, sf)
    val docs = base.select($"doc_id", $"text").unionByName(
      base.where($"doc_id" % 25 === 0)
        .select(($"doc_id" + 100000L).as("doc_id"), $"text"))
    val trueDups = docs
      .select($"doc_id",
        md5(array_join(array_sort(array_distinct(
          TextOps.wordNgrams($"text", 3))), "|")).as("fp"))
      .groupBy("fp").agg(collect_list($"doc_id").as("ids"))
      .where(size($"ids") > 1)
      .select(explode($"ids").as("a"), $"ids")
      .select($"a", explode($"ids").as("b")).where($"a" < $"b")
      .as[(Long, Long)].collect().toSet
    def exactPairs(df: org.apache.spark.sql.DataFrame) =
      df.where($"est_jaccard" === 1.0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val portable = exactPairs(TextOps.shingleMinHashPairs(
      docs, "doc_id", "text", n = 3, numHashes = 16, bands = 2,
      minEstimate = 0.7))
    val xx = exactPairs(TextOps.shingleMinHashPairsXx(
      docs, "doc_id", "text", n = 3, numHashes = 16, bands = 2,
      minEstimate = 0.7))
    assert(trueDups.nonEmpty) // the corpus has true duplicates
    assert(trueDups.subsetOf(portable), (trueDups -- portable).toString)
    assert(trueDups.subsetOf(xx), (trueDups -- xx).toString)
  }

  /** Each step whose literal is not on exactly one line of the
    * `src/main/scala` files that `inFile` accepts, with every site.
    */
  private def notWrittenOnce(steps: Seq[String],
                             inFile: String => Boolean = _ => true): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val lines = try files.iterator().asScala
        .filter(f => f.toString.endsWith(".scala") && inFile(f.toString))
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.map {
            case (line, i) => (s"$f:${i + 1}", line)
          }
        }.toList
      finally files.close()
    steps.flatMap { step =>
      val sites = lines.collect { case (at, line) if line.contains(step) => s"$at: ${line.trim}" }
      if (sites.size == 1) Nil
      else Seq(s"`$step` at ${sites.size} sites:\n  ${sites.mkString("\n  ")}")
    }
  }

  test("banded-LSH steps are written once in src/main") {
    // each step of the LSH candidate path (band key, signature groups,
    // Bloom sketch) has one home in TextOps; a second copy would let a
    // fix to one silently miss the other
    val bad = notWrittenOnce(Seq("xxhash64(bnd,",
      """collect_list(col("id")).as("ids")""", ".stat.bloomFilter("))
    if (bad.nonEmpty) fail(bad.mkString("\n"))
  }

  test("nearest-neighbour steps are written once in src/main") {
    // each step of the kNN/ANN paths (the top-k window, the pair
    // cosine, the kernels' small-side probe and bounded top-k, the
    // pivot picker) has one home in VectorOps; a second copy would let
    // a fix to one silently miss the other
    val bad = notWrittenOnce(Seq("row_number().over("), _.endsWith("VectorOps.scala")) ++
      notWrittenOnce(Seq("""(col("nrm_a") * col("nrm_b"))""",
        ".select(col(idCol)).limit(", "Array.fill(k)(Double.NegativeInfinity)",
        """md5(col("pid").cast("string"))"""))
    if (bad.nonEmpty) fail(bad.mkString("\n"))
  }

  test("cluster representatives: highest quality kept, not min id; one per cluster") {
    // docs 10/20 share a token SET (identical minhash signatures ⇒ same
    // cluster) but 20 has the higher mean-token-length quality score —
    // the representative must be 20 even though 10 is the min-id canonical.
    val dup = Seq(
      (10L, "alpha beta gamma"),
      (20L, "alpha beta gamma gamma"),
      (30L, "solo document here")).toDF("doc_id", "text")
    val out = TextOps.clusterRepresentatives(dup, "doc_id", "text",
      stopwords = Seq("the", "a"), numHashes = 16, bands = 2,
      minEstimate = 0.7, portable = true)
      .select($"doc_id", $"cluster_id", $"cluster_size", $"is_kept")
      .as[(Long, Long, Long, Int)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((10L, 10L, 2L, 0), (20L, 10L, 2L, 1), (30L, 30L, 1L, 1)))
    // exactly one representative per cluster, by construction of the arg-max
    val perCluster = out.groupBy(_._2).values.map(_.map(_._4).sum)
    assert(perCluster.forall(_ == 1))
  }

  test("pmi collocations: hand-computed value, minCount prunes rare pairs") {
    val corpus = Seq((1L, "x y"), (2L, "x y"), (3L, "x z"))
      .toDF("doc_id", "text")
    // tokens: x=3 y=2 z=1 (N=6); bigrams: (x,y)=2 (x,z)=1 (Nb=3)
    // pmi(x,y) = ln((2/3) / ((3/6)*(2/6))) = ln(4)
    val got = TextOps.pmiCollocations(corpus, "text", minCount = 2L)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(("x", "y", 2L, math.rint(math.log(4.0) * 1e6) / 1e6)))
    val all = TextOps.pmiCollocations(corpus, "text", minCount = 1L)
    assert(all.count() == 2)
  }

  test("exactDedup collapses exact duplicates only") {
    val dup = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = TextOps.exactDedup(dup, "doc_id", "text")
      .select($"keep_id", $"n_dups").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
      (3L, Array(3.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = VectorOps.cosineNearDupPairs(vecs, "vec_id", "embedding", -1.0)
      .as[(Long, Long, Double)].collect().map { case (a, b, c) => (a, b) -> c }.toMap
    assert(math.abs(pairs((1L, 3L)) - 1.0) < 1e-12)
    assert(math.abs(pairs((1L, 2L))) < 1e-12)
  }

  test("SQ8 ADC: score within the quantization error bound of the exact dot") {
    val emb = Tables.embeddings(spark, sf)
    val out = VectorOps.sq8NearestNeighbors(emb, "vec_id", "embedding",
      k = 3, sampleMod = 10)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    // per-element rounding error is at most half a quantum, so
    // |adc - exact_dot| <= (scale_b / 2) * sum(|query_i|)
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    out.foreach { case (qa, _, cb, adc) =>
      val a = vecs(qa).map(_.toDouble); val b = vecs(cb).map(_.toDouble)
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val scale = b.map(math.abs).max / 127.0
      val bound = scale / 2.0 * a.map(math.abs).sum + 1e-9
      assert(math.abs(adc - dot) <= bound,
        s"adc=$adc dot=$dot bound=$bound for ($qa,$cb)")
    }
    // ranks contiguous per query; layout-independent
    out.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted == (1 to g.size))
    }
    val again = VectorOps.sq8NearestNeighbors(emb.repartition(7),
      "vec_id", "embedding", k = 3, sampleMod = 10)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(again.toSet == out.toSet)
  }

  test("ANN recall report: probing every cell recovers recall 1.0; sampled and bounded") {
    val emb = Tables.embeddings(spark, sf)
    val report = VectorOps.annRecallReport(emb, "vec_id", "embedding",
      nCells = 8, k = 3, probes = 2, sampleMod = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(report.nonEmpty && report.size < emb.count(),
      "sample must be a strict subset")
    assert(report.forall { case (_, h, r) =>
      h >= 0 && h <= 3 && r >= 0.0 && r <= 1.0 && r == h / 3.0 })
    // probes = nCells means every candidate pair is scored: the index
    // degenerates to brute force, so every sampled query must hit 3/3
    val full = VectorOps.annRecallReport(emb, "vec_id", "embedding",
      nCells = 8, k = 3, probes = 8, sampleMod = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(full.map(_._1).sorted == report.map(_._1).sorted,
      "same sampled queries either way")
    assert(full.forall(_._3 == 1.0), s"full-probe recall < 1: $full")
  }

  test("lsh ANN returns a subset of brute-force neighbors with sane scores") {
    val emb = Tables.embeddings(spark, sf)
    val ann = VectorOps.lshNearestNeighbors(emb, "vec_id", "embedding", 4, 3)
    val rows = ann.select($"id_a", $"cos").as[(Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, c) => c >= -1.0001 && c <= 1.0001 })
  }

  test("CDC chunks: lossless reassembly; boundaries shift-resistant under prepend") {
    // reassembling every doc's chunks in order must reproduce the text
    val chunks = TextOps.contentDefinedChunks(docs, "doc_id", "text")
    val rebuilt = chunks.groupBy("id")
      .agg(concat_ws(" ", array_sort(collect_list(struct($"chunk_id", $"chunk_text")))
        .getField("chunk_text")).as("rebuilt"))
      .join(docs, $"id" === $"doc_id")
      .where($"rebuilt" =!= $"text").count()
    assert(rebuilt == 0, "chunk reassembly must be lossless")
    // shift resistance — the CDC property t10's fixed windows lack:
    // prepending one token realigns all boundaries past the first
    // hash window, so almost every chunk survives the edit verbatim
    val doc1 = docs.orderBy("doc_id").select($"text").as[String].head()
    val two = Seq((1L, doc1), (2L, "EDITTOKEN " + doc1)).toDF("doc_id", "text")
    val byDoc = TextOps.contentDefinedChunks(two, "doc_id", "text")
      .select($"id", $"chunk_text").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val shared = byDoc(1L).intersect(byDoc(2L))
    assert(shared.size >= byDoc(1L).size - 2,
      s"prepend broke ${byDoc(1L).size - shared.size} of ${byDoc(1L).size} chunks")
  }

  test("funnelSteps: strict temporal order, partial entry, re-click after view counts") {
    import graft.ops.EventOps
    val ev = Seq(
      // user 1: click BEFORE any view (must not count), then a proper
      // view -> click -> purchase chain
      (1L, "click", 10L), (1L, "view", 20L), (1L, "click", 30L),
      (1L, "purchase", 40L),
      // user 2: purchase precedes the post-view click -> no conversion
      (2L, "view", 10L), (2L, "purchase", 15L), (2L, "click", 20L),
      // user 3: enters but never clicks
      (3L, "view", 5L),
      // user 4: never views -> not in the report at all
      (4L, "click", 1L), (4L, "purchase", 2L)
    ).toDF("user_id", "event_type", "ts")
    val got = EventOps.funnelSteps(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy("user_id")
      .select($"user_id", $"view_ts", $"click_ts", $"purchase_ts")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 20L, Some(30L), Some(40L)),
      (2L, 10L, Some(20L), None),
      (3L, 5L, None, None)), got.toString)
  }

  test("sessionize: gap starts a new session, bounds exact, one shuffle total") {
    import graft.ops.EventOps
    val ev = Seq(
      // user 1: two sessions split by a 100s gap (gap=50)
      (1L, 10L, 100L), (1L, 11L, 120L), (1L, 12L, 220L), (1L, 13L, 240L),
      // user 2: single event = single session
      (2L, 20L, 500L)
    ).toDF("user_id", "event_id", "ts_sec")
    val out = EventOps.sessionize(ev, "user_id", "ts_sec", "event_id", 50L)
    val got = out.orderBy("user_id", "session_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 100L, 120L, 2L),
      (1L, 2L, 220L, 240L, 2L),
      (2L, 1L, 500L, 500L, 1L)), got.toString)
    // both windows and the (user, session) groupBy share ONE shuffle:
    // hash(user_id) satisfies the grouping's clustered distribution
    val exchanges = out.queryExecution.executedPlan.toString
      .split("Exchange hashpartitioning").length - 1
    assert(exchanges == 1, s"sessionize planned $exchanges shuffles")
  }

  test("pointInTimeJoin: interval containment, no future leak, pre-history null") {
    import graft.ops.EventOps
    val changes = Seq(
      (1L, "bronze", 100L, 1L), (1L, "gold", 200L, 2L),
      (1L, "gold", 250L, 3L), (1L, "silver", 300L, 4L)
    ).toDF("user_id", "state_in", "ts_sec", "event_id")
    val dim = EventOps.scd2Intervals(changes, "user_id", "state_in",
      "ts_sec", "event_id")
    // runs compress: bronze@[100,199], gold@[200,299], silver@[300,∞)
    val iv = dim.orderBy("effective_from")
      .as[(Long, String, Long, Option[Long])].collect().toSeq
    assert(iv == Seq((1L, "bronze", 100L, Some(199L)),
      (1L, "gold", 200L, Some(299L)), (1L, "silver", 300L, None)), iv.toString)
    val probes = Seq(
      (1L, 10L, 50L),   // before any state → null
      (1L, 11L, 100L),  // boundary: first second of bronze
      (1L, 12L, 299L),  // last second of gold — must NOT see silver
      (1L, 13L, 999L),  // open interval
      (2L, 14L, 100L)   // unknown key → null
    ).toDF("user_id", "probe_id", "ts_sec")
    val out = EventOps.pointInTimeJoin(probes, dim, "user_id", "ts_sec")
      .select($"probe_id", $"state").orderBy("probe_id")
      .as[(Long, Option[String])].collect().toSeq
    assert(out == Seq((10L, None), (11L, Some("bronze")),
      (12L, Some("gold")), (13L, Some("silver")), (14L, None)), out.toString)
  }

  test("hllSlidingDistinct: window=1 equals grouped HLL; error within bound") {
    import graft.ops.SketchOps
    val ev = Tables.events(spark, sf)
      .withColumn("hour_bucket", expr("ts_sec div 3600"))
    // degenerate window: per-bucket estimates must equal the plain
    // grouped HLL (merge of one bucket is the bucket)
    val w1 = SketchOps.hllSlidingDistinct(ev, "hour_bucket", "user_id",
        windowSize = 1, p = 8)
      .select($"bucket", $"hll_est").as[(Long, Double)].collect().toMap
    val grouped = SketchOps.hyperLogLogBy(ev, Seq("hour_bucket"),
        "user_id", p = 8)
      .as[(Long, Double)].collect().toMap
    assert(w1 == grouped, "window=1 must reduce to the grouped sketch")
    // merge identity: the trailing-window estimate from MERGED
    // registers equals the estimate from registers built directly on
    // the windowed key multiset — exact bit equality at any
    // cardinality (the spec-scale sets are far below the raw-range
    // estimator's 2.5·m validity floor, so absolute-error assertions
    // belong to q54's fixture, not here)
    val out = SketchOps.hllSlidingDistinct(ev, "hour_bucket", "user_id",
        windowSize = 24, p = 8)
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    val targets = ev.select($"hour_bucket".as("t")).distinct()
    val windowedKeys = targets.join(ev.select($"hour_bucket", $"user_id"),
      $"hour_bucket".between($"t" - 23, $"t"))
      .select($"t".as("wb"), $"user_id")
    val direct = SketchOps.hyperLogLogBy(windowedKeys, Seq("wb"),
        "user_id", p = 8)
      .as[(Long, Double)].collect().toMap
    out.foreach { case (b, _, est) =>
      assert(direct(b) == est, s"bucket $b: merged $est vs direct ${direct(b)}")
    }
    // windows only widen: 24h distinct >= the bucket's own distinct
    val exact1 = SketchOps.hllSlidingDistinct(ev, "hour_bucket",
        "user_id", windowSize = 1, p = 8)
      .select($"bucket", $"exact_distinct").as[(Long, Long)].collect().toMap
    out.foreach { case (b, exact24, _) =>
      assert(exact24 >= exact1(b), s"bucket $b shrank")
    }
  }

  test("scd2Intervals: partitions each user's timeline, runs compressed") {
    import graft.ops.EventOps
    // deterministic pseudo-random changelog: 40 users × 50 events
    // per-user ts strictly increasing (disjoint 100s windows per step)
    val ev = spark.range(2000).selectExpr(
      "id % 40 AS user_id",
      "concat('s', abs(hash(id, 7)) % 4) AS state_in",
      "1000 + (id div 40) * 100 + abs(hash(id, 13)) % 100 AS ts_sec",
      "id AS event_id")
    val iv = EventOps.scd2Intervals(ev, "user_id", "state_in",
      "ts_sec", "event_id")
      .as[(Long, String, Long, Option[Long])].collect()
      .groupBy(_._1).map { case (u, rows) =>
        u -> rows.sortBy(_._3).toList
      }
    val firstTs = ev.groupBy("user_id").agg(min(col("ts_sec")))
      .as[(Long, Long)].collect().toMap
    iv.foreach { case (u, rows) =>
      // starts at the user's first event
      assert(rows.head._3 == firstTs(u), s"user $u starts late: $rows")
      // exactly one open interval, at the end
      assert(rows.init.forall(_._4.isDefined) && rows.last._4.isEmpty)
      rows.sliding(2).foreach {
        case List(a, b) =>
          // contiguous: next opens exactly where the previous closed
          assert(a._4.contains(b._3 - 1), s"user $u gap: $a -> $b")
          // compressed: adjacent runs always change state
          assert(a._2 != b._2, s"user $u uncompressed run: $a -> $b")
        case _ => ()
      }
    }
  }

  test("sessionEntryPaths: session-guarded leads, short paths, one user shuffle") {
    import graft.ops.EventOps
    val ev = Seq(
      // user 1 session 1: a>b>c>d — path takes only the first 3
      (1L, "a", 100L, 1L), (1L, "b", 110L, 2L), (1L, "c", 120L, 3L),
      (1L, "d", 130L, 4L),
      // user 1 session 2 (after the gap): a>b — 2-step path
      (1L, "a", 1000L, 5L), (1L, "b", 1010L, 6L),
      // user 2: single-event session — 1-step path; the lead must NOT
      // leak user 1's or a later session's events
      (2L, "a", 100L, 7L)
    ).toDF("user_id", "event_type", "ts_sec", "event_id")
    val out = EventOps.sessionEntryPaths(ev, "user_id", "event_type",
      "ts_sec", "event_id", gapSeconds = 50L, topK = 10)
    val got = out.orderBy(col("n_sessions").desc, col("path"))
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 1L), ("a>b", 1L), ("a>b>c", 1L)), got.toString)
    val exchanges = out.queryExecution.executedPlan.toString
      .split("Exchange hashpartitioning").length - 1
    assert(exchanges <= 2, s"entry paths planned $exchanges hash shuffles")
  }

  test("funnel conversion window: late steps outside `within` do not convert") {
    import graft.ops.EventOps
    val ev = Seq(
      // user 1 converts inside the window; user 2's purchase lands
      // past view+100 and must not count, though its click does
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 60L),
      (2L, "view", 10L), (2L, "click", 20L), (2L, "purchase", 200L)
    ).toDF("user_id", "event_type", "ts")
    val got = EventOps.funnelSteps(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), within = Some(100L))
      .orderBy("user_id")
      .select($"user_id", $"click_ts", $"purchase_ts")
      .as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(got == Seq((1L, Some(20L), Some(60L)), (2L, Some(20L), None)),
      got.toString)
    // unwindowed: user 2 converts after all
    val open = EventOps.funnelSteps(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .where($"user_id" === 2L).select($"purchase_ts")
      .as[Option[Long]].head()
    assert(open.contains(200L))
  }

  test("topKeywords: k per doc, ranked by score then term, WindowGroupLimit pruned") {
    val kw = TextOps.topKeywords(docs, "doc_id", "text", k = 3)
    assert(kw.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "per-doc top-k should prune via WindowGroupLimit")
    val rows = kw.select($"id", $"rk", $"term", $"tfidf")
      .as[(Long, Int, String, Double)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.size <= 3 && sorted.map(_._2) == (1 to sorted.size))
      // score non-increasing; equal scores ordered by term
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3), s"$a !>= $b")
        case _ => ()
      }
    }
  }

  test("text kNN: ranked per doc, symmetric with the pair set, prunes via WindowGroupLimit") {
    val nn = TextOps.textNearestNeighbors(docs, "doc_id", "text",
      k = 3, numHashes = 16, bands = 2, minEstimate = 0.5, portable = true)
    val rows = nn.as[(Long, Int, Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2) == (1 to sorted.size), s"ranks not contiguous: $g")
      assert(sorted.map(_._4).sliding(2).forall {
        case Seq(a, b) => a >= b
        case _ => true
      }, s"estimates not non-increasing: $g")
    }
    // every reported neighbor is a real candidate pair (both directions
    // come from the same pair set)
    val pairSet = TextOps.minHashPairs(docs, "doc_id", "text",
      numHashes = 16, bands = 2, minEstimate = 0.5, portable = true)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .flatMap(p => Seq(p, p.swap)).toSet
    assert(rows.forall(r => pairSet((r._1, r._3))))
    // literal k lowers to per-partition pruning before the rank shuffle
    assert(nn.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "top-k should prune via WindowGroupLimit")
  }

  test("bigram LM: repetitive docs score more predictable; 1-token docs drop") {
    val corpus = Seq(
      (1L, "a b a b a b a b a"),
      (2L, "a b c d e f g h i"),
      (3L, "a")).toDF("doc_id", "text")
    val scored = TextOps.bigramLmScore(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // the single-token doc has no bigrams and drops out of the report
    assert(scored.keySet == Set(1L, 2L))
    assert(scored(1L)._1 == 8 && scored(2L)._1 == 8)
    // every bigram of doc 1 recurs; doc 2's are one-off → higher nll
    assert(scored(1L)._2 < scored(2L)._2,
      s"repetitive doc must score lower cross-entropy: $scored")
    assert(scored.values.forall(_._2 > 0.0))
  }

  test("semantic dedup: one cell reduces to brute-force clusters; census is sound") {
    val emb = Tables.embeddings(spark, sf)
    // nCells=1 puts every vector in the same cell → intra-cell pairs
    // ARE all pairs, so the census must equal CC over the brute-force
    // near-dup edges, bit for bit
    val oneCell = VectorOps.semanticDedupClusters(emb, "vec_id", "embedding",
      nCells = 1, threshold = 0.4)
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1).toSeq
    val brute = graft.ops.TextOps.dedupClustersFromEdges(emb, "vec_id",
      VectorOps.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4))
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(oneCell == brute)
    // census soundness on the celled variant: every id labeled once,
    // canonical iff id == cluster label, sizes consistent
    val celled = VectorOps.semanticDedupClusters(emb, "vec_id", "embedding",
      nCells = 8, threshold = 0.4)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(celled.map(_._1).distinct.size == celled.size)
    assert(celled.forall { case (id, cl, _, canon) => (id == cl) == (canon == 1) })
    val sizes = celled.groupBy(_._2).map { case (cl, rows) => cl -> rows.size }
    assert(celled.forall { case (_, cl, sz, _) => sizes(cl) == sz })
    // celling can only LOSE edges vs brute force → clusters refine:
    // two ids clustered together by cells must share a brute cluster
    val bruteLabel = brute.map(r => r._1 -> r._2).toMap
    val byCell = celled.groupBy(_._2).values
    assert(byCell.forall(rows => rows.map(r => bruteLabel(r._1)).distinct.size == 1))
  }

  test("kNN kernel is bit-identical to the declarative formulation") {
    val emb = Tables.embeddings(spark, sf)
    val decl = VectorOps.knnBruteForce(emb, emb, "vec_id", "embedding", 3)
      .select($"id_a", $"rk", $"id_b", $"cos")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val kern = VectorOps.knnBruteForceKernel(emb, emb, "vec_id", "embedding", 3)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(decl == kern) // incl. exact double equality on cos
  }

  test("kNN kernel row guard trips before collecting an oversized right side") {
    // the collect-and-broadcast contract is now self-enforcing: an
    // oversized right side fails fast with a pointer to the bucketed
    // scale paths instead of OOMing the driver
    val emb = Tables.embeddings(spark, sf)
    val err = intercept[IllegalArgumentException] {
      VectorOps.knnBruteForceKernel(emb, emb, "vec_id", "embedding", 3,
        maxRightRows = 3)
    }
    assert(err.getMessage.contains("lshNearestNeighbors") &&
      err.getMessage.contains("ivfNearestNeighbors"),
      s"guard message must point to the scale paths: ${err.getMessage}")
    // at the default bound the same call goes through untouched
    assert(VectorOps.knnBruteForceKernel(emb, emb, "vec_id", "embedding", 3)
      .count() > 0)
  }

  test("kNN kernels: a left id absent from the right side still gets k neighbours") {
    val left = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val right = Seq((2L, Array(1f, 1f)), (3L, Array(0f, 1f))).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Double)].collect().sortBy(_._2).toSeq
    val decl = rows(VectorOps.knnBruteForce(left, right, "vec_id", "embedding", 2))
    assert(decl.map(r => (r._2, r._3)) == Seq((1, 2L), (2, 3L)), decl.toString)
    assert(rows(VectorOps.knnBruteForceKernel(left, right, "vec_id", "embedding", 2)) == decl)
    // dots 1.0 and 0.0 rank the same two neighbours
    assert(rows(VectorOps.mipsBruteForceKernel(left, right, "vec_id", "embedding", 2))
      == Seq((1L, 1, 2L, 1.0), (1L, 2, 3L, 0.0)))
  }

  test("brute-force kernels reject mismatched dimensions, naming both ids") {
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    val runs = Seq[(String, () => Any)](
      "knnBruteForceKernel" -> (() =>
        VectorOps.knnBruteForceKernel(vecs, vecs, "vec_id", "embedding", 1).collect()),
      "mipsBruteForceKernel" -> (() =>
        VectorOps.mipsBruteForceKernel(vecs, vecs, "vec_id", "embedding", 1).collect()),
      "tripletMine" -> (() => VectorOps.tripletMine(vecs.withColumn("label", lit(0)),
        "vec_id", "embedding", "label", margin = 0.1).collect()))
    for ((op, run) <- runs) {
      val err = messages(intercept[Exception](run()))
      assert(err.contains(s"$op: dimension mismatch") && err.contains("id 1 has") &&
        err.contains("id 2 has"), s"$op must name both ids: $err")
    }
  }

  test("MIPS kernel equals a declarative top-k over VectorOps.dot") {
    val emb = Tables.embeddings(spark, sf)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id_a")
      .orderBy($"dot".desc, $"id_b")
    val decl = emb.select($"vec_id".as("id_a"), $"embedding".as("vec_a"))
      .join(emb.select($"vec_id".as("id_b"), $"embedding".as("vec_b")),
        $"id_a" =!= $"id_b")
      .select($"id_a", $"id_b", VectorOps.dot($"vec_a", $"vec_b").as("dot"))
      .withColumn("rk", row_number().over(w)).where($"rk" <= 3)
      .select($"id_a", $"rk", $"id_b", $"dot")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val kern = VectorOps.mipsBruteForceKernel(emb, emb, "vec_id", "embedding", 3)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(decl.nonEmpty && decl == kern) // incl. exact double equality on dot
  }

  test("ANN recall report and recall curve agree at the shared cutoff") {
    val emb = Tables.embeddings(spark, sf)
    val report = VectorOps.annRecallReport(emb, "vec_id", "embedding",
      nCells = 8, k = 3, probes = 2, sampleMod = 10)
      .as[(Long, Long, Double)].collect()
    val atThree = VectorOps.annRecallCurve(emb, "vec_id", "embedding",
      nCells = 8, kMax = 5, probes = 2, sampleMod = 10)
      .where($"k" === 3).select($"n_queries", $"n_hits").as[(Long, Long)].head()
    assert(report.nonEmpty)
    assert(atThree == ((report.length.toLong, report.map(_._2).sum)),
      s"curve $atThree vs report ${report.toSeq}")
  }

  test("ivf ANN: deterministic, subset of valid scores, recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val ivf = VectorOps.ivfNearestNeighbors(emb, "vec_id", "embedding",
      nCells = 8, k = 3, probes = 2)
    val r1 = ivf.collect().map(_.toString).sorted.toSeq
    val r2 = VectorOps.ivfNearestNeighbors(emb, "vec_id", "embedding",
      nCells = 8, k = 3, probes = 2).collect().map(_.toString).sorted.toSeq
    assert(r1 == r2) // deterministic pivots → reproducible
    // top-1 recall vs brute force should be non-trivial (multi-probe)
    val brute = VectorOps.knnBruteForce(emb, emb, "vec_id", "embedding", 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toMap
    val approx = ivf.where($"rk" === 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toMap
    val hits = approx.count { case (q, n) => brute.get(q).contains(n) }
    assert(hits.toDouble / brute.size > 0.2,
      s"top-1 recall ${hits.toDouble / brute.size} too low")
  }

  test("wordNgrams on docs shorter than n yields empty, not an index error") {
    val short = Seq((1L, "solo"), (2L, "two words"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val out = short.select($"doc_id",
      TextOps.wordNgrams($"text", 3).as("g")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L) == Seq("a b c"))
  }

  test("resize: dims never upscale, blob output bounded by the pixel budget") {
    val planned = docs.limit(100)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .withColumn("in_w", (octet_length(col("blob")) % 1024 + 64).cast("int"))
      .withColumn("in_h", (octet_length(col("blob")) % 512 + 64).cast("int"))
    val (ow, oh) = MultimodalOps.resizeDims(col("in_w"), col("in_h"), 256, 256)
    val withDims = planned.withColumn("out_w", ow).withColumn("out_h", oh)
    // planning: fits the box, preserves no-upscale, keeps aspect order
    val bad = withDims.where(col("out_w") > 256 || col("out_h") > 256 ||
      col("out_w") > col("in_w") || col("out_h") > col("in_h"))
    assert(bad.count() == 0)
    // kernel stub: output bytes bounded by planned budget, id preserved
    val resized = MultimodalOps.resizeBlobs(withDims, "doc_id", "blob",
      "out_w", "out_h")
    val viol = resized.where(
      octet_length(col("out_bytes")) >
        greatest(lit(1), floor(col("out_w") * col("out_h") * 0.125)).cast("int"))
    assert(viol.count() == 0)
    assert(resized.count() == 100)
  }

  test("sampleOffsets on empty blobs yields no offsets") {
    val blobs = Seq((1L, ""), (2L, "0123456789"))
      .toDF("id", "payload")
      .select($"id", $"payload".cast("binary").as("blob"))
    val out = MultimodalOps.sampleOffsets(blobs, "id", "blob", 4, 1)
      .select($"id", $"offsets").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(out(1L).isEmpty)
    assert(out(2L) == Seq(0, 4, 8))
  }

  test("perceptual hash: 56-bit bound, deterministic, near-dup gradations banded") {
    val media = Seq((1L, "the same raster bytes, repeated often enough to fill"),
      (2L, "the same raster bytes, repeated often enough to fill"),
      (3L, "a completely different raster with other content here"))
      .toDF("id", "t")
    val sigs = MultimodalOps.phashDct(media, "id", "t")
      .as[(Long, Long)].collect().toMap
    // bounded to 56 bits, identical bytes → identical signature
    assert(sigs.values.forall(s => s >= 0 && s < (1L << 56)))
    assert(sigs(1L) == sigs(2L) && sigs(1L) != sigs(3L))
    // the DCT basis is the orthonormal 8-point DCT-II, fixed-point:
    // row 0 constant at round(8192/(2*sqrt(2))), row sums of AC rows ~0
    assert(MultimodalOps.dctBasis(0).forall(_ == 2896L))
    assert((1 until 8).forall(u => math.abs(MultimodalOps.dctBasis(u).sum) <= 4))
    // a one-pixel perturbation moves FEW bits (the perceptual property):
    // same text with one char changed stays within hamming 12 of original
    val perturbed = Seq((9L, "the same raster bytes, repeated often enough to filL"))
      .toDF("id", "t")
    val sp = MultimodalOps.phashDct(perturbed, "id", "t")
      .as[(Long, Long)].collect().head._2
    assert(java.lang.Long.bitCount(sigs(1L) ^ sp) <= 12)
    // identical rasters surface as a hamming-0 pair through the banding
    val pairs = MultimodalOps.perceptualNearDupPairs(media, "id", "t")
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.contains((1L, 2L, 0)))
    // crafted signatures: hamming-2 neighbors collide on >=1 of 4 bands
    // (pigeonhole) and survive; hamming-4 pairs are correctly dropped
    val crafted = Seq((10L, 0L), (11L, 3L), (12L, 0xF0L << 40))
      .toDF("id", "sh")
    val got = graft.ops.TextOps.hammingPairsFromSignatures(crafted, 3, 4)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((10L, 11L, 2)))
  }

  test("multimodal decode: deterministic fake over real bytes, mapPartitions shape") {
    val blobs = docs.limit(20)
      .select($"doc_id".as("id"), $"text".cast("binary").as("blob"))
    val meta = MultimodalOps.decodeMeta(blobs, "id", "blob")
    val twice = MultimodalOps.decodeMeta(blobs.repartition(7), "id", "blob")
    assert(meta.collect().sortBy(_.id).toSeq == twice.collect().sortBy(_.id).toSeq)
    val m = meta.collect().head
    assert(m.nBytes > 0 && m.width >= 64 && m.durationMs == m.nBytes.toLong * 10)
  }

  test("count-min sketch: overestimates only, repartition-invariant, zero for absent keys") {
    import graft.ops.SketchOps
    val occ = docs.limit(300).select(explode(split($"text", " ")).as("tok"))
    val regs = SketchOps.cmsRegisters(occ, "tok", depth = 3, width = 8)
    // register mass: every row of the matrix sums to the stream length
    val n = occ.count()
    val rowMass = regs.groupBy("i").agg(sum("c").as("m"))
      .select("m").as[Long].collect().toSeq
    assert(rowMass.size == 3 && rowMass.forall(_ == n))
    // est >= exact for every inserted key (min over rows can only overcount)
    val exact = occ.groupBy("tok").agg(count(lit(1)).as("exact_n"))
    val est = SketchOps.cmsEstimates(regs, exact.select("tok"), "tok",
      depth = 3, width = 8)
    val under = exact.join(est, Seq("tok")).where($"est_n" < $"exact_n").count()
    assert(under == 0)
    // width 8 over 31 tokens must actually collide somewhere
    assert(exact.join(est, Seq("tok")).where($"est_n" > $"exact_n").count() > 0)
    // registers are layout-independent (partial agg is commutative)
    val regs2 = SketchOps.cmsRegisters(occ.repartition(7), "tok",
      depth = 3, width = 8)
    assert(regs.except(regs2).count() == 0 && regs2.except(regs).count() == 0)
    // a never-inserted key still probes; empty registers read as zero
    val ghost = SketchOps.cmsEstimates(
      regs.where($"c" < 0), Seq("zzz").toDF("tok"), "tok", depth = 3, width = 8)
    assert(ghost.select("est_n").as[Long].head() == 0L)
    // grouped flavor: each slice gets an INDEPENDENT sketch whose row
    // mass equals that slice's stream length (cross-slice collisions
    // are impossible by construction)
    val byLang = docs.limit(300)
      .select($"lang", explode(split($"text", " ")).as("tok"))
    val gregs = SketchOps.cmsRegistersBy(byLang, Seq("lang"), "tok",
      depth = 3, width = 8)
    val mass = gregs.groupBy("lang", "i").agg(sum("c").as("m"))
    val streamLen = byLang.groupBy("lang").agg(count(lit(1)).as("n"))
    assert(mass.join(streamLen, "lang").where($"m" =!= $"n").count() == 0)
    val gexact = byLang.groupBy("lang", "tok").agg(count(lit(1)).as("exact_n"))
    val gest = SketchOps.cmsEstimatesBy(gregs, gexact.select("lang", "tok"),
      Seq("lang"), "tok", depth = 3, width = 8)
    assert(gexact.join(gest, Seq("lang", "tok"))
      .where($"est_n" < $"exact_n").count() == 0)
  }

  test("portable bloom: no false negatives, FP path live, layout-independent") {
    import graft.ops.SketchOps
    val corpus = docs.where($"doc_id" % 3 === 0)
      .select(md5($"text".cast("binary")).as("fp"))
    val probe = docs.select(md5($"text".cast("binary")).as("fp"))
    val bits = SketchOps.bloomBits(corpus, "fp", numBits = 128, numHashes = 3)
    assert(bits.count() <= 128)
    val got = SketchOps.bloomMightContain(bits, probe, "fp",
      numBits = 128, numHashes = 3)
    val joined = got.join(corpus.distinct().withColumn("_in", lit(1)),
      Seq("fp"), "left")
    // every true member answers true — the bloom contract
    assert(joined.where($"_in".isNotNull && !$"might_contain").count() == 0)
    // 128 bits over this corpus must produce at least one false positive
    assert(joined.where($"_in".isNull && $"might_contain").count() > 0)
    // bit set is a distinct union: any partitioning, same set
    val bits2 = SketchOps.bloomBits(corpus.repartition(7), "fp",
      numBits = 128, numHashes = 3)
    assert(bits.except(bits2).count() == 0 && bits2.except(bits).count() == 0)
    // grouped flavor: filters are independent per slice — a key
    // inserted only under group "x" reads ABSENT under group "y"
    // (wide bit arrays so no cross-probe false positive interferes)
    val gcorpus = Seq(("x", "kx"), ("y", "ky")).toDF("g", "k")
    val gbits = SketchOps.bloomBitsBy(gcorpus, Seq("g"), "k",
      numBits = 4096, numHashes = 3)
    val gprobe = Seq(("x", "kx"), ("y", "kx"), ("x", "ky")).toDF("g", "k")
    val gm = SketchOps.bloomMightContainBy(gbits, gprobe, Seq("g"), "k",
        numBits = 4096, numHashes = 3)
      .as[(String, String, Boolean)].collect().toSet
    assert(gm == Set(("x", "kx", true), ("y", "kx", false), ("x", "ky", false)),
      gm.toString)
  }

  test("dyadic-CMS quantiles: one-sided, exact when collision-free, mergeable") {
    import graft.ops.SketchOps
    val vals = Tables.lineitem(spark, sf)
      .select($"l_quantity".cast("long").as("v"))
    val total = vals.agg(count(lit(1)).as("n"))
    val phis = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    // exact rank-based quantiles from the value census (domain <= 64)
    val n = vals.count()
    val census = vals.groupBy("v").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().sortBy(_._1)
    def exactQ(phi: Double): Long = {
      val target = math.ceil(phi * n).toLong
      var acc = 0L
      census.collectFirst { case (v, c) if { acc += c; acc >= target } => v }.get
    }
    // narrow sketch: estimates may cross early but NEVER late (CMS
    // overestimates ranks -> quantile estimate sits at-or-below exact)
    val narrow = SketchOps.dyadicCmsQuantiles(
      SketchOps.dyadicCmsRegisters(vals, "v", levels = 6, width = 16),
      total, phis, levels = 6, width = 16)
      .select("phi", "q_est").as[(Double, Long)].collect().toMap
    phis.foreach { p => assert(narrow(p) <= exactQ(p), s"phi=$p") }
    // wide sketch: ~101 dyadic keys into 3x1024 registers -> no
    // collisions -> the sketch answer IS the exact rank quantile
    val wide = SketchOps.dyadicCmsQuantiles(
      SketchOps.dyadicCmsRegisters(vals, "v", levels = 6, width = 1024),
      total, phis, levels = 6, width = 1024)
      .select("phi", "q_est").as[(Double, Long)].collect().toMap
    phis.foreach { p => assert(wide(p) == exactQ(p), s"phi=$p") }
    // register grid is layout-independent (count partial-aggs merge)
    val r1 = SketchOps.dyadicCmsRegisters(vals, "v", levels = 6, width = 16)
    val r2 = SketchOps.dyadicCmsRegisters(vals.repartition(7), "v",
      levels = 6, width = 16)
    assert(r1.except(r2).count() == 0 && r2.except(r1).count() == 0)
    // each value touches exactly `levels` composite keys: every
    // register row of the matrix carries n * levels total mass
    val mass = r1.groupBy("i").agg(sum("c").as("m"))
      .select("m").as[Long].collect().toSeq
    assert(mass.size == 3 && mass.forall(_ == n * 6))
    // census-first batch build (hash each DISTINCT value once,
    // weighted by its count) is bit-identical to the per-occurrence
    // streaming build
    val censusDf = vals.groupBy("v").agg(count(lit(1)).as("cnt"))
    val rC = SketchOps.dyadicCmsRegistersFromCensus(censusDf, Seq.empty,
      "v", "cnt", levels = 6, width = 16)
    assert(rC.except(r1).count() == 0 && r1.except(rC).count() == 0)
    // grouped flavor: each slice's sketch is independent — per-group
    // register row mass is that group's stream length × levels
    val gvals = Tables.documents(spark, sf)
      .select($"lang", $"n_chars".cast("long").as("v"))
    val gregs = SketchOps.dyadicCmsRegistersBy(gvals, Seq("lang"), "v",
      levels = 10, width = 64)
    val gmass = gregs.groupBy("lang", "i").agg(sum("c").as("m"))
    val glen = gvals.groupBy("lang").agg((count(lit(1)) * 10).as("expect"))
    assert(gmass.join(glen, "lang").where($"m" =!= $"expect").count() == 0)
  }

  test("portable HLL: accurate, deterministic under repartitioning") {
    import graft.ops.SketchOps
    val orders = Tables.orders(spark, sf)
    val exact = orders.select(countDistinct($"o_orderkey")).as[Long].head()
    val est = SketchOps.hyperLogLog(orders, "o_orderkey", p = 8)
      .as[Double].head()
    // m=256 -> stderr ~6.5%; 25% is a >3-sigma accuracy gate
    assert(math.abs(est - exact) / exact < 0.25,
      s"hll_est=$est exact=$exact")
    // register max is commutative: any partitioning, same estimate
    val est2 = SketchOps.hyperLogLog(orders.repartition(13), "o_orderkey", p = 8)
      .as[Double].head()
    assert(est == est2)
    // raw-range precondition of the estimator (no linear-counting branch)
    assert(exact >= 2.5 * 256, "fixture must stay in HLL raw range")
  }

  test("HLL registers merge across slices: union of shards == global sketch") {
    import graft.ops.SketchOps
    val orders = Tables.orders(spark, sf)
    // three disjoint shards build registers independently (the
    // per-executor / per-day reality at 100 TB); their UNION folds to
    // exactly the single-pass global estimate — max is the merge
    val shards = (0 until 3).map { i =>
      SketchOps.hllRegisters(orders.where($"o_orderkey" % 3 === i),
        Seq.empty, "o_orderkey", p = 8)
    }
    val merged = SketchOps.hllEstimateFromRegisters(
      shards.reduce(_ unionByName _), Seq.empty, p = 8)
      .as[Double].head()
    val global = SketchOps.hyperLogLog(orders, "o_orderkey", p = 8)
      .as[Double].head()
    assert(merged == global, s"merged=$merged global=$global")
  }

  test("grouped portable HLL: per-slice accuracy and determinism") {
    import graft.ops.SketchOps
    // 2 buckets of ~750 distinct orderkeys at sf0.001 — both in raw range
    val orders = Tables.orders(spark, sf)
      .withColumn("bucket", ($"o_orderkey" % 2).cast("int"))
    val exact = orders.groupBy("bucket")
      .agg(countDistinct($"o_orderkey").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val est = SketchOps.hyperLogLogBy(orders, Seq("bucket"), "o_orderkey", p = 8)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    exact.foreach { case (b, n) =>
      assert(n >= 2.5 * 256, s"bucket $b out of raw range")
      assert(math.abs(est(b) - n) / n < 0.25, s"bucket $b est=${est(b)} n=$n")
    }
    val est2 = SketchOps
      .hyperLogLogBy(orders.repartition(11), Seq("bucket"), "o_orderkey", p = 8)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(est == est2)
  }

  test("portable HLL: null keys excluded; duplicate register rows fold safely") {
    import graft.ops.SketchOps
    // nulls are ignored like countDistinct — no phantom member
    val withNulls = Seq[(String, Option[Long])](
      ("a", Some(1L)), ("a", Some(2L)), ("a", None), ("a", None))
      .toDF("g", "k")
    val clean = withNulls.where($"k".isNotNull)
    val eN = SketchOps.hyperLogLogBy(withNulls, Seq("g"), "k", p = 8).collect()
    val eC = SketchOps.hyperLogLogBy(clean, Seq("g"), "k", p = 8).collect()
    assert(eN.sameElements(eC))
    // an update-mode register LOG has one row per (group, reg) per
    // batch that changed it — the fold must max-dedup, not double-count
    val regs = SketchOps.hllRegisters(
      Seq(("a", 1L), ("a", 2L), ("a", 3L)).toDF("g", "k"), Seq("g"), "k", p = 8)
    val logged = regs.union(regs.withColumn("mj", $"mj" - 1)) // stale rows
    val fromLog = SketchOps.hllEstimateFromRegisters(logged, Seq("g"), p = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = SketchOps.hllEstimateFromRegisters(regs, Seq("g"), p = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fromLog == direct, s"log-fold=$fromLog direct=$direct")
  }

  test("multimodal decode: ImageIoDecoder stays total on corrupt images") {
    // valid PNG magic bytes, truncated header: a reader matches but
    // parsing throws — decode must fall back, not kill the task
    val truncatedPng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A,
      0x1A, 0x0A, 0, 0, 0, 13, 'I', 'H', 'D', 'R')
    val m = MultimodalOps.ImageIoDecoder.decode(9L, truncatedPng)
    assert(m == MultimodalOps.FakeDecoder.decode(9L, truncatedPng))
  }

  test("multimodal decode: ImageIoDecoder reads real PNG/JPEG headers") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xCAFE)
      val out = new ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, out), s"no $fmt writer in this JDK")
      out.toByteArray
    }
    val rows = Seq(
      (1L, imageBytes(320, 200, "png")),
      (2L, imageBytes(64, 48, "jpg")),
      (3L, "definitely not an image".getBytes("UTF-8")))
    val blobs = rows.toDF("id", "blob").repartition(2)
    val meta = MultimodalOps
      .decodeMeta(blobs, "id", "blob", MultimodalOps.ImageIoDecoder)
      .collect().map(m => m.id -> m).toMap
    assert(meta(1L).format == "png" &&
      meta(1L).width == 320 && meta(1L).height == 200)
    assert(meta(2L).format.startsWith("jp") &&
      meta(2L).width == 64 && meta(2L).height == 48)
    // non-image bytes fall back to the deterministic fake (total fn)
    assert(meta(3L) == MultimodalOps.FakeDecoder.decode(3L, rows(2)._2))
  }

  test("bloom incremental dedup is bit-identical to the plain anti-join") {
    // include null-text rows: a null fingerprint probes the bloom to
    // null and must still survive, exactly like the plain anti-join
    // (null keys never match) — regression for the silent row loss
    val nulls = Seq((900001L, null: String), (900002L, null: String))
      .toDF("doc_id", "text")
    val incoming = docs.where($"doc_id" % 3 === 0)
      .select($"doc_id", $"text").unionByName(nulls)
    val existing = docs.where($"doc_id" % 4 === 0)
    val plain = TextOps.incrementalExactDedup(incoming, existing, "doc_id", "text")
    val bloom = TextOps.incrementalExactDedupBloom(incoming, existing,
      "doc_id", "text", expectedItems = 10000L)
    assert(bloom.count() == plain.count())
    assert(bloom.except(plain).isEmpty && plain.except(bloom).isEmpty)
    // the null-fingerprint group is present, not dropped
    assert(bloom.where($"fingerprint".isNull).count() == 1)
  }

  test("bloom incremental minhash pairs are bit-identical to the plain band join") {
    // the prefilter drops only definitely-absent band hashes, so the
    // candidate set — and therefore the confirmed pair set — is
    // unchanged; fpp misses only cost a wasted join probe
    val incoming = docs.where($"doc_id" % 3 === 0)
    val existing = docs.where($"doc_id" % 4 === 0)
    val plain = TextOps.minHashPairsIncremental(incoming, existing,
      "doc_id", "text", numHashes = 16, bands = 2, minEstimate = 0.5,
      portable = true)
    val bloom = TextOps.minHashPairsIncrementalBloom(incoming, existing,
      "doc_id", "text", numHashes = 16, bands = 2, minEstimate = 0.5,
      portable = true, expectedItems = 10000L)
    assert(bloom.count() == plain.count())
    assert(bloom.except(plain).isEmpty && plain.except(bloom).isEmpty)
  }

  test("bloom incremental CDC-chunk dedup is bit-identical to the plain anti-join") {
    // d19's contract, mirroring the d15<->d09 relationship at chunk
    // granularity: the bloom prefilter may only REORDER work, never
    // change the result set
    val incoming = docs.where($"doc_id" % 3 === 0)
    val existing = docs.where($"doc_id" % 4 === 0)
    val plain = TextOps.incrementalChunkDedup(incoming, existing,
      "doc_id", "text")
    val bloom = TextOps.incrementalChunkDedupBloom(incoming, existing,
      "doc_id", "text", expectedItems = 10000L)
    assert(bloom.count() == plain.count())
    assert(bloom.except(plain).isEmpty && plain.except(bloom).isEmpty)
    // shift-resistance end-to-end: re-ingesting an EDITED copy of an
    // existing doc contributes only the chunks around the edit — not
    // one new chunk per downstream offset (what fixed-size chunking
    // would produce)
    val victim = existing.orderBy("doc_id").limit(1)
      .select($"doc_id", $"text").as[(Long, String)].head()
    val edited = Seq((victim._1 + 1000000L, "EDITTOK " + victim._2))
      .toDF("doc_id", "text")
    val newChunks = TextOps.incrementalChunkDedup(edited, existing,
      "doc_id", "text").count()
    val totalChunks = graft.ops.TextOps.contentDefinedChunks(
      edited, "doc_id", "text").count()
    assert(newChunks < totalChunks,
      s"edited re-ingest produced $newChunks/$totalChunks new chunks — no reuse")
  }

  test("bloomMightContain rejects unsupported input types at analysis time") {
    import graft.functions.BloomExpressions.bloomMightContain
    val bf = docs.limit(10).select(md5($"text").as("fp"))
      .stat.bloomFilter("fp", 100L, 0.01)
    val bc = spark.sparkContext.broadcast(bf)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(bloomMightContain($"doc_id".cast("decimal(20,2)"), bc)).collect()
    }
    assert(err.getMessage.contains("bloom_might_contain"), err.getMessage)
    // integral and binary inputs remain accepted
    docs.limit(5).select(bloomMightContain($"doc_id", bc),
      bloomMightContain($"text".cast("binary"), bc)).collect()
  }

  test("bloom probe: no false negatives over every inserted fingerprint") {
    import graft.functions.BloomExpressions.bloomMightContain
    val known = docs.select(md5($"text").as("fp")).distinct()
    val bf = known.stat.bloomFilter("fp", 10000L, 0.01)
    val bc = spark.sparkContext.broadcast(bf)
    val misses = known.where(!bloomMightContain($"fp", bc)).count()
    assert(misses == 0, s"bloom false negatives: $misses")
    // an fpp-sized sliver of unseen keys may collide, but nowhere near all
    val unseen = spark.range(5000)
      .select(md5(concat(lit("unseen-"), $"id")).as("fp"))
    val fpRate = unseen.where(bloomMightContain($"fp", bc)).count() / 5000.0
    assert(fpRate < 0.05, s"false-positive rate $fpRate")
  }

  test("unigram LM score: uniform-ish corpus entropy bounds and exact token count") {
    val scored = TextOps.unigramLmScore(docs, "doc_id", "text")
    assert(scored.count() == docs.count())
    // every token is in the corpus LM by construction: cross-entropy is
    // bounded by the vocab's support, ln(vocab) for uniform
    val vocabN = docs.select(explode(TextOps.tokens($"text")).as("t"))
      .select("t").distinct().count()
    val bad = scored.where($"cross_entropy" <= 0 ||
      $"cross_entropy" > math.log(vocabN.toDouble) + 1.0).count()
    assert(bad == 0, s"$bad docs outside (0, ln(V)+1]")
    val mismatch = scored.join(docs, $"id" === $"doc_id")
      .where($"n_tokens" =!= size(TextOps.tokens($"text"))).count()
    assert(mismatch == 0)
  }

  test("pq codes: valid codewords, monotone error in codebook size, no window argmin") {
    val emb = Tables.embeddings(spark, sf)
    val codes = VectorOps.pqCodes(emb, "vec_id", "embedding",
      m = 4, nCentroids = 8, dim = 64, portablePivots = true).cache()
    assert(codes.count() == emb.count() * 4)
    assert(codes.where($"sub" < 0 || $"sub" > 3).count() == 0)
    // codewords come from the corpus (pivot ids)
    val pivotIds = emb.select(md5($"vec_id".cast("string")).as("h"), $"vec_id")
      .orderBy("h", "vec_id").limit(8).select("vec_id").as[Long].collect().toSet
    assert(codes.select("code").distinct().as[Long].collect().toSet.subsetOf(pivotIds))
    // a bigger codebook can only tighten per-subvector error
    val codes16 = VectorOps.pqCodes(emb, "vec_id", "embedding",
      m = 4, nCentroids = 16, dim = 64, portablePivots = true)
    val worse = codes.select($"id", $"sub", $"sq_err".as("e8"))
      .join(codes16.select($"id", $"sub", $"sq_err".as("e16")), Seq("id", "sub"))
      .where($"e16" > $"e8" + 1e-9).count()
    assert(worse == 0, s"$worse subvectors got WORSE with more centroids")
    // the argmin partial-aggregates: no Window node in the plan
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window argmin sneaked in:\n$plan")
    codes.unpersist()
  }

  test("embedding outliers: rank-exact flag count, outliers are the cell minima") {
    val emb = Tables.embeddings(spark, sf)
    val out = VectorOps.embeddingOutliers(emb, "vec_id", "embedding",
      nCells = 8, iters = 2, pct = 0.1, portablePivots = true)
      .select($"id", $"cell", $"sim", $"z", $"is_outlier")
      .as[(Long, Long, Double, Double, Int)].collect().toSeq
    assert(out.size == emb.count())
    // per cell: exactly ceil(pct*n) flagged, and they are the LOWEST sims
    out.groupBy(_._2).values.foreach { rows =>
      val n = rows.size
      val want = math.ceil(0.1 * n).toLong
      val flagged = rows.filter(_._5 == 1)
      assert(flagged.size.toLong == want)
      val maxFlagged = flagged.map(r => (r._3, r._1)).max
      val cleanBelow = rows.filter(_._5 == 0)
        .count(r => Ordering[(Double, Long)].lt((r._3, r._1), maxFlagged))
      assert(cleanBelow == 0, s"unflagged row below a flagged one in cell")
    }
    // z-scores center near zero per cell (snapped moments, sanity only)
    val meanZ = out.map(_._4).sum / out.size
    assert(math.abs(meanZ) < 0.1, s"mean z = $meanZ")
  }

  test("kmeans: one round is bit-identical to ivfCellCentroids") {
    val emb = Tables.embeddings(spark, sf)
    val one = VectorOps.kmeansTrain(emb, "vec_id", "embedding",
      k = 8, iters = 1, portablePivots = true).orderBy("cell", "i").collect().toSeq
    val ivf = VectorOps.ivfCellCentroids(emb, "vec_id", "embedding",
      nCells = 8, portablePivots = true).orderBy("cell", "i").collect().toSeq
    assert(one == ivf)
  }

  test("kmeans: result is partition-layout independent; counts cover the corpus") {
    val emb = Tables.embeddings(spark, sf)
    // uncached on purpose: caching would splice an InMemoryTableScan
    // into the plan the exchange-count assertion below inspects
    val trained = VectorOps.kmeansTrain(emb, "vec_id", "embedding",
      k = 8, iters = 2, portablePivots = true)
    // the 6-dp snap after every round makes the iteration reproducible
    // regardless of input partitioning (partial-agg order changes)
    val relaid = VectorOps.kmeansTrain(emb.repartition(7), "vec_id", "embedding",
      k = 8, iters = 2, portablePivots = true)
    assert(trained.orderBy("cell", "i").collect().toSeq ==
      relaid.orderBy("cell", "i").collect().toSeq)
    // every vector is assigned exactly once: per-cell counts sum to N
    // (each cell contributes its n once per component i)
    val n = emb.count()
    val perI = trained.groupBy("i").agg(sum("n").as("tot"))
      .select("tot").distinct().as[Long].collect().toSeq
    assert(perI == Seq(n), s"member counts $perI != corpus size $n")
    // assignment is the zero-shuffle HOF argmin: the only exchange in
    // the final round is the (cell, i) update aggregation
    // (executedPlan, not sparkPlan — exchanges are inserted by the
    // EnsureRequirements preparation pass)
    val exchanges = trained.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 update shuffle, got $exchanges")
  }

  test("trained-IVF ANN: bounded top-k, sane scores, neighbors share a cell") {
    val emb = Tables.embeddings(spark, sf)
    val ann = VectorOps.ivfNearestNeighborsTrained(emb, "vec_id", "embedding",
      nCells = 8, k = 3, iters = 2, portablePivots = true).cache()
    val byId = ann.groupBy("id_a").count().select("count").as[Long].collect()
    assert(byId.nonEmpty && byId.forall(_ <= 3))
    val cos = ann.select("cos").as[Double].collect()
    assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
    // ranks are dense from 1 per query point
    val badRanks = ann.groupBy("id_a").agg(max("rk").as("mx"), count(lit(1)).as("n"))
      .where($"mx" =!= $"n").count()
    assert(badRanks == 0)
    ann.unpersist()
  }

  test("bm25: positive scores, rarity raises idf, tf saturates under k1") {
    val docs = Tables.documents(spark, sf)
    val scored = TextOps.bm25(docs, "doc_id", "text").cache()
    // Lucene-style ln(1 + x) idf is strictly positive, so scores are
    assert(scored.where($"bm25" <= 0.0).count() == 0)
    // within one doc at fixed tf, a rarer term (smaller df) never
    // scores lower — dl and avgdl are constant inside the doc
    val inversions = scored.as("a").join(scored.as("b"),
        $"a.id" === $"b.id" && $"a.tf" === $"b.tf" &&
          $"a.df" < $"b.df" && $"a.bm25" < $"b.bm25" - 1e-9)
      .count()
    assert(inversions == 0, s"$inversions rarity inversions")
    // saturation: score grows sublinearly in tf — bounded by (k1+1)*idf
    val overCap = scored
      .where($"bm25" > (lit(1.2) + lit(1.0)) *
        log((lit(docs.count().toDouble) - $"df" + 0.5) / ($"df" + 0.5) + 1.0) + 1e-9)
      .count()
    assert(overCap == 0)
    scored.unpersist()
  }

  test("quality classifier: GD reduces MSE, layout-independent, link bounded") {
    import graft.ops.LearnOps
    val docs = Tables.documents(spark, sf)
    val label = when($"lang" === "en", 1.0).otherwise(0.0)
    val sw = Seq("the", "a", "of", "to")
    val out = LearnOps.trainQualityClassifier(docs, "text", label, sw,
      steps = 3, lr = 0.2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // at w=0 every prediction is 0.5, so the training MSE floor to beat
    // is avg((y - 0.5)^2) = 0.25 on any 0/1 label
    assert(out("mse") < 0.25, s"training did not reduce MSE: $out")
    // the 6-dp gradient snap makes training partition-layout independent
    val relaid = LearnOps.trainQualityClassifier(docs.repartition(5), "text",
      label, sw, steps = 3, lr = 0.2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == relaid)
    // rational link: bounded in (0,1) and monotone over a z sweep
    val zs = spark.range(-1000, 1001).select(($"id" / 100.0).as("z"))
      .select(LearnOps.fastSigmoid($"z").as("p")).as[Double].collect()
    assert(zs.forall(p => p > 0.0 && p < 1.0))
    assert(zs.sliding(2).forall(w => w(0) < w(1)))
  }

  test("classifier PR report: confusion sums to n, recall monotone, edge thresholds") {
    import graft.ops.LearnOps
    val docs = Tables.documents(spark, sf)
    val label = when($"lang" === "en", 1.0).otherwise(0.0)
    val sw = Seq("the", "a", "of", "to")
    val n = docs.count()
    val nPos = docs.where($"lang" === "en").count()
    val rep = LearnOps.classifierPrReport(docs, "text", label, sw,
      thresholds = Seq(0.0, 0.4, 0.5, 0.6, 1.1), steps = 3, lr = 0.2)
      .orderBy("thr")
      .as[(Double, Long, Long, Long, Long, Double, Double)].collect().toSeq
    rep.foreach { case (thr, tp, fp, fn, tn, prec, rec) =>
      assert(tp + fp + fn + tn == n, s"thr=$thr confusion != n")
      if (tp + fp > 0) assert(prec == tp.toDouble / (tp + fp))
      assert(rec == (if (nPos > 0) tp.toDouble / nPos else -1.0))
    }
    // recall never increases as the threshold rises
    assert(rep.map(_._7).sliding(2).forall { case Seq(a, b) => a >= b })
    // thr=0 accepts everything (sigmoid > 0): perfect recall, no TNs;
    // thr>1 rejects everything: zero TPs and the -1 precision sentinel
    val at0 = rep.head; val over1 = rep.last
    assert(at0._2 == nPos && at0._5 == 0L && at0._7 == 1.0)
    assert(over1._2 == 0L && over1._6 == -1.0)
  }

  test("pq training: partition-layout independent, complete coverage, one shuffle") {
    val emb = Tables.embeddings(spark, sf)
    val trained = VectorOps.pqTrain(emb, "vec_id", "embedding",
      m = 4, nCentroids = 8, dim = 64, iters = 2, portablePivots = true)
    val relaid = VectorOps.pqTrain(emb.repartition(7), "vec_id", "embedding",
      m = 4, nCentroids = 8, dim = 64, iters = 2, portablePivots = true)
    assert(trained.orderBy("sub", "cell", "i").collect().toSeq ==
      relaid.orderBy("sub", "cell", "i").collect().toSeq)
    // every subvector assigned exactly once: per (sub, i) counts sum to N
    val n = emb.count()
    val perSubI = trained.groupBy("sub", "i").agg(sum("n").as("tot"))
      .select("tot").distinct().as[Long].collect().toSeq
    assert(perSubI == Seq(n), s"per-(sub,i) coverage $perSubI != $n")
    // the update round is bounded: the broadcast codebook join (plan-
    // stable across rounds — codegen cached, the round-11 perf fix),
    // the (id, sub) argmin agg, and the (sub, cell, i) mean agg; the
    // codebook itself rides a BroadcastExchange, never a shuffle
    val plan = trained.queryExecution.executedPlan.toString
    val hashEx = plan.split("Exchange hashpartitioning").length - 1
    assert(hashEx <= 2, s"expected <=2 keyed update shuffles, got $hashEx")
    assert(plan.contains("BroadcastExchange"),
      "codebook must broadcast (data, not literals)")
    intercept[IllegalArgumentException] {
      VectorOps.pqTrain(emb, "vec_id", "embedding",
        m = 3, nCentroids = 8, dim = 64, iters = 1)
    }
  }

  test("trained PQ codes quantize no worse than the hash-picked codebook") {
    val emb = Tables.embeddings(spark, sf)
    val untrained = VectorOps.pqCodes(emb, "vec_id", "embedding",
      m = 4, nCentroids = 8, dim = 64, portablePivots = true)
      .agg(sum("sq_err")).head().getDouble(0)
    val trained = VectorOps.pqCodesTrained(emb, "vec_id", "embedding",
      m = 4, nCentroids = 8, dim = 64, iters = 2, portablePivots = true)
      .agg(sum("sq_err")).head().getDouble(0)
    // Lloyd monotonicity: total quantization error never increases
    // (6-dp snapping can wiggle the tail, hence the epsilon)
    assert(trained <= untrained + 1e-6,
      s"training worsened total sq_err: $untrained -> $trained")
    // and at this corpus it should be a real improvement, not a tie
    assert(trained < untrained * 0.99,
      s"training gained <1%: $untrained -> $trained")
  }

  test("ivf-pq ADC: dense bounded ranks, non-negative distances, code-only scoring") {
    val emb = Tables.embeddings(spark, sf)
    val ann = VectorOps.ivfPqNearestNeighbors(emb, "vec_id", "embedding",
      nCells = 8, m = 4, nCentroids = 8, dim = 64, k = 3, iters = 2,
      portablePivots = true).cache()
    assert(ann.count() > 0)
    assert(ann.where($"approx_d2" < 0).count() == 0)
    val badRanks = ann.groupBy("id_a")
      .agg(max("rk").as("mx"), count(lit(1)).as("n"))
      .where($"mx" =!= $"n" || $"mx" > 3).count()
    assert(badRanks == 0)
    // ADC candidates come from the same cells as the exact IVF path:
    // every approximate neighbor is a valid exact-path candidate pair
    val exactPairs = VectorOps.ivfNearestNeighbors(emb, "vec_id", "embedding",
      nCells = 8, k = Int.MaxValue, probes = 1, portablePivots = true)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val adcPairs = ann.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(adcPairs.subsetOf(exactPairs), "ADC scored a cross-cell pair")
    ann.unpersist()
  }

  test("ivf-pq rerank: exact distances on the ADC shortlist, recall >= ADC-only") {
    val emb = Tables.embeddings(spark, sf)
    val rer = VectorOps.ivfPqRerankNeighbors(emb, "vec_id", "embedding",
      nCells = 8, m = 4, nCentroids = 8, dim = 64, k = 3, shortlist = 10,
      iters = 2, portablePivots = true).cache()
    // reranked pairs are a subset of the ADC shortlist for the same params
    val sl = VectorOps.ivfPqNearestNeighbors(emb, "vec_id", "embedding",
      nCells = 8, m = 4, nCentroids = 8, dim = 64, k = 10, iters = 2,
      portablePivots = true)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val rp = rer.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(rp.subsetOf(sl), "rerank invented a pair outside the shortlist")
    // exact_d2 matches an independent spark-side exact computation
    val ids = rer.select($"id_a", $"id_b", $"exact_d2")
      .as[(Long, Long, Double)].collect()
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    ids.take(50).foreach { case (a, b, d) =>
      val (va, vb) = (vecs(a), vecs(b))
      val ref = va.indices.map { i =>
        val diff = va(i).toDouble - vb(i).toDouble; diff * diff
      }.sum
      assert(math.abs(d - ref) < 1e-4, s"($a,$b): $d vs $ref")
    }
    // recall vs exact-L2 truth (driver-side, tiny fixture): reranked
    // top-3 must be >= ADC-only top-3 — refinement can only help
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.indices.map { i =>
        val diff = a(i).toDouble - b(i).toDouble; diff * diff
      }.sum
    val truth = vecs.keys.flatMap { a =>
      vecs.keys.filter(_ != a).toSeq
        .sortBy(b => (d2(vecs(a), vecs(b)), b)).take(3).map(a -> _)
    }.toSet
    def recall(pred: Set[(Long, Long)]): Double =
      pred.intersect(truth).size.toDouble / truth.size
    val adc3 = VectorOps.ivfPqNearestNeighbors(emb, "vec_id", "embedding",
      nCells = 8, m = 4, nCentroids = 8, dim = 64, k = 3, iters = 2,
      portablePivots = true)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val rAdc = recall(adc3)
    val rRer = recall(rer.select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet)
    assert(rRer >= rAdc, s"rerank recall $rRer < ADC recall $rAdc")
    rer.unpersist()
  }

  test("kmeans: identical vectors collapse to one surviving cell") {
    // all points choose the lowest cell id (tie-break), the other
    // pivots' cells empty out and drop — standard Lloyd behavior, and
    // the oracle's GROUP BY drops them identically
    val same = Seq.tabulate(4)(i => (i.toLong, Array(1.0f, 2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val out = VectorOps.kmeansTrain(same, "vec_id", "embedding",
      k = 3, iters = 2, portablePivots = true)
      .orderBy("i").collect()
    assert(out.map(_.getLong(0)).distinct.length == 1, "expected one cell")
    assert(out.forall(_.getLong(3) == 4L), "all members in the one cell")
    assert(out.map(_.getDouble(2)).toSeq == Seq(1.0, 2.0, 2.0))
  }

  test("kmeans guard trips past the centroid-literal bound") {
    val emb = Tables.embeddings(spark, sf)
    val e = intercept[IllegalArgumentException] {
      VectorOps.kmeansTrain(emb, "vec_id", "embedding", k = 257, iters = 1)
    }
    assert(e.getMessage.contains("centroid-literal"))
  }

  test("vocab coverage: ratio in [0,1], full-vocab k covers everything") {
    val part = TextOps.vocabCoverage(docs, "doc_id", "text", k = 5)
    assert(part.where($"in_vocab_ratio" < 0 || $"in_vocab_ratio" > 1).count() == 0)
    assert(part.where($"in_vocab_ratio" < 1.0 && $"n_oov_terms" === 0).count() == 0)
    // k >= |vocab| → everything in-vocab, zero OOV
    val full = TextOps.vocabCoverage(docs, "doc_id", "text", k = 100000)
    assert(full.where($"in_vocab_ratio" =!= 1.0 || $"n_oov_terms" =!= 0).count() == 0)
  }

  test("profile: nulls, cardinality, typed min/max per column") {
    import graft.ops.ProfileOps
    val df = Seq((Some(10L), Some("bb")), (None, Some("a")),
      (Some(2L), None), (Some(10L), Some("bb")))
      .toDF("k", "s")
    val rows = ProfileOps.profile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = rows("k")
    assert(k.getLong(1) == 4 && k.getLong(2) == 1 && k.getLong(3) == 2)
    // typed (numeric) min/max — NOT lexicographic: min is 2, not "10"
    assert(k.getString(4) == "2" && k.getString(5) == "10")
    val s = rows("s")
    assert(s.getLong(2) == 1 && s.getLong(3) == 2)
    assert(s.getString(4) == "a" && s.getString(5) == "bb")
    // avg_len over non-null renderings: ("2","10","10") → 5/3
    assert(math.abs(k.getDouble(6) - 5.0 / 3) < 1e-6)
  }

  test("bounded intersect kernels are filter-equivalent to the exact ones") {
    // r18 verify optimization: the early-exit kernels must (a) return
    // the EXACT count whenever the pair clears the threshold and
    // (b) return a below-threshold count whenever it cannot — so the
    // downstream `>= t` filter emits identical rows. Exercised across
    // thresholds over every doc pair of the spec corpus.
    import graft.functions.ArrayKernels
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arrs = docs.select(
        array_sort(array_distinct(TextOps.tokens($"text"))).as("ts"))
      .as[Seq[String]].collect()
      .map(s => new GenericArrayData(
        s.map(x => UTF8String.fromString(x)).toArray[Any]))
    val longs = arrs.map(a => new GenericArrayData(
      (0 until a.numElements()).map(i =>
        java.lang.Long.valueOf(a.getUTF8String(i).hashCode.toLong))
        .sorted.toArray[Any]))
    for (t <- Seq(0.3, 0.7, 0.9, 1.0); i <- arrs.indices;
         j <- arrs.indices if i < j) {
      val (a, b) = (arrs(i), arrs(j))
      val exact = ArrayKernels.intersectCountStr(a, b)
      val bounded = ArrayKernels.intersectCountStrJaccard(a, b, t)
      val s = a.numElements().toLong + b.numElements()
      def jac(c: Long) = if (s - c == 0) Double.NaN else c.toDouble / (s - c)
      if (jac(exact) >= t) assert(bounded == exact, s"t=$t i=$i j=$j")
      else assert(!(jac(bounded) >= t), s"t=$t i=$i j=$j leak")
      val (la, lb) = (longs(i), longs(j))
      val exactL = ArrayKernels.intersectCountLong(la, lb)
      val boundedL = ArrayKernels.intersectCountLongContain(la, lb, t)
      val na = la.numElements().toLong
      def con(c: Long) = if (na == 0) Double.NaN else c.toDouble / na
      if (con(exactL) >= t) assert(boundedL == exactL, s"t=$t i=$i j=$j L")
      else assert(!(con(boundedL) >= t), s"t=$t i=$i j=$j leakL")
    }
  }

  test("prefixJaccardPairs: bit-identical to the quadratic exact join") {
    // lossless prefix filter: same pairs, same n_common, same jaccard
    // bits — including any ceil(t*n)-integral docs the epsilon guards
    val t = 0.9
    val full = TextOps.jaccardPairs(docs, "doc_id", "text", t)
      .orderBy("id_a", "id_b").collect()
    val pref = TextOps.prefixJaccardPairs(docs, "doc_id", "text", t)
      .orderBy("id_a", "id_b").collect()
    assert(pref.toSeq == full.toSeq,
      s"prefix-filtered join diverged: ${pref.length} vs ${full.length} rows")
    assert(full.nonEmpty, "fixture must produce pairs")
    // and the filter actually filters: UNVERIFIED candidate volume
    // must be well under the full posting-list join's
    val toks = docs.select($"doc_id",
      explode(array_distinct(TextOps.tokens($"text"))).as("tok"))
    val fullCands = toks.toDF("a", "tok").join(toks.toDF("b", "tok"), "tok")
      .where($"a" < $"b").select("a", "b").distinct().count()
    val prefCands =
      TextOps.prefixJaccardStages(docs, "doc_id", "text", t)._2.count()
    info(s"prefix candidates $prefCands vs full-join candidates $fullCands" +
      s" (verified pairs ${pref.length})")
    assert(prefCands < fullCands / 2,
      s"prefix filter must prune: $prefCands vs $fullCands")
    assert(prefCands >= pref.length, "every emitted pair was a candidate")
  }

  test("tokenEntropy: uniform=ln(k), constant=+0.0, order-invariant") {
    val df = Seq(
      ("a b c d", math.log(4)),        // 4 distinct, uniform → ln 4
      ("a a a a", 0.0),                // single distinct token → 0
      ("a a b b", math.log(2)),        // 2 runs of 2 → ln 2
      ("b a b a", math.log(2)))        // same multiset, shuffled order
      .toDF("text", "want")
    val got = df.select(TextOps.tokenEntropy($"text").as("e"), $"want")
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6, r.toString) }
    // the constant doc must emit +0.0, never -0.0 (engines render the
    // two differently; the kernel subtracts from 0.0 to normalize)
    val zero = df.where($"text" === "a a a a")
      .select(TextOps.tokenEntropy($"text")).as[Double].head()
    assert(java.lang.Double.doubleToRawLongBits(zero) == 0L, s"got $zero")
  }

  test("hllOverlap: inclusion-exclusion tracks true overlap") {
    import graft.ops.SketchOps
    // two slices over a shared key space: A = [0, 1400), B = [700, 2100)
    // → |A|=|B|=1400, |A∩B|=700, |A∪B|=2100; all ≥ 2.5·m at p=7 ✓
    val rows = (0L until 1400L).map(k => (k, "A")) ++
      (700L until 2100L).map(k => (k, "B"))
    val df = rows.toDF("k", "slice")
    val r = SketchOps.hllOverlap(df, "slice", "k", p = 7).collect()
    assert(r.length == 1)
    val (estA, estB, estU, estC) =
      (r(0).getDouble(2), r(0).getDouble(3), r(0).getDouble(4), r(0).getDouble(5))
    // stderr ≈ 1.04/√128 ≈ 9.2%; intersection inherits both sketches'
    // error — accept 3σ on the singles/union, a loose 0.5× on ∩
    assert(math.abs(estA - 1400) < 1400 * 0.28, s"est_a=$estA")
    assert(math.abs(estB - 1400) < 1400 * 0.28, s"est_b=$estB")
    assert(math.abs(estU - 2100) < 2100 * 0.28, s"est_union=$estU")
    assert(math.abs(estC - 700) < 700 * 0.75, s"est_common=$estC")
    // identity: est_common is exactly the inclusion-exclusion fold
    assert(math.abs(estC - (estA + estB - estU)) < 1e-3)
  }

  test("sourceOverlap: pair counts and jaccard from distinct fp sets") {
    // fp sets: A={x,y,z}, B={x,y}, C={q}; duplicate (x,A) row must
    // collapse before counting
    val df = Seq(("x", "A"), ("x", "A"), ("y", "A"), ("z", "A"),
      ("x", "B"), ("y", "B"), ("q", "C")).toDF("fp", "src")
    val got = TextOps.sourceOverlap(df, $"fp", "src")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(("A", "B"))) // C shares nothing
    val (n, j) = got(("A", "B"))
    assert(n == 2 && math.abs(j - 2.0 / 3) < 1e-6) // |∩|=2, |∪|=3
  }

  test("sorted-intersect kernels equal array_intersect counts (str + long)") {
    import graft.functions.{ArrayKernels, PortableSketches}
    val arrs = docs.limit(40).select($"doc_id",
      array_sort(array_distinct(split($"text", " "))).as("ts"))
    val pairs = arrs.toDF("a", "ta").crossJoin(arrs.toDF("b", "tb"))
      .where($"a" < $"b")
    assert(pairs.where(
      ArrayKernels.sortedIntersectCountStr($"ta", $"tb") =!=
        size(array_intersect($"ta", $"tb")).cast("long")).count() == 0)
    val sh = docs.limit(40).select($"doc_id",
      sort_array(PortableSketches.ngramHashes60($"text", 3)).as("sh"))
    val p2 = sh.toDF("a", "sa").crossJoin(sh.toDF("b", "sb"))
      .where($"a" < $"b")
    assert(p2.where(
      ArrayKernels.sortedIntersectCountLong($"sa", $"sb") =!=
        size(array_intersect($"sa", $"sb")).cast("long")).count() == 0)
    // disjoint and empty edges
    val e = Seq((Seq("a", "b"), Seq[String]()), (Seq("a"), Seq("b")))
      .toDF("x", "y")
    assert(e.select(ArrayKernels.sortedIntersectCountStr($"x", $"y"))
      .as[Long].collect().toSeq == Seq(0L, 0L))
  }

  test("tokenEntropy kernel is bit-identical to the declarative fold") {
    // corpus parity (real token distributions, every doc)
    val corpus = docs.select(
      TextOps.tokenEntropy($"text").as("k"),
      TextOps.tokenEntropyFold($"text").as("f"))
    assert(corpus.where($"k" =!= $"f" ||
      $"k".isNull =!= $"f".isNull).count() == 0)
    // crafted edges: single token (the -0.0 normalization), all-same,
    // all-distinct, repeated runs, empty string
    val onFix = Seq("a", "a a a a", "a b c d", "a a b b b c", "",
      "z y x z y z").toDF("text")
      .select(TextOps.tokenEntropy($"text").as("k"),
        TextOps.tokenEntropyFold($"text").as("f"))
      .as[(Double, Double)].collect()
    assert(onFix.forall { case (k, f) =>
      java.lang.Double.doubleToRawLongBits(k) ==
        java.lang.Double.doubleToRawLongBits(f) }, onFix.toSeq.toString)
    // single-distinct docs must land on +0.0, never -0.0
    assert(onFix.take(2).forall(p =>
      java.lang.Double.doubleToRawLongBits(p._1) == 0L))
  }

  test("c4Clean: every line rule and doc gate on a crafted multi-line fixture") {
    val fix = Seq(
      (1L, "This line is properly terminated.\nshort.\n" +
        "no terminal punctuation here\nAnother good line stays here!"),
      (2L, "Mentions javascript so it goes away.\n" +
        "But this line survives just fine."),
      (3L, "Contains lorem ipsum filler text here.\n" +
        "A perfectly fine line otherwise."),
      (4L, "Code leak { int x = 0; } here.\nA perfectly fine line otherwise."),
      (5L, "no lines pass this one")).toDF("doc_id", "text")
    val out = TextOps.c4Clean(fix, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Int, Int, Int, String)].collect().toSeq
    assert(out == Seq(
      // terminal-punct + min-words rules: "short." (1 word) and the
      // unterminated line drop, the two real sentences survive
      (1L, 4, 2, 1, "This line is properly terminated.\n" +
        "Another good line stays here!"),
      // javascript line drops, doc survives on the other line
      (2L, 2, 1, 1, "But this line survives just fine."),
      // lorem-ipsum doc gate: lines pass individually, doc still drops
      (3L, 2, 2, 0, ""),
      // curly-brace doc gate
      (4L, 2, 2, 0, ""),
      // no surviving line -> min-lines gate
      (5L, 1, 0, 0, "")), out.toString)
    // the paper's >=-N-lines page gate: raising minKeptLines to 2
    // drops doc 2 (one surviving line) but keeps doc 1 (two)
    val strict = TextOps.c4Clean(fix, "doc_id", "text", minKeptLines = 2)
      .where($"doc_kept" === 1).select($"id").as[Long].collect().toSet
    assert(strict == Set(1L), strict.toString)
  }

  test("dsirWeights: target-slice docs outscore off-target; grams = 2n-1") {
    val fix = Seq(
      (1L, "en", "alpha beta alpha beta alpha"),
      (2L, "en", "alpha beta gamma alpha beta"),
      (3L, "fr", "delta epsilon zeta delta epsilon"),
      (4L, "fr", "delta zeta epsilon delta zeta")).toDF("doc_id", "lang", "text")
    val out = TextOps.dsirWeights(fix, "doc_id", "text", $"lang" === "en")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    // 5 unigrams + 4 bigrams per doc
    assert(out.forall(_._2 == 9L), out.toString)
    val byId = out.map(r => r._1 -> r._3).toMap
    // disjoint vocabularies: both target docs must outscore both
    // off-target docs under the target-vs-raw likelihood ratio
    assert(math.min(byId(1L), byId(2L)) > math.max(byId(3L), byId(4L)),
      byId.toString)
  }

  test("semanticDecontaminate: nCells=1 equals the brute-force cross-set filter") {
    import graft.functions.PortableHash
    val emb = Tables.embeddings(spark, sf)
    val got = VectorOps.semanticDecontaminate(emb, "vec_id", "embedding",
      evalMod = 20, nCells = 1, threshold = 0.4, probes = 1,
      portablePivots = true)
      .select($"id", $"n_eval_hits", $"eval_id")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val isEval = PortableHash.mdHash60($"vec_id".cast("string")) % 20 === 0
    val ev = emb.where(isEval)
      .select($"vec_id".as("eval_id"), $"embedding".as("ve"))
    val bf = emb.where(!isEval)
      .crossJoin(ev)
      .select($"vec_id",
        VectorOps.cosine($"embedding", $"ve").as("cos"), $"eval_id")
      .where($"cos" >= 0.4)
      .groupBy($"vec_id")
      .agg(countDistinct($"eval_id").as("n"),
        max(struct($"cos", (-$"eval_id").as("neg"))).as("t"))
      .select($"vec_id", $"n", (-$"t.neg").as("eval_id"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.nonEmpty, "fixture should flag at least one vector")
    assert(got == bf, s"got=${got.take(5)} bf=${bf.take(5)}")
  }

  test("resampleEvents: gaps are zero rows; actives and sums survive") {
    import graft.ops.EventOps
    // u1: buckets 0, 3 (gap 1-2); u2: bucket 5 only (no gaps)
    val ev = Seq(
      (1L, 10L, 1.25), (1L, 20L, 2.00), (1L, 3L * 3600L + 30L, 4.50),
      (2L, 5L * 3600L + 1L, 7.75)).toDF("user_id", "ts_sec", "value")
    val out = EventOps.resampleEvents(ev, "user_id", "ts_sec", "value", 3600L)
      .orderBy("user_id", "bucket")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 2L, 3.25), (1L, 1L, 0L, 0.0), (1L, 2L, 0L, 0.0),
      (1L, 3L, 1L, 4.5), (2L, 5L, 1L, 7.75)), out.toString)
  }

  test("attributedRevenue: last touch within window wins; out-of-window is (none)") {
    import graft.ops.EventOps
    val ev = Seq(
      // u1: view@10, click@20, purchase@30 → click (last touch)
      (1L, "view", 10L, 1L, 0.0), (1L, "click", 20L, 2L, 0.0),
      (1L, "purchase", 30L, 3L, 10.00),
      // u2: click@0, purchase@1000000 → outside 24h window → (none)
      (2L, "click", 0L, 4L, 0.0), (2L, "purchase", 1000000L, 5L, 5.00),
      // u3: purchase with no touches at all → (none)
      (3L, "purchase", 50L, 6L, 2.50),
      // u4: view@40, purchase@40 (same second) → view attributed
      (4L, "view", 40L, 7L, 0.0), (4L, "purchase", 40L, 8L, 1.00)
    ).toDF("user_id", "event_type", "ts_sec", "event_id", "value")
    val out = EventOps.attributedRevenue(ev, "user_id", "event_type",
      "ts_sec", "event_id", "value", "purchase", Seq("click", "view"), 86400L)
      .orderBy("channel")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("(none)", 2L, 7.5), ("click", 1L, 10.0), ("view", 1L, 1.0)),
      out.toString)
  }

  test("gopherQualityGates: each rule trips independently on crafted docs") {
    val fix = Seq(
      // passes everything (12 words, the+a stopwords, alpha, no symbols)
      (1L, "the quick brown fox jumps over a lazy dog near the river"),
      // too few words
      (2L, "the a tiny doc"),
      // symbol-heavy: > 10% of words contain # or ...
      (3L, "the a alpha #tag beta #x gamma delta... epsilon zeta eta theta"),
      // numeric words: alpha ratio below 0.8
      (4L, "the a 11 22 33 44 55 66 77 88 99 00"),
      // no stopwords
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val out = TextOps.gopherQualityGates(fix, "doc_id", "text",
        Seq("the", "a", "of", "to"))
      .orderBy("id")
      .select($"id", $"ok_words", $"ok_symbols", $"ok_alpha",
        $"ok_stopwords", $"keep")
      .as[(Long, Int, Int, Int, Int, Int)].collect().toSeq
    assert(out == Seq(
      (1L, 1, 1, 1, 1, 1),
      (2L, 0, 1, 1, 1, 0),
      (3L, 1, 0, 1, 1, 0),
      (4L, 1, 1, 0, 1, 0),
      (5L, 1, 1, 1, 0, 0)), out.toString)
  }

  test("cohortRetention: offset-0 is the cohort size; crafted matrix matches") {
    import graft.ops.EventOps
    val ev = Seq(
      (1L, 10L), (1L, 86400L + 5L),
      (2L, 20L), (2L, 2L * 86400L + 7L),
      (3L, 86400L + 100L)).toDF("user_id", "ts_sec")
    val out = EventOps.cohortRetention(ev, "user_id", "ts_sec", 86400L)
      .orderBy("cohort_period", "period_offset")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 2L, 2L, 1.0),  // u1, u2 cohorted day 0
      (0L, 1L, 1L, 2L, 0.5),  // u1 back on day 1
      (0L, 2L, 1L, 2L, 0.5),  // u2 back on day 2
      (1L, 0L, 1L, 1L, 1.0)), // u3 cohorted day 1
      out.toString)
  }

  test("ngramNovelty: fresh doc 1.0, exact dup 0.0, partial overlap fractional") {
    val docs = Seq(
      (1L, "a b c"), //  bigrams {ab, bc} — both first here
      (2L, "a b c"), //  exact dup → nothing novel
      (3L, "b c d") //   {bc (seen in 1), cd (new)} → 0.5
    ).toDF("doc_id", "text")
    val got = TextOps.ngramNovelty(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0),
      (3L, 2L, 1L, 0.5)), got.toString)
    // doc shorter than n tokens has no n-grams and drops out
    val tiny = Seq((1L, "only")).toDF("doc_id", "text")
    assert(TextOps.ngramNovelty(tiny, "doc_id", "text", n = 2).count() == 0)
  }

  test("labelCentroidDrift: identical labels cos 1, orthogonal labels cos 0") {
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 0), // label 0 → (1,0)
      (3L, Array(0f, 1f), 1), //                          label 1 → (0,1)
      (4L, Array(1f, 0f), 2) //                           label 2 → (1,0)
    ).toDF("vec_id", "embedding", "label")
    val got = VectorOps.labelCentroidDrift(vecs, "embedding", "label")
      .as[(Int, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(got((0, 1))) < 1e-9, got.toString) // orthogonal
    assert(math.abs(got((0, 2)) - 1.0) < 1e-9) //          identical
    assert(math.abs(got((1, 2))) < 1e-9)
  }

  test("snapshotDiff: all four statuses on a crafted version pair") {
    import graft.ops.ProfileOps
    val v1 = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, "new"), (4L, "fresh")).toDF("doc_id", "text")
    val got = ProfileOps.snapshotDiff(v1, v2, "doc_id", "text")
      .select($"id", $"status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), got.toString)
  }

  test("liftTable: positives concentrate in top buckets; mass conserved") {
    import graft.ops.LearnOps
    // 400 rows, scores 0..399; positives iff score >= 300 (top quarter)
    val rows = (0 until 400).map(i => (i.toLong, if (i >= 300) 1 else 0))
      .toDF("score", "y")
    val got = LearnOps.liftTable(rows, $"score", $"y", nBuckets = 4)
      .orderBy("bucket")
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    assert(got.map(_._2).sum == 400L) // every row in exactly one bucket
    assert(got.map(_._3).sum == 100L) // all positives accounted for
    val byBucket = got.map(g => g._1 -> g).toMap
    // top bucket: all positive (sketch borders are approximate but the
    // label boundary coincides with the p75 cut region: lift ≈ 4)
    assert(byBucket(3)._5 > 3.0, got.toString)
    assert(byBucket(0)._3 == 0L && byBucket(0)._5 == 0.0)
    // weighted bucket rates recompose to the base rate
    val base = got.map(g => g._4 * g._2).sum / 400.0
    assert(math.abs(base - 0.25) < 1e-12)
  }

  test("transitionMatrix: session gap splits pairs; probabilities sum to 1 per source") {
    import graft.ops.EventOps
    // u1: a->b->a within gap, then a BIG gap, then b->c
    // u2: a->b within gap
    val ev = Seq(
      (1L, "a", 100L, 1L), (1L, "b", 200L, 2L), (1L, "a", 300L, 3L),
      (1L, "b", 99999L, 4L), (1L, "c", 99999L + 10L, 5L),
      (2L, "a", 50L, 6L), (2L, "b", 60L, 7L)
    ).toDF("user_id", "event_type", "ts_sec", "event_id")
    val got = EventOps.transitionMatrix(ev, "user_id", "event_type",
      "ts_sec", "event_id", gapSeconds = 1000L)
      .orderBy("prev_type", "next_type")
      .as[(String, String, Long, Double)].collect().toSeq
    // pairs: a->b (u1 100->200, u2 50->60), b->a (u1 200->300),
    // b->c (u1 99999->100009); a->b at the 99699-gap is DROPPED
    assert(got == Seq(("a", "b", 2L, 1.0), ("b", "a", 1L, 0.5),
      ("b", "c", 1L, 0.5)), got.toString)
    // per-source probabilities sum to 1
    got.groupBy(_._1).values.foreach(rows =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12))
  }

  test("ngramNoveltyIncremental equals full novelty restricted to the increment") {
    // when every history id < every increment id, first-occurrence
    // order in the FULL corpus coincides with (history membership +
    // within-increment order) — the incremental contract
    val hist = Seq((1L, "a b c d"), (2L, "c d e f")).toDF("doc_id", "text")
    val inc = Seq((10L, "a b c x"), (11L, "a b c x"), (12L, "p q r s"))
      .toDF("doc_id", "text")
    val got = TextOps.ngramNoveltyIncremental(inc, hist, "doc_id", "text", n = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val full = TextOps.ngramNovelty(hist.union(inc), "doc_id", "text", n = 2)
      .where($"doc_id" >= 10L)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == full, s"inc=$got full=$full")
    // fresh doc scores 1.0, its exact dup 0.0
    assert(got.find(_._1 == 12L).get._4 == 1.0)
    assert(got.find(_._1 == 11L).get._4 == 0.0)
  }

  test("lexicalDiversity: counts, hapax, TTR and Guiraud on a known doc") {
    val docs = Seq((1L, "a a b c"), (2L, "x x x x")).toDF("doc_id", "text")
    val got = TextOps.lexicalDiversity(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got(0) == ((1L, 4L, 3L, 2L, 0.75, 3.0 / 2.0)), got(0).toString)
    assert(got(1) == ((2L, 4L, 1L, 0L, 0.25, 0.5)), got(1).toString)
  }

  test("termBurstiness: hand-computed cf/df/burst/vmr; minCf prunes") {
    val docs = Seq((1L, "x x x x"), (2L, "x y"), (3L, "y"))
      .toDF("doc_id", "text")
    val got = TextOps.termBurstiness(docs, "doc_id", "text", minCf = 1L)
      .orderBy("tok")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    // x: counts (4,1) → cf=5, df=2, burst=2.5, var=17/2−6.25=2.25, vmr=0.9
    // y: counts (1,1) → burst=1, vmr=0
    assert(got == Seq(("x", 5L, 2L, 2.5, 0.9), ("y", 2L, 2L, 1.0, 0.0)),
      got.toString)
    assert(TextOps.termBurstiness(docs, "doc_id", "text", minCf = 3L)
      .count() == 1)
  }

  test("lshTuner: budget factorizations, S-curve endpoints, known threshold") {
    val t = TextOps.lshTuner(spark, numHashes = 16)
      .as[(Int, Int, Double, Double, Double)].collect()
    assert(t.forall { case (b, r, _, _, _) => b * r == 16 })
    assert(t.length == 5 * 19)
    // b=1: p = s^r exactly; r=1: p = 1-(1-s)^b
    t.filter(_._1 == 1).foreach { case (_, r, _, s, p) =>
      assert(math.abs(p - math.pow(s, r)) < 1e-6, s"s=$s p=$p") }
    // p monotone nondecreasing in s within each curve
    t.groupBy(x => (x._1, x._2)).values.foreach { curve =>
      val ps = curve.sortBy(_._4).map(_._5)
      assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
    }
    // (4,4): t* = (1/4)^(1/4) ≈ 0.707107
    val t44 = t.find(x => x._1 == 4 && x._2 == 4).get._3
    assert(math.abs(t44 - 0.707107) < 1e-6, t44.toString)
  }

  test("MIPS ranks by raw dot product where cosine would rank otherwise") {
    // query 1=[1,0]: dot favors the long vector 3=[5,5] (5 > 0.9),
    // cosine favors the aligned short one 2=[.9,.1] (0.99 > 0.71)
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(5f, 5f))
    ).toDF("vec_id", "embedding")
    val mips = VectorOps.mipsBruteForceKernel(vecs, vecs, "vec_id", "embedding", 1)
      .where($"id_a" === 1L).select($"id_b").as[Long].head()
    val cos = VectorOps.knnBruteForceKernel(vecs, vecs, "vec_id", "embedding", 1)
      .where($"id_a" === 1L).select($"id_b").as[Long].head()
    assert(mips == 3L && cos == 2L, s"mips=$mips cos=$cos")
  }

  test("mmrRerank: diversity-heavy lambda skips the near-duplicate of the first pick") {
    // q points at a; b is a's near-duplicate; c is distinct but less
    // relevant. Pure relevance would rank (a, b, c); MMR at λ=0.3
    // must pick c before b.
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),          // the query vector
      (1L, Array(1.0f, 0.01f)),         // a: most relevant
      (2L, Array(1.0f, 0.011f)),        // b: a's near-dup
      (3L, Array(0.7f, 0.7f))           // c: distinct, less relevant
    ).toDF("vec_id", "embedding")
    val out = VectorOps.mmrRerank(e.where($"vec_id" === 0), e,
        "vec_id", "embedding", kCand = 3, kSelect = 3, lambda = 0.3)
      .orderBy("mmr_rank")
      .select("mmr_rank", "vec_id").as[(Int, Long)].collect()
    assert(out.toSeq == Seq((1, 1L), (2, 3L), (3, 2L)), out.mkString(","))
  }

  test("tripletMine: hardest positive/negative with margin flag; singleton labels drop") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),   // near 1, same label
      (3L, Array(0.0f, 1.0f), 0),   // far from 1, same label → its hardest positive
      (4L, Array(1.0f, 0.05f), 1),  // very close to 1, other label → hard negative
      (5L, Array(0.5f, 0.5f), 2)    // singleton label → dropped as anchor
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.tripletMine(e, "vec_id", "embedding", "label",
        margin = 0.05)
      .orderBy("id_a")
      .select("id_a", "id_pos", "id_neg", "violation")
      .as[(Long, Long, Long, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // anchor 1: hardest positive is the orthogonal 3, hardest negative
    // the nearly-parallel 4 — cos(neg) ≈ 1 ≫ cos(pos) ≈ 0 → violation
    assert(byId(1L) == ((1L, 3L, 4L, true)), byId(1L).toString)
    // BOTH singleton-label vectors (4 and 5) drop as anchors — no
    // positive exists for them; only the three label-0 anchors remain
    assert(!byId.contains(4L) && !byId.contains(5L))
    assert(out.length == 3, out.mkString(","))
  }

  test("s30 calibration: per-dim quantization error bounded by half a step") {
    val rows = SparkEntry.queries("s30_sq8_calibration")(spark, sf)
      .select("lo", "hi", "mse", "max_abs_err")
      .as[(Double, Double, Double, Double)].collect()
    assert(rows.length == 64)
    rows.foreach { case (lo, hi, mse, mx) =>
      val halfStep = (hi - lo) / 255.0 / 2.0
      // in-range values err at most half a step; clipped outliers can
      // exceed it only via the p01/p99 clip itself
      assert(mse >= 0 && mx >= 0)
      assert(mse <= math.max(halfStep * halfStep, mx * mx) + 1e-12)
    }
  }

  test("s34 recall curve: recall well-formed at every cutoff, hits monotone in k") {
    val rows = SparkEntry.queries("s34_recall_curve")(spark, sf)
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq(1, 3, 5))
    rows.foreach { case (k, nq, hits, rec) =>
      assert(hits >= 0 && hits <= nq * k)
      // rec is snapped to 6 dp in the query output
      assert(math.abs(rec - hits.toDouble / (nq * k)) < 5e-7)
    }
    // matched pairs can only accumulate as the cutoff widens
    assert(rows(0)._3 <= rows(1)._3 && rows(1)._3 <= rows(2)._3)
  }

  test("readability: hand-computed Flesch on a fixed sentence") {
    // "the cat sat." → 3 words, 1 sentence, 3 syllables (1 each)
    // ease = 206.835 - 1.015*3 - 84.6*1 = 119.19
    // grade = 0.39*3 + 11.8*1 - 15.59 = -2.62
    val df = Seq((1L, "the cat sat."), (2L, "incomprehensibilities abound today."))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id" +:
        TextOps.readabilityColumns($"text").map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(out(0) == ((1L, 3L, 1L, 3L, 119.19, -2.62)), out(0).toString)
    // "incomprehensibilities"=8 vowel groups (i-o-e-e-i-i-i-ie), "abound"=2 (a-ou),
    // "today."=2 (o-ay) → 12 syllables / 3 words / 1 sentence
    assert(out(1)._4 == 12L, out(1).toString)
    // more syllables per word → lower ease, higher grade
    assert(out(1)._5 < out(0)._5 && out(1)._6 > out(0)._6)
  }

  test("encodingQa: flags replacement/control chars and non-ascii ratio") {
    val df = Seq(
      (1L, "plain ascii text"),
      (2L, "bad � decode"),
      (3L, "ctrl\u0001char"),
      (4L, "café résumé")).toDF("doc_id", "text")
    val out = df.select($"doc_id" +:
        TextOps.encodingQaColumns($"text").map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Double, Boolean)].collect()
    assert(out(0) == ((1L, 16L, 0L, 0L, 0L, 0.0, false)), out(0).toString)
    assert(out(1)._4 == 1L && out(1)._7, out(1).toString) // replacement → suspect
    assert(out(2)._5 == 1L && out(2)._7, out(2).toString) // control → suspect
    assert(out(3)._3 == 3L && !out(3)._7, out(3).toString) // accents alone: fine
  }

  test("principalComponent: unit loadings, share in (0,1], finds the dominant axis") {
    val vecs = Seq(
      (1L, Array(3f, 0.1f, 0f, 0f)), (2L, Array(2.5f, -0.2f, 0.1f, 0f)),
      (3L, Array(-2.8f, 0.1f, 0f, 0.1f)), (4L, Array(3.2f, 0f, -0.1f, 0f)),
      (5L, Array(0.1f, 0.3f, 0.1f, 0.1f))
    ).toDF("vec_id", "embedding")
    val pc = VectorOps.principalComponent(vecs, "vec_id", "embedding",
      dim = 4, iters = 3)
      .orderBy("i").as[(Int, Double, Double, Double)].collect()
    assert(pc.length == 4)
    val norm = math.sqrt(pc.map(r => r._2 * r._2).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"loadings norm $norm")
    val share = pc.head._4
    assert(share > 0.0 && share <= 1.0, s"share $share")
    // nearly all mass lies along axis 1: its loading dominates
    assert(math.abs(pc.head._2) > 0.95, pc.map(_._2).mkString(","))
    assert(share > 0.9, s"dominant axis must explain >90%: $share")
    // rerun-stable (snapped rounds make the whole iteration replayable)
    val again = VectorOps.principalComponent(vecs, "vec_id", "embedding",
      dim = 4, iters = 3).orderBy("i")
      .as[(Int, Double, Double, Double)].collect()
    assert(pc.sameElements(again))
  }

  test("fuzzyKeyPairs: edit-distance verify inside blocks only") {
    val df = Seq(
      (1L, "smith john"), (2L, "smith jon"),   // distance 1, same block
      (3L, "smith jane"), (4L, "smyth john"),  // 4 blocks away from 1-3
      (5L, "doe a")).toDF("id", "name")
    val out = TextOps.fuzzyKeyPairs(df, "id", $"name",
        blockKey = substring($"name", 1, 4), maxDistance = 2)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, String, String, Int)].collect().toSeq
    // (1,2) d=1 and (2,3) d=2 match; (1,3) d=3 exceeds; 4 is in block
    // "smyt" so its d=1 pair with 1 is never even compared (blocking
    // recall loss — the documented trade)
    assert(out == Seq((1L, 2L, "smith john", "smith jon", 1),
      (2L, 3L, "smith jon", "smith jane", 2)), out.toString)
  }

  test("sentenceChunks: boundaries only between sentences, budget respected") {
    val df = Seq(
      // 3 sentences of 4/4/3 tokens; budget 8: [s1 s2][s3]
      (1L, "a b c one. d e f two. g h three."),
      (2L, "no terminal punctuation here at all")
    ).toDF("doc_id", "text")
    val out = TextOps.sentenceChunks(df, "doc_id", "text", tokenBudget = 8)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 2L, 8L, "a b c one. d e f two."),
      (1L, 1L, 1L, 3L, "g h three."),
      (2L, 0L, 1L, 6L, "no terminal punctuation here at all")), out.toString)
    // a sentence never splits: every chunk_text ends where a sentence does
    assert(out.forall { case (_, _, _, _, t) =>
      t.endsWith(".") || !t.contains(".")
    })
  }

  test("invertedIndex: tf, sorted positions, doc_freq on a crafted corpus") {
    val df = Seq(
      (1L, "a b a c"),
      (2L, "b b"),
      (3L, "a")).toDF("doc_id", "text")
    val out = TextOps.invertedIndex(df, "doc_id", "text")
      .orderBy("term", "doc_id")
      .as[(String, Long, Long, String, Long)].collect().toSeq
    assert(out == Seq(
      ("a", 1L, 2L, "1,3", 2L),
      ("a", 3L, 1L, "1", 2L),
      ("b", 1L, 1L, "2", 2L),
      ("b", 2L, 2L, "1,2", 2L),
      ("c", 1L, 1L, "4", 1L)), out.toString)
  }

  test("removeTopComponent: Pythagoras closes — proj² + residual² = ‖x‖²") {
    val emb = Tables.embeddings(spark, sf)
    val out = VectorOps.removeTopComponent(emb, "vec_id", "embedding",
      dim = 64, iters = 2)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val norms = emb.select($"vec_id",
        sqrt(aggregate(transform($"embedding",
          x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, b) => a + b)).as("n"))
      .as[(Long, Double)].collect().toMap
    // residual ⊥ v ⇒ proj² + resid² ≈ ‖x‖² (snap tolerance only)
    norms.foreach { case (id, n) =>
      val (p, r) = out(id)
      assert(math.abs(p * p + r * r - n * n) < 1e-2,
        s"vec $id: $p² + $r² vs $n²")
    }
    // the top direction explains real mass: mean |proj| well above 0
    val meanAbs = out.values.map(v => math.abs(v._1)).sum / out.size
    assert(meanAbs > 0.01, s"mean |proj| $meanAbs")
  }

  test("blocklistColumns: whole-token case-folded hits, rate threshold") {
    val df = Seq(
      (1L, "clean text here"),
      (2L, "SLOW query and slow scan"),          // 2 hits / 5 tokens
      (3L, "slowness is not a hit"),             // substring must NOT match
      (4L, "dup dup dup")).toDF("doc_id", "text")
    val out = df.select($"doc_id" +:
        TextOps.blocklistColumns($"text", Seq("slow", "dup"), maxRate = 0.5)
          .map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(out(0) == ((1L, 3L, 0L, 0.0, false)), out(0).toString)
    assert(out(1) == ((2L, 5L, 2L, 0.4, false)), out(1).toString)
    assert(out(2)._3 == 0L, out(2).toString)
    assert(out(3) == ((4L, 3L, 3L, 1.0, true)), out(3).toString)
  }

  test("duplicatedWindowFraction: copied window flagged, unique doc zero") {
    val shared = (1 to 8).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, shared + " extra tail tokens here now"), // 13 tokens → 6 windows
      (2L, shared),                                  // exactly 1 window
      (3L, "a b c d e f g h i j"),                   // unique, 3 windows
      (4L, "too short")                              // < 8 tokens: excluded
    ).toDF("doc_id", "text")
    val out = TextOps.duplicatedWindowFraction(df, "doc_id", "text", n = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._1).sameElements(Array(1L, 2L, 3L))) // doc 4 dropped
    assert(out(0)._2 == 6L && out(0)._3 == 1L, out(0).toString)
    assert(out(1) == ((2L, 1L, 1L, 1.0)), out(1).toString)
    assert(out(2) == ((3L, 3L, 0L, 0.0)), out(2).toString)
  }
}
