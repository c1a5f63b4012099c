package graft

import org.apache.spark.sql.functions._

import graft.ops.SampleOps

class SampleOpsSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val events = Tables.events(spark, sf)

  test("sampleByHash: deterministic, append-stable, near-target fraction") {
    val s1 = SampleOps.sampleByHash(events, "event_id", 0.2)
      .select("event_id").as[Long].collect().toSet
    val s2 = SampleOps.sampleByHash(events, "event_id", 0.2)
      .select("event_id").as[Long].collect().toSet
    assert(s1 == s2) // rerun-stable
    // append-stability: sampling a subset keeps exactly the ids that
    // the full-data sample kept (a row's fate never depends on others)
    val sub = SampleOps.sampleByHash(events.limit(2000), "event_id", 0.2)
      .select("event_id").as[Long].collect().toSet
    assert(sub.subsetOf(s1))
    val frac = s1.size.toDouble / events.count()
    assert(frac > 0.15 && frac < 0.25, s"fraction $frac")
    // different salt → different sample
    val salted = SampleOps.sampleByHash(events, "event_id", 0.2, salt = "v2")
      .select("event_id").as[Long].collect().toSet
    assert(salted != s1)
  }

  test("hashSplit: partition of the data, near the weights, no leaks") {
    val split = SampleOps.hashSplit(events, "event_id",
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0)).cache()
    assert(split.count() == events.count())
    val counts = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val n = events.count().toDouble
    assert(math.abs(counts("train") / n - 0.8) < 0.03)
    assert(math.abs(counts("val") / n - 0.1) < 0.02)
    assert(math.abs(counts("test") / n - 0.1) < 0.02)
    split.unpersist()
  }

  test("stratifiedExactSplit: exact per-stratum proportions, rerun-stable") {
    val docs = Tables.documents(spark, sf)
    val split = SampleOps.stratifiedExactSplit(docs, "lang", "doc_id",
      Seq("train" -> 6.0, "val" -> 1.0, "test" -> 1.0)).cache()
    assert(split.count() == docs.count()) // a partition, not a sample
    // every stratum hits floor(n*0.75) / floor(n*0.875)-floor(n*0.75)
    // exactly — the property hashSplit only has in expectation
    val per = split.groupBy("lang", "split").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (l, rows) =>
        l -> rows.map(r => r._2 -> r._3).toMap
      }
    per.foreach { case (lang, m) =>
      val n = m.values.sum
      val cut1 = math.floor(n * 0.75).toLong
      val cut2 = math.floor(n * 0.875).toLong
      assert(m.getOrElse("train", 0L) == cut1, s"$lang train $m")
      assert(m.getOrElse("val", 0L) == cut2 - cut1, s"$lang val $m")
      assert(m.getOrElse("test", 0L) == n - cut2, s"$lang test $m")
    }
    // rerun-stable assignment
    val a = split.select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = SampleOps.stratifiedExactSplit(docs, "lang", "doc_id",
      Seq("train" -> 6.0, "val" -> 1.0, "test" -> 1.0))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
    split.unpersist()
  }

  test("stratifiedExactSplit: NULL strata form a stratum, never drop (r18 ADVICE)") {
    // the r17 census-join refactor briefly made NULL strata vanish
    // through a null-unsafe using-column join; the <=> join keeps them
    val df = Seq((1L, Some("en")), (2L, None), (3L, None), (4L, Some("en")),
        (5L, None), (6L, None), (7L, None), (8L, None))
      .toDF("doc_id", "lang")
    val split = SampleOps.stratifiedExactSplit(df, "lang", "doc_id",
      Seq("train" -> 3.0, "test" -> 1.0))
    assert(split.count() == 8, "NULL-stratum rows must survive")
    val nullRows = split.where(col("lang").isNull)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    // 6 NULL-stratum rows → floor(6*0.75)=4 train, 2 test — the same
    // exact-proportion contract every named stratum gets
    assert(nullRows == Map("train" -> 4L, "test" -> 2L), s"$nullRows")
  }

  test("epochBudgetPlan: cap binds where want exceeds maxEpochs, deficit accounts") {
    val docs = Tables.documents(spark, sf)
      .withColumn("n_toks", graft.ops.TextOps.tokenCount($"text"))
    val plan = SampleOps.epochBudgetPlan(docs, "source", $"n_toks",
      weights = Seq("src0" -> 5.0, "src1" -> 3.0, "src2" -> 2.0),
      budget = 20000.0, maxEpochs = 4.0)
      .as[(String, Double, Double, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    // src0 wants 10000 tokens on a tiny inventory: epoch cap binds
    val s0 = plan("src0")
    assert(s0._5 == 4.0, s"src0 epochs ${s0._5}")
    assert(math.abs(s0._6 - s0._2 * 4.0) < 1e-6, s"usable != 4 epochs: $s0")
    assert(math.abs(s0._7 - (s0._4 - s0._6)) < 1e-6, s"deficit mismatch: $s0")
    // every unlisted source gets zero weight, want, and deficit
    val unlisted = plan.values.filter(r => r._3 == 0.0)
    assert(unlisted.nonEmpty)
    assert(unlisted.forall(r => r._4 == 0.0 && r._5 == 0.0 && r._7 == 0.0))
    // conservation: usable <= want, epochs <= cap, all non-negative
    assert(plan.values.forall(r =>
      r._6 <= r._4 + 1e-9 && r._5 <= 4.0 && r._7 >= -1e-9))
  }

  test("materializeEpochPlan: copy counts follow the plan, append-stable") {
    val docs = Tables.documents(spark, sf)
      .withColumn("n_toks", graft.ops.TextOps.tokenCount($"text"))
    val weights = Seq("src0" -> 5.0, "src1" -> 3.0, "src2" -> 2.0)
    val rows = SampleOps.materializeEpochPlan(docs, "source", "doc_id",
      $"n_toks", weights, budget = 2000.0, maxEpochs = 4.0).cache()
    val plan = SampleOps.epochBudgetPlan(docs, "source", $"n_toks",
      weights, budget = 2000.0, maxEpochs = 4.0)
      .as[(String, Double, Double, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r._5).toMap // source -> epochs
    val perDoc = rows.groupBy("doc_id", "source").count()
      .as[(Long, String, Long)].collect()
    // every doc gets floor(e) or floor(e)+1 copies of its group's plan
    perDoc.foreach { case (id, src, n) =>
      val e = plan(src)
      assert(n == math.floor(e).toLong || n == math.floor(e).toLong + 1,
        s"doc $id in $src got $n copies for e=$e")
    }
    // group volume tracks planned epochs: total copies / ALL group
    // docs ≈ e (zero-copy docs count in the denominator)
    val groupDocs = docs.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    perDoc.groupBy(_._2).foreach { case (src, ds) =>
      val e = plan(src)
      val mean = ds.map(_._3).sum.toDouble / groupDocs(src)
      assert(math.abs(mean - e) < 0.35, s"$src mean $mean vs e=$e")
    }
    // unlisted sources emit nothing
    assert(perDoc.forall(d => Set("src0", "src1", "src2")(d._2)))
    // rerun-stable
    val again = SampleOps.materializeEpochPlan(docs, "source", "doc_id",
      $"n_toks", weights, budget = 2000.0, maxEpochs = 4.0)
      .as[(Long, String, Int)].collect().toSet
    assert(rows.as[(Long, String, Int)].collect().toSet == again)
    rows.unpersist()
  }

  test("cluster-balanced sample: singletons always survive, expectation one per cluster") {
    val out = SparkEntry.queries("p26_cluster_balanced_sample")(spark, sf)
      .as[(Long, Long, Long)].collect()
    val clusters = graft.ops.TextOps.dedupClustersMinHash(
      Tables.documents(spark, sf), "doc_id", "text",
      numHashes = 16, bands = 2, minEstimate = 0.7, portable = true)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    val singletons = clusters.filter(_._3 == 1L).map(_._1).toSet
    val kept = out.map(_._1).toSet
    // keep prob 1/1 = certainty for unique content
    assert(singletons.subsetOf(kept), "a singleton was dropped")
    // per-cluster kept counts stay near expectation one (hash variance
    // only; a cluster can't keep more than its members)
    val perCluster = out.groupBy(_._2).map { case (c, rs) => c -> rs.length }
    val sizes = clusters.groupBy(_._2).map { case (c, rs) => c -> rs.length }
    perCluster.foreach { case (c, k) => assert(k <= sizes(c)) }
    // rerun-stable
    val again = SparkEntry.queries("p26_cluster_balanced_sample")(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("samplePerGroup: caps per group, deterministic") {
    val g = SampleOps.samplePerGroup(events, "event_type", "event_id", 50)
    val per = g.groupBy("event_type").count().as[(String, Long)].collect()
    assert(per.forall(_._2 == 50)) // every type has >= 50 events at this sf
    val again = SampleOps.samplePerGroup(events, "event_type", "event_id", 50)
    assert(g.select("event_id").except(again.select("event_id")).isEmpty)
  }

  test("sampleByHash filter pushes down to the scan") {
    val plan = SampleOps.sampleByHash(events, "event_id", 0.1)
      .queryExecution.executedPlan.toString
    // narrow plan: no shuffle anywhere in a Bernoulli sample
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("mixtureSample: per-group fractions near target, narrow, append-stable") {
    val weights = Seq("click" -> 0.5, "view" -> 0.1)
    val out = SampleOps.mixtureSample(events, "event_type", "event_id",
      weights, defaultFraction = 0.0, salt = "mix")
    val kept = out.groupBy("event_type").count().as[(String, Long)].collect().toMap
    val base = events.groupBy("event_type").count().as[(String, Long)].collect().toMap
    weights.foreach { case (g, w) =>
      val f = kept.getOrElse(g, 0L).toDouble / base(g)
      assert(math.abs(f - w) < 0.05, s"$g kept $f want $w")
    }
    // unlisted groups fully dropped at defaultFraction = 0
    assert((kept.keySet -- weights.map(_._1)).isEmpty, kept.toString)
    // zero shuffles: the mixing step is a pure filter
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // append-stable: fate of a row is independent of the rest
    val sub = SampleOps.mixtureSample(events.limit(2000), "event_type",
      "event_id", weights, defaultFraction = 0.0, salt = "mix")
      .select("event_id").as[Long].collect().toSet
    val full = out.select("event_id").as[Long].collect().toSet
    assert(sub.subsetOf(full))
  }

  test("packByBudget: bins contiguous, filled past budget, bounded overflow") {
    val docs = Tables.documents(spark, sf)
    val packed = SampleOps.packByBudget(docs, "source", "doc_id",
      size(split(col("text"), " ")), budget = 500L)
      .select($"source", $"doc_id", $"n_tokens", $"bin_id")
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1)
    packed.foreach { case (src, rows) =>
      val ordered = rows.sortBy(_._2)
      // bin ids are non-decreasing in doc order (contiguous packing)
      assert(ordered.map(_._4).sliding(2).forall(p => p.head <= p.last), src)
      val byBin = ordered.groupBy(_._4).toSeq.sortBy(_._1)
      val maxDoc = ordered.map(_._3).max
      byBin.dropRight(1).foreach { case (bin, members) =>
        val tot = members.map(_._3).sum
        // every non-final bin lands within one document of the budget
        // (the previous bin's overflow eats into this bin's range, the
        // last member's overflow extends it)
        assert(tot > 500 - maxDoc && tot < 500 + maxDoc, s"$src bin $bin tot $tot")
      }
    }
  }

  test("balancePerGroup: every group capped at the smallest; no per-group serialization") {
    val skewed = events.where(col("value") >= 10.0) // uneven per-type counts
    val out = SampleOps.balancePerGroup(skewed, "event_type", "event_id")
    val per = out.groupBy("event_type").count().as[(String, Long)].collect()
    val minBase = skewed.groupBy("event_type").count()
      .agg(min("count")).as[Long].head()
    assert(per.nonEmpty && per.forall(_._2 == minBase),
      s"want $minBase per group, got ${per.toSeq}")
    // the rank runs through PrefixSum (round 17): the only window over
    // raw-grain rows must be keyed on (group, bucket) — never the bare
    // low-cardinality group (PlanHygieneSpec sweeps this surface-wide;
    // here we assert the op in isolation, outside the query registry)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lit10 = SampleOps.balancePerGroup(skewed, "event_type", "event_id",
      targetPerGroup = Some(10L))
    val rawGroupWindows = lit10.queryExecution.optimizedPlan.collect {
      case w: LWindow
          if w.partitionSpec.flatMap(_.references.map(_.name)) == Seq("event_type") &&
            w.child.collectFirst { case a: Aggregate => a }.isEmpty => w
    }
    assert(rawGroupWindows.isEmpty,
      "balancePerGroup must not rank a whole group in one task")
    assert(lit10.count() == per.length * 10L)
  }

  test("shuffleShards: exact permutation, balanced shards, rerun-stable") {
    val n = events.count()
    val out = SampleOps.shuffleShards(events, "event_id", nShards = 8).cache()
    // a permutation: every row exactly once, pos contiguous within shard
    assert(out.count() == n)
    assert(out.select("event_id").distinct().count() == n)
    val perShard = out.groupBy("shard").agg(
      count(lit(1)).as("c"), max("pos").as("mx"), min("pos").as("mn"))
      .as[(Int, Long, Int, Int)].collect()
    assert(perShard.length == 8)
    perShard.foreach { case (_, c, mx, mn) =>
      assert(mn == 1 && mx == c, "pos must be contiguous 1..c")
      assert(c > n / 8 * 0.8 && c < n / 8 * 1.2, s"imbalanced shard: $c vs ${n / 8}")
    }
    // deterministic; a different salt produces a different order
    val again = SampleOps.shuffleShards(events, "event_id", nShards = 8)
    assert(out.select("shard", "pos", "event_id")
      .except(again.select("shard", "pos", "event_id")).isEmpty)
    val salted = SampleOps.shuffleShards(events, "event_id", 8, salt = "v2")
    assert(out.select("shard", "pos", "event_id")
      .except(salted.select("shard", "pos", "event_id")).count() > 0)
    out.unpersist()
  }

  test("shuffleShards: caller columns survive; output names are guarded") {
    // a pre-existing `_h` (the old internal name) must pass through
    // untouched — shard assignment keys off the id, not caller data
    val withH = events.withColumn("_h", lit(42L))
    val out = SampleOps.shuffleShards(withH, "event_id", nShards = 4)
    assert(out.columns.contains("_h"))
    assert(out.select("_h").distinct().as[Long].collect().toSeq == Seq(42L))
    val clean = SampleOps.shuffleShards(events, "event_id", nShards = 4)
    assert(out.select("shard", "pos", "event_id")
      .except(clean.select("shard", "pos", "event_id")).isEmpty,
      "caller _h column must not perturb the permutation")
    // clobbering the output contract columns is an error, not silence
    intercept[IllegalArgumentException] {
      SampleOps.shuffleShards(events.withColumn("shard", lit(1)),
        "event_id", nShards = 4)
    }
    intercept[IllegalArgumentException] {
      SampleOps.shuffleShards(events.withColumn("pos", lit(1)),
        "event_id", nShards = 4)
    }
  }

  test("sibling ops: internal columns collision-proof, outputs guarded") {
    // caller columns that used to be internal working names must pass
    // through every op untouched
    val tricky = events
      .withColumn("_srk", lit(7)).withColumn("_brk", lit(8))
      .withColumn("_n", lit(9L)).withColumn("_cum", lit(10L))
    assert(SampleOps.samplePerGroup(tricky, "event_type", "event_id", 5)
      .select("_srk").distinct().as[Int].collect().toSeq == Seq(7))
    assert(SampleOps.balancePerGroup(tricky, "event_type", "event_id")
      .select("_brk").distinct().as[Int].collect().toSeq == Seq(8))
    val packed = SampleOps.packByBudget(tricky, "event_type", "event_id",
      col("value") + 1, budget = 100L)
    assert(packed.select("_n", "_cum").distinct()
      .as[(Long, Long)].collect().toSeq == Seq((9L, 10L)))
    // output-contract columns are guarded, not clobbered
    intercept[IllegalArgumentException] {
      SampleOps.hashSplit(events.withColumn("split", lit("x")),
        "event_id", Seq("a" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      SampleOps.packByBudget(events.withColumn("bin_id", lit(1L)),
        "event_type", "event_id", col("value"), 100L)
    }
    // a pre-existing n_tokens column is the NORMAL packing input — it
    // must be accepted and re-emitted from tokenCol, not rejected
    val withTok = events.withColumn("n_tokens", lit(3L))
    val ok = SampleOps.packByBudget(withTok, "event_type", "event_id",
      col("n_tokens"), budget = 10L)
    assert(ok.select("n_tokens").distinct().as[Long].collect().toSeq == Seq(3L))
  }

  test("cluster-aware split is leak-free where the naive doc split leaks") {
    import graft.ops.TextOps
    val docs = Tables.documents(spark, sf)
    val pairs = TextOps.jaccardPairs(docs, "doc_id", "text", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    assert(pairs.nonEmpty, "fixture needs near-dup pairs to test leakage")
    def splitOf(assign: org.apache.spark.sql.DataFrame): Map[Long, String] =
      assign.select($"doc_id", $"split").as[(Long, String)].collect().toMap
    // hashing the CLUSTER: every near-dup pair lands on one side
    val labels = TextOps.dedupClusters(docs, "doc_id", "text", 0.9)
      .select("doc_id", "cluster_id")
    val safe = splitOf(SampleOps.hashSplit(labels, "cluster_id",
      Seq("train" -> 8.0, "test" -> 2.0), salt = "cs"))
    assert(pairs.forall(p => safe(p._1) == safe(p._2)),
      "cluster-aware split must never separate a near-dup pair")
    // hashing the DOC id (the naive split) demonstrably leaks on the
    // same corpus — the reason the cluster-aware variant exists
    val naive = splitOf(SampleOps.hashSplit(docs, "doc_id",
      Seq("train" -> 8.0, "test" -> 2.0), salt = "cs"))
    assert(pairs.exists(p => naive(p._1) != naive(p._2)),
      "expected the naive doc-id split to leak near-dups across sides")
  }

  test("weightedSampleByHash: clamps to [0,1], monotone in scale, rerun-stable") {
    val df = events.select($"event_id", $"value")
    // weight >= 1 keeps everything; weight <= 0 keeps nothing
    assert(SampleOps.weightedSampleByHash(df, "event_id", lit(1.5)).count()
      == df.count())
    assert(SampleOps.weightedSampleByHash(df, "event_id", lit(-3.0)).count() == 0)
    // raising the scale can only ADD rows (same salt): a kept row's
    // fraction only grows, and row fate is a pure hash-vs-fraction test
    val lo = SampleOps.weightedSampleByHash(df, "event_id", abs($"value"),
      scale = 0.002, salt = "w").select("event_id").as[Long].collect().toSet
    val hi = SampleOps.weightedSampleByHash(df, "event_id", abs($"value"),
      scale = 0.02, salt = "w").select("event_id").as[Long].collect().toSet
    assert(lo.nonEmpty && lo.subsetOf(hi) && hi.size > lo.size)
    // corrupt scores (NaN doubles arriving in data — ANSI division
    // throws, but parquet/float math can still carry NaN) and null
    // weights drop the row — they must never sail through the clamp
    // as keep-prob 1 (Spark orders NaN above every double)
    val corrupt = Seq((1L, Double.NaN), (2L, 1.0)).toDF("id", "w")
    val keptC = SampleOps.weightedSampleByHash(corrupt, "id", $"w")
      .select("id").as[Long].collect().toSet
    assert(!keptC.contains(1L), "NaN weight must drop the row")
    val keptN = SampleOps.weightedSampleByHash(
      Seq((1L, Option.empty[Double]), (2L, Option(1.0)))
        .toDF("id", "w"), "id", $"w").select("id").as[Long].collect().toSet
    assert(!keptN.contains(1L), "null weight must drop the row")
  }

  test("temperatureMixture: alpha=1 is budget-proportional, alpha<1 flattens") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    // alpha=1 ⇒ every group's keep fraction collapses to budget/N —
    // identical row set to the plain uniform hash sample
    val t1 = SampleOps.temperatureMixture(docs, "lang", "doc_id",
      alpha = 1.0, totalBudget = n / 2, salt = "s")
      .select("doc_id").as[Long].collect().toSet
    val uniform = SampleOps.sampleByHash(docs, "doc_id", (n / 2).toDouble / n, "s")
      .select("doc_id").as[Long].collect().toSet
    assert(t1 == uniform)
    // alpha=0.5 flattens: the output's max/min group-size ratio must
    // shrink vs the input's (low-resource langs upweighted)
    def skew(df: org.apache.spark.sql.DataFrame): Double = {
      val counts = df.groupBy("lang").count().as[(String, Long)]
        .collect().map(_._2.toDouble)
      counts.max / counts.min
    }
    val flattened = SampleOps.temperatureMixture(docs, "lang", "doc_id",
      alpha = 0.5, totalBudget = n / 2, salt = "s")
    assert(skew(flattened) < skew(docs),
      s"skew ${skew(flattened)} should be < input ${skew(docs)}")
    // rerun-stable; caller schema preserved verbatim
    val rerun = SampleOps.temperatureMixture(docs, "lang", "doc_id",
      alpha = 0.5, totalBudget = n / 2, salt = "s")
    assert(rerun.select("doc_id").as[Long].collect().toSet
      == flattened.select("doc_id").as[Long].collect().toSet)
    assert(flattened.columns.toSeq == docs.columns.toSeq)
    // a group whose temperature share exceeds its size keeps all rows
    val tiny = (0L until 100L).map(i => (i, if (i < 4) "rare" else "big"))
      .toDF("id", "g")
    val kept = SampleOps.temperatureMixture(tiny, "g", "id",
      alpha = 0.0, totalBudget = 50L)
    assert(kept.where($"g" === "rare").count() == 4)
    // a null group is a real group: it participates in the normalizer
    // AND its rows sample at their fraction (null-safe join) — with
    // budget = corpus size every fraction caps at 1, so nothing drops
    val withNulls = (0L until 50L)
      .map(i => (i, if (i % 5 == 0) null else s"g${i % 2}"))
      .toDF("id", "g")
    val keptAll = SampleOps.temperatureMixture(withNulls, "g", "id",
      alpha = 1.0, totalBudget = 50L)
    assert(keptAll.count() == 50)
    assert(keptAll.where($"g".isNull).count() == 10)
    intercept[IllegalArgumentException] {
      SampleOps.temperatureMixture(tiny, "g", "id", alpha = -0.1, totalBudget = 1L)
    }
    intercept[IllegalArgumentException] {
      SampleOps.temperatureMixture(tiny, "g", "id", alpha = 1.0, totalBudget = 0L)
    }
  }

  test("kFold: exact partition, append-stable, zero-shuffle, roughly balanced") {
    val docs = Tables.documents(spark, sf).select("doc_id")
    val folds = SampleOps.kFold(docs, "doc_id", k = 5).cache()
    val n = docs.count()
    // a partition of the corpus: every row lands in exactly one fold 0..4
    assert(folds.where($"fold" < 0 || $"fold" > 4).count() == 0)
    assert(folds.count() == n)
    // append-stable: fold assignment over a subset matches the full run
    val subset = SampleOps.kFold(docs.where($"doc_id" % 3 === 0), "doc_id", 5)
    val moved = subset.as[(Long, Long)].collect().toMap
    val full = folds.as[(Long, Long)].collect().toMap
    assert(moved.forall { case (id, f) => full(id) == f })
    // hash balance: no fold is empty or hoards the corpus at this n
    val counts = folds.groupBy("fold").count().select("count").as[Long].collect()
    assert(counts.length == 5 && counts.min > 0 && counts.max < n)
    // narrow projection: no exchange in the plan
    val p = SampleOps.kFold(docs, "doc_id", 5).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    // leave-one-fold-out composes as a filter that preserves the rest
    assert(folds.where($"fold" =!= 0).count() ==
      n - full.values.count(_ == 0L))
    folds.unpersist()
    intercept[IllegalArgumentException] { SampleOps.kFold(docs, "doc_id", 1) }
  }

  test("perplexitySplit: threshold respected, survivors partitioned like hashSplit") {
    val sample = Tables.documents(spark, sf).limit(200)
    val scored = graft.ops.TextOps.trigramLmScore(sample, "doc_id", "text")
    // data-derived threshold (median): robust to corpus scale
    val tau = scored.select(percentile_approx($"cross_entropy", lit(0.5),
      lit(10000)).as("m")).as[Double].head()
    val out = SampleOps.perplexitySplit(sample, "doc_id", "text",
      maxCrossEntropy = tau, Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
      .cache()
    // every survivor is under the threshold, and some doc was dropped
    assert(out.where($"cross_entropy" > tau).count() == 0)
    assert(out.count() == scored.where($"cross_entropy" <= tau).count())
    assert(out.count() < scored.count(), "threshold dropped nothing")
    // split labels agree with a bare hashSplit on the same ids (the
    // filter must not perturb assignment — leak-stability inherits)
    val bare = SampleOps.hashSplit(
      out.select("doc_id"), "doc_id",
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
    val disagree = out.select($"doc_id", $"split".as("s1"))
      .join(bare.select($"doc_id", $"split".as("s2")), Seq("doc_id"))
      .where($"s1" =!= $"s2").count()
    assert(disagree == 0)
    out.unpersist()
  }

  test("curriculum shards written partitionBy(bucket) prune the easy-first scan") {
    // the write half of p15's contract: a trainer reading bucket 0
    // first must touch ONLY bucket-0 files — partition pruning, not a
    // full-scan-and-filter
    val docs = Tables.documents(spark, sf)
      .withColumn("score_i", (col("n_chars") % 512).cast("long"))
    val out = SampleOps.curriculumShards(docs, "doc_id", col("score_i"),
      nShards = 2, levels = 9, salt = "w")
    val dir = Sessions.tempDir("graft-curr").toString
    out.write.partitionBy("bucket", "shard").mode("overwrite").parquet(dir)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().map(_.metrics)
        .flatMap(_.get("numFiles").map(_.value)).sum
    }
    val full = filesRead(spark.read.parquet(dir))
    val first = filesRead(spark.read.parquet(dir).where($"bucket" === 0))
    assert(first < full, s"bucket-0 scan read $first of $full files")
    // and the pruned read returns exactly bucket 0's docs
    val expect = out.where($"bucket" === 0).select("doc_id")
      .as[Long].collect().toSet
    val got = spark.read.parquet(dir).where($"bucket" === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(got == expect)
  }

  test("tokenBudgetMixture: full-keep above total, expectation near budget, unlisted drop") {
    import graft.ops.TextOps
    val docs = Tables.documents(spark, sf)
    val tokc = TextOps.tokenCount(col("text"))
    val totals = docs.groupBy("lang").agg(sum(tokc.cast("long")).as("tot"))
      .as[(String, Long)].collect().toMap
    val out = SampleOps.tokenBudgetMixture(docs, "lang", "doc_id", tokc,
      Seq("en" -> 10000000L, "zh" -> totals("zh") / 2), salt = "s").persist()
    // budget >= group total -> fraction clamps to 1.0 -> whole group kept
    val enDocs = docs.where($"lang" === "en").count()
    assert(out.where($"lang" === "en").count() == enDocs)
    // unlisted groups drop entirely
    assert(out.where(!$"lang".isInCollection(Seq("en", "zh"))).count() == 0)
    // half-budget group: kept token mass lands near budget/total = 50%
    // (hash Bernoulli at ~35 docs -> generous 3-sigma-ish band)
    val zhKept = out.where($"lang" === "zh")
      .agg(sum(tokc.cast("long"))).as[Long].head()
    val frac = zhKept.toDouble / totals("zh")
    assert(frac > 0.2 && frac < 0.8, s"zh kept fraction $frac")
    // rerun-stable: same salt, same survivors
    val again = SampleOps.tokenBudgetMixture(docs, "lang", "doc_id", tokc,
      Seq("en" -> 10000000L, "zh" -> totals("zh") / 2), salt = "s")
    assert(out.select("doc_id").except(again.select("doc_id")).count() == 0)
    out.unpersist()
  }

  test("curriculumShards: buckets monotone in score, shard positions contiguous") {
    val docs = Tables.documents(spark, sf)
      .withColumn("score_i", (col("n_chars") % 512).cast("long"))
    val out = SampleOps.curriculumShards(docs, "doc_id", col("score_i"),
      nShards = 4, levels = 9, salt = "t").persist()
    // curriculum contract: score ranges never overlap across buckets —
    // every doc in a later bucket outranks every doc in an earlier one
    val ranges = out.groupBy("bucket")
      .agg(min("score_i").as("lo"), max("score_i").as("hi"))
      .orderBy("bucket").as[(Int, Long, Long)].collect().toSeq
    assert(ranges.size >= 2, s"cuts produced ${ranges.size} bucket(s)")
    ranges.sliding(2).foreach {
      case Seq((_, _, hi0), (_, lo1, _)) => assert(hi0 < lo1, ranges.toString)
      case _ => ()
    }
    // within each (bucket, shard): pos is the contiguous 1..n
    // permutation p08 guarantees
    val bad = out.groupBy("bucket", "shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .where($"mx" =!= $"n" || $"mn" =!= 1).count()
    assert(bad == 0)
    // total is a partition of the input
    assert(out.count() == docs.count())
    out.unpersist()
  }

  test("bottomKSample: exactly the k smallest hashes; TakeOrderedAndProject plan") {
    val docs = Tables.documents(spark, sf).select($"doc_id")
    val k = 20
    val plan = SampleOps.bottomKSample(docs, "doc_id", k)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"bottom-k must plan per-partition top-k, not a global sort:\n$plan")
    val got = SampleOps.bottomKSample(docs, "doc_id", k)
      .select($"doc_id").as[Long].collect().toSet
    // driver-side truth: the k smallest salted hashes
    val want = docs.as[Long].collect()
      .sortBy(id => (graft.functions.PortableHash.md5Long60(s"#$id"), id))
      .take(k).toSet
    assert(got == want)
    // k beyond the population returns the whole population
    val tiny = Seq(1L, 2L, 3L).toDF("doc_id")
    assert(SampleOps.bottomKSample(tiny, "doc_id", 10).count() == 3)
  }

  test("kmvDistinctEstimate: within 3 sigma of exact; small sets fall back exact") {
    import graft.ops.SketchOps
    val li = Tables.lineitem(spark, sf)
    val exact = li.select($"l_partkey").distinct().count().toDouble
    val k = 64
    val est = SketchOps.kmvDistinctEstimate(li, "l_partkey", k)
      .select($"est_distinct").as[Double].head()
    // stderr ~ 1/sqrt(k-2); 3 sigma ≈ 38%
    assert(math.abs(est - exact) < exact * 0.38, s"est=$est exact=$exact")
    // below-k population: estimate IS the exact count
    val tiny = Seq("a", "b", "c", "a").toDF("key")
    val r = SketchOps.kmvDistinctEstimate(tiny, "key", 64)
      .as[(Long, Double, Double)].head()
    assert(r._1 == 3L && r._3 == 3.0, r.toString)
  }

  test("quantileNormalize: monotone in score, bounded in [0,1), uniform-ish mass") {
    import graft.ops.SampleOps
    val rows = (0L until 400L).map(i => (i, i)).toDF("id", "score")
    val got = SampleOps.quantileNormalize(rows, $"score", nBuckets = 4)
      .select($"score", $"q_norm").as[(Long, Double)].collect().sortBy(_._1)
    assert(got.forall { case (_, q) => q >= 0.0 && q < 1.0 })
    // monotone: higher score never gets a lower quantile
    got.sliding(2).foreach { case Array(a, b) => assert(a._2 <= b._2) }
    // each quarter holds roughly a quarter of the mass (sketch-rank
    // borders: allow generous slack)
    val byQ = got.groupBy(_._2).map { case (k, v) => k -> v.length }
    assert(byQ.size == 4, byQ.toString)
    assert(byQ.values.forall(n => n > 40 && n < 160), byQ.toString)
  }

  test("targetEncode: LOO excludes own label; singleton falls back to prior") {
    import graft.ops.LearnOps
    // A: y = 1,1,0 (sum 2, n 3); B: y = 0 (singleton). prior p = 2/4
    val rows = Seq((1L, "A", 1), (2L, "A", 1), (3L, "A", 0), (4L, "B", 0))
      .toDF("id", "cat", "y")
    val got = LearnOps.targetEncode(rows, "cat", $"y", m = 10.0)
      .select($"id", $"target_enc").as[(Long, Double)].collect().toMap
    assert(got(1L) == (2.0 - 1.0 + 10.0 * 0.5) / 12.0) // own y excluded
    assert(got(2L) == got(1L)) //     same cat+label → same encode
    assert(got(3L) == (2.0 - 0.0 + 10.0 * 0.5) / 12.0)
    assert(got(4L) == (0.0 - 0.0 + 10.0 * 0.5) / 10.0) // pure prior
  }

  test("quotaSample: per-group targets honored, zero quota empties a group") {
    import graft.ops.SampleOps
    val docs = (1L to 100L).map(i => (i, s"g${i % 4}")).toDF("doc_id", "source")
    val got = SampleOps.quotaSample(docs, "source", "doc_id",
      quotas = Map("g0" -> 7, "g1" -> 0), defaultQuota = 3, salt = "s")
      .groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(got == Map("g0" -> 7L, "g2" -> 3L, "g3" -> 3L), got.toString)
    // determinism + subset property: the kept set is the bottom-k of
    // each group's hash order, so shrinking a quota shrinks the set
    // monotonically
    val smaller = SampleOps.quotaSample(docs, "source", "doc_id",
      quotas = Map("g0" -> 3, "g1" -> 0), defaultQuota = 3, salt = "s")
      .where($"source" === "g0").select($"doc_id").as[Long].collect().toSet
    val larger = SampleOps.quotaSample(docs, "source", "doc_id",
      quotas = Map("g0" -> 7, "g1" -> 0), defaultQuota = 3, salt = "s")
      .where($"source" === "g0").select($"doc_id").as[Long].collect().toSet
    assert(smaller.subsetOf(larger))
  }

  test("timeWeightedAvg: hand-computed step integral; single-event keys drop") {
    import graft.ops.EventOps
    val ev = Seq(
      (1L, 0L, 1L, 1.0), (1L, 10L, 2L, 3.0), (1L, 30L, 3L, 99.0),
      (2L, 5L, 4L, 7.0) // single event: no span, dropped
    ).toDF("user_id", "ts_sec", "event_id", "value")
    val got = EventOps.timeWeightedAvg(ev, "user_id", "ts_sec",
      "event_id", "value")
      .as[(Long, Long, Double)].collect().toSeq
    // v=1 holds 10s, v=3 holds 20s → (1·10 + 3·20)/30 = 70/30
    assert(got == Seq((1L, 30L, 70.0 / 30.0)), got.toString)
  }

  test("dpNoisedCounts: deterministic per salt, salt rotates the draw, scale bounds") {
    import graft.ops.SampleOps
    val docs = (1L to 300L).map(i => (i, s"s${i % 7}")).toDF("doc_id", "source")
    val r1 = SampleOps.dpNoisedCounts(docs, "source", epsilon = 1.0, salt = "a")
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    val r2 = SampleOps.dpNoisedCounts(docs, "source", epsilon = 1.0, salt = "a")
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(r1 == r2) // rerun-stable: same salt → identical release
    val r3 = SampleOps.dpNoisedCounts(docs, "source", epsilon = 1.0, salt = "b")
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(r1.zip(r3).exists { case (a, b) => a._3 != b._3 }) // salt rotates
    // Laplace scale: |noise| ≤ ln(1e12)/ε ≈ 27.64 at ε=1; ε=1000 → ≈0.028
    assert(r1.forall { case (_, n, rel) => math.abs(rel - n) <= 27.7 })
    val tight = SampleOps.dpNoisedCounts(docs, "source", epsilon = 1000.0)
      .as[(String, Long, Double)].collect()
    assert(tight.forall { case (_, n, rel) => math.abs(rel - n) <= 0.03 })
  }

  test("cmsJoinSize: overestimates the true join size; exact when collision-free") {
    import graft.ops.SketchOps
    val a = Seq("u1", "u1", "u2", "u3").toDF("key")
    val b = Seq("u1", "u2", "u2", "u4").toDF("key")
    // true size: u1 2*1 + u2 1*2 = 4
    val exact = 4L
    // tight sketch (collisions likely): estimate >= exact always
    val estTight = SketchOps.cmsJoinSize(
      SketchOps.cmsRegisters(a, "key", depth = 3, width = 2),
      SketchOps.cmsRegisters(b, "key", depth = 3, width = 2))
      .as[Long].head()
    assert(estTight >= exact, s"estTight=$estTight")
    // wide sketch (4 keys into 1024 cells): min-row is collision-free
    // with overwhelming probability for this FIXED hash family → exact
    val estWide = SketchOps.cmsJoinSize(
      SketchOps.cmsRegisters(a, "key", depth = 3, width = 1024),
      SketchOps.cmsRegisters(b, "key", depth = 3, width = 1024))
      .as[Long].head()
    assert(estWide == exact, s"estWide=$estWide")
  }

  test("zipfFit: uniform spectrum fits slope 0; decaying spectrum fits negative") {
    import graft.ops.TextOps
    // uniform: every token same freq → y constant → slope exactly 0
    val uniform = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val u = TextOps.zipfFit(uniform, "text", topN = 10)
      .as[(Long, Double, Double)].head()
    assert(u._1 == 4L && u._2 == 0.0, u.toString)
    // geometric decay: freqs 8,4,2,1 → negative slope, positive intercept
    val decay = Seq((1L, ("a " * 8 + "b " * 4 + "c " * 2 + "d").trim))
      .toDF("doc_id", "text")
    val d = TextOps.zipfFit(decay, "text", topN = 10)
      .as[(Long, Double, Double)].head()
    assert(d._1 == 4L && d._2 < -0.5 && d._3 > 0.0, d.toString)
  }

  test("frequencyCap: ranks by id, keeps <= cap per key, cap=1 is exact dedup") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"),
      (5L, "y"), (6L, "z")).toDF("doc_id", "text")
    val capped = SampleOps.frequencyCap(docs, md5($"text"), "doc_id", cap = 2)
    val byId = capped.select($"doc_id", $"copy_rank", $"kept")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId == Map(1L -> (1L, true), 2L -> (2L, true), 3L -> (3L, false),
      4L -> (1L, true), 5L -> (2L, true), 6L -> (1L, true)), byId.toString)

    // cap=1 keeps exactly the min id per distinct content — d01's keep set
    val kept1 = SampleOps.frequencyCap(docs, md5($"text"), "doc_id", cap = 1)
      .where($"kept").select($"doc_id").as[Long].collect().toSet
    assert(kept1 == Set(1L, 4L, 6L))

    // append-stability: adding a NEW copy of "x" (higher id) never
    // changes existing rows' fate
    val grown = docs.union(Seq((7L, "x")).toDF("doc_id", "text"))
    val after = SampleOps.frequencyCap(grown, md5($"text"), "doc_id", cap = 2)
      .where($"doc_id" <= 6).select($"doc_id", $"copy_rank", $"kept")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(after == byId, s"append changed existing rows: $after")

    intercept[IllegalArgumentException] {
      SampleOps.frequencyCap(docs, md5($"text"), "doc_id", cap = 0)
    }
  }
}
