package graft

import org.apache.spark.sql.functions._

import graft.ops.{SampleOps, UrlOps}

/** Crafted-fixture semantics for the round-12 operators — properties
  * the oracles replay but don't isolate: the water-filling cutoff and
  * the politeness rate bound. The vector cases (MMR, triplet mining,
  * s30, s34) live in OpsSpec beside the other vector tests.
  */
class Round12Spec extends SparkTestBase {

  import spark.implicits._

  test("waterfillQuota: small groups keep supply, big group caps at the level") {
    val sup = Seq(("a", 10L), ("b", 20L), ("c", 100L)).toDF("g", "s")
    // B = 130*50 DIV 100 = 65; sorted [10,20,100]: g(1)=30, g(2)=50
    // feasible, g(3)=130 not → k*=2, λ=(65-30)/1=35
    val out = SampleOps.waterfillQuota(sup, "g", "s", budgetPct = 50)
      .orderBy("g")
      .select("g", "supply", "allocation", "capped", "level")
      .as[(String, Long, Double, Boolean, Option[Double])].collect()
    assert(out(0) == (("a", 10L, 10.0, false, Some(35.0))), out(0).toString)
    assert(out(1) == (("b", 20L, 20.0, false, Some(35.0))), out(1).toString)
    assert(out(2) == (("c", 100L, 35.0, true, Some(35.0))), out(2).toString)
    // allocations exhaust the budget exactly
    assert(out.map(_._3).sum == 65.0)
  }

  test("waterfillQuota: budget >= supply → everyone fully funded, null level") {
    val sup = Seq(("a", 10L), ("b", 20L)).toDF("g", "s")
    val out = SampleOps.waterfillQuota(sup, "g", "s", budgetPct = 100)
      .orderBy("g")
      .select("allocation", "capped", "level")
      .as[(Double, Boolean, Option[Double])].collect()
    assert(out.toSeq == Seq((10.0, false, None), (20.0, false, None)))
  }

  test("politenessSchedule: at most perSlot fetches per domain per slot, priority first") {
    val urls = Seq(
      (1L, "http://ex.com/a", 100L), (2L, "http://ex.com/b", 300L),
      (3L, "http://ex.com/c", 200L), (4L, "http://ex.com/d", 50L),
      (5L, "http://other.org/x", 10L)
    ).toDF("doc_id", "url", "pri")
    val out = UrlOps.politenessSchedule(urls, "url", "doc_id", "pri", 2)
      .orderBy("domain", "fetch_rank")
      .select("domain", "fetch_rank", "slot", "doc_id")
      .as[(String, Int, Long, Long)].collect()
    val ex = out.filter(_._1 == "ex.com")
    // priority desc: 2(300), 3(200), 1(100), 4(50) → slots 0,0,1,1
    assert(ex.map(_._4).toSeq == Seq(2L, 3L, 1L, 4L), ex.mkString(","))
    assert(ex.map(_._3).toSeq == Seq(0L, 0L, 1L, 1L), ex.mkString(","))
    // rate bound: no (domain, slot) holds more than 2 fetches
    assert(out.groupBy(r => (r._1, r._3)).values.forall(_.size <= 2))
  }

  test("stripedBatches theorem: batchSize <= n_labels → no intra-batch label dupes") {
    // same-label stripes differ by multiples of n_labels, so with
    // batchSize <= n_labels they can never share a batch
    val out = SparkEntry.queries("s29_inbatch_negatives")(spark, sf)
      .select("batch_n", "batch_labels").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (n, l) => assert(l == n, s"batch has label dupes: $n vs $l") }
  }

  test("p29 EG rounds: weights stay normalized and order by excess loss") {
    val rows = SparkEntry.queries("p29_mixture_eg")(spark, sf)
      .select("excess_loss", "w3").as[(Double, Double)].collect()
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4)
    // multiplicative-weights monotonicity: more excess loss never
    // means less final weight
    val sorted = rows.sortBy(_._1)
    sorted.sliding(2).foreach { case Array((l1, w1), (l2, w2)) =>
      assert(l1 == l2 || w1 <= w2 + 1e-9, s"($l1,$w1) vs ($l2,$w2)")
    }
  }

  test("q110 window funnel: depths partition the entrants") {
    val rows = SparkEntry.queries("q110_window_funnel")(spark, sf)
      .select("depth", "n_users", "share").as[(Int, Long, Double)].collect()
    assert(rows.map(_._1).toSet.subsetOf(Set(1, 2, 3)))
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
  }

  test("m08 gate: kept flag is exactly the threshold predicate") {
    val rows = SparkEntry.queries("m08_prototype_gate")(spark, sf)
      .select("align_score", "kept").as[(Double, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (sc, k) => assert(k == (sc >= 0.2)) }
  }

  test("q111 KMV estimates: within sketch error of the exact set sizes") {
    val r = SparkEntry.queries("q111_kmv_setops")(spark, sf)
      .select("union_est", "jaccard_est", "intersect_est")
      .as[(Double, Double, Double)].collect().head
    val ev = Tables.events(spark, sf)
    val a = ev.where($"event_type" === "click").select("user_id").distinct()
    val b = ev.where($"event_type" === "view").select("user_id").distinct()
    val exactUnion = a.union(b).distinct().count().toDouble
    val exactBoth = a.intersect(b).count().toDouble
    // k=64 → stderr ~ 1/sqrt(62) ≈ 13%; assert a loose 3-sigma band
    assert(math.abs(r._1 - exactUnion) / exactUnion < 0.4,
      s"union est ${r._1} vs $exactUnion")
    assert(math.abs(r._3 - exactBoth) / math.max(exactBoth, 1.0) < 0.6,
      s"intersect est ${r._3} vs $exactBoth")
    assert(r._2 >= 0.0 && r._2 <= 1.0)
  }

  test("q112 arms partition the users; z sign matches the lift") {
    val r = SparkEntry.queries("q112_ab_test")(spark, sf)
      .select("n_a", "n_b", "lift", "z_score")
      .as[(Long, Long, Double, Option[Double])].collect().head
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(r._1 + r._2 == users)
    r._4.foreach(z => assert(z * r._3 >= 0.0, s"z=$z lift=${r._3}"))
  }

  test("t47 TextRank: top-15 ranks are a probability fragment, sorted desc") {
    val rows = SparkEntry.queries("t47_textrank")(spark, sf)
      .select("rank").as[Double].collect()
    assert(rows.length == 15)
    assert(rows.sum <= 1.0 + 1e-6)
    assert(rows.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("q113 bridge closes: volume effect + price effect = revenue delta") {
    val rows = SparkEntry.queries("q113_price_volume_bridge")(spark, sf)
      .select("delta", "volume_effect", "price_effect")
      .as[(Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (d, v, p) =>
      assert(math.abs(d - (v + p)) < 2e-2, s"$d != $v + $p")
    }
  }

  test("q109 identity: every small-quantity line sits strictly below 20% of its part's mean") {
    val rows = SparkEntry.queries("q109_small_qty_revenue")(spark, sf)
      .agg(sum($"n_small")).as[Long].collect().head
    // the fixture must actually exercise the filter
    assert(rows > 0)
  }

  test("m07 shard manifest: shard bytes ≈ budget with one-sample overflow; modalities mixed") {
    val out = SparkEntry.queries("m07_shard_manifest")(spark, sf)
      .select("source", "shard", "n_items", "shard_bytes",
        "n_image", "n_audio", "n_video")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (src, shard, n, bytes, ni, na, nv) =>
      assert(ni + na + nv == n, s"$src/$shard modality counts != n_items")
    }
    // packing rule invariants per source: shard ids contiguous from 0,
    // and a non-final shard j only closes once the source's cumulative
    // byte stream has crossed its boundary (j+1)·budget — the
    // "overflow by at most one sample" streaming-packing contract
    out.groupBy(_._1).foreach { case (src, shards) =>
      val ordered = shards.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == ordered.indices.map(_.toLong),
        s"$src shard ids not contiguous")
      var cum = 0L
      ordered.dropRight(1).foreach { case (_, sh, _, bytes, _, _, _) =>
        cum += bytes
        assert(cum >= (sh + 1) * 2000,
          s"$src/$sh closed before its boundary: cum=$cum")
      }
    }
  }

  // ── wave 4–8 identities ─────────────────────────────────────────────

  test("q121 ABC: class revenues partition the total, shares sum to 1") {
    val rows = SparkEntry.queries("q121_abc_classification")(spark, sf)
      .as[(String, Long, Double, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq("A", "B", "C"))
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-5)
    // A is the head: fewer per-part revenue but the largest share
    assert(rows(0)._4 > rows(1)._4 && rows(1)._4 > rows(2)._4)
  }

  test("u12 LPA: 1 round on a crafted star adopts the hub's label; ties go smallest") {
    import graft.ops.GraphOps
    // star: hub h heavily linked to a,b,c → all leaves adopt h's
    // label in round 1; h adopts the smallest leaf label on the tie
    val edges = Seq(("h", "a", 1.0), ("h", "b", 1.0), ("h", "c", 1.0))
      .toDF("u", "v", "w")
    val l1 = GraphOps.labelPropagation(edges, rounds = 1)
      .as[(String, String)].collect().toMap
    assert(l1("a") == "h" && l1("b") == "h" && l1("c") == "h")
    assert(l1("h") == "a") // tie across a,b,c → smallest
    // weighted tie-break: a heavier edge wins over the lexical tie
    val weighted = Seq(("h", "a", 1.0), ("h", "b", 5.0)).toDF("u", "v", "w")
    val lw = GraphOps.labelPropagation(weighted, rounds = 1)
      .as[(String, String)].collect().toMap
    assert(lw("h") == "b")
  }

  test("q116 argmin matches a window-rank derivation of the same unit costs") {
    val out = SparkEntry.queries("q116_min_cost_supplier")(spark, sf)
    import org.apache.spark.sql.expressions.Window
    val unit = Tables.lineitem(spark, sf)
      .where($"l_quantity" > 0)
      .groupBy("l_partkey", "l_suppkey")
      .agg(min($"l_extendedprice".cast("double")
        * (lit(1.0) - $"l_discount".cast("double"))
        / $"l_quantity".cast("double")).as("unit_cost"))
    val sup = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"n_name")
    val w = Window.partitionBy("l_partkey")
      .orderBy($"unit_cost", $"s_name", $"n_name")
    val viaWindow = unit.join(sup, $"l_suppkey" === $"s_suppkey")
      .withColumn("rk", row_number().over(w)).where($"rk" === 1)
      .select($"l_partkey".as("p_partkey"), $"s_name", $"unit_cost")
    val a = out.select("p_partkey", "s_name", "unit_cost")
      .as[(Long, String, Double)].collect().toSet
    val b = viaWindow.as[(Long, String, Double)].collect().toSet
    assert(a == b)
  }

  test("t50 tagger: injected notices are recovered exactly by the regexes") {
    val rows = SparkEntry.queries("t50_license_tagger")(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect()
    val (nDocs, nCopy, nLic) =
      (rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum)
    val docs = Tables.documents(spark, sf)
    assert(nDocs == docs.count())
    assert(nCopy == docs.where($"doc_id" % 7 === 0).count())
    assert(nLic == docs.where($"doc_id" % 11 === 0).count())
  }
}
