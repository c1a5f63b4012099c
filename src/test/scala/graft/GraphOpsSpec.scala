package graft

import org.apache.spark.sql.functions._

import graft.ops.{GraphOps, TextOps}

class GraphOpsSpec extends SparkTestBase {

  import spark.implicits._

  test("connectedComponents: chain, clique, isolated node, two components") {
    // 1-2-3-4 chain, 10-11-12 triangle, 99 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("u", "v")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("id")
    val got = GraphOps.connectedComponents(edges, nodes)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("connectedComponents: long path converges (pointer jumping)") {
    // a 200-node path exercises the log-diameter pointer-jumping claim:
    // plain 1-hop propagation would need ~200 iterations to drain it
    val n = 200
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val got = GraphOps.connectedComponents(edges, nodes)
    assert(got.where(col("cluster_id") =!= 0L).count() == 0)
    assert(got.count() == n)
  }

  test("pageRank: uniform on a cycle, mass conserved, hub outranks") {
    // 3-cycle: perfectly symmetric → every round keeps rank at 1/3
    val cycle = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
      .toDF("u", "v", "w")
    val pr = GraphOps.pageRank(cycle, iters = 5).as[(String, Double)]
      .collect().toMap
    assert(pr.values.forall(r => math.abs(r - 1.0 / 3) < 1e-9), pr.toString)

    // star into a hub: hub must strictly outrank every spoke, and the
    // total mass stays 1 (damping + uniform teleport conserve it)
    val star = (1 to 5).map(i => (s"s$i", "hub", 1.0)).toDF("u", "v", "w")
    val got = GraphOps.pageRank(star, iters = 3).as[(String, Double)]
      .collect().toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-6, s"mass=${got.values.sum}")
    assert((1 to 5).forall(i => got("hub") > got(s"s$i")))
  }

  test("pageRank: dangling mass redistributes; weights steer the flow") {
    // b is dangling (no out-edges): its mass must re-enter uniformly,
    // not vanish — total stays 1
    val dangling = Seq(("a", "b", 1.0)).toDF("u", "v", "w")
    val pr = GraphOps.pageRank(dangling, iters = 4).as[(String, Double)]
      .collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6, s"mass=${pr.values.sum}")
    assert(pr("b") > pr("a")) // b receives a's flow plus teleport

    // a splits 3:1 between b and c — after one round b holds exactly
    // 3× c's edge-inbound share; with equal teleports b > c always
    val weighted = Seq(("a", "b", 3.0), ("a", "c", 1.0),
      ("b", "a", 1.0), ("c", "a", 1.0)).toDF("u", "v", "w")
    val wr = GraphOps.pageRank(weighted, iters = 3).as[(String, Double)]
      .collect().toMap
    assert(wr("b") > wr("c") && wr("a") > wr("b"), wr.toString)
  }

  test("pageRank: ε early-stop equals fixed-iters on a converged fixture") {
    // 3-cycle converges in ONE round (ranks stay 1/3, snapped to 9dp):
    // tol-mode must produce the same ranks as the fixed-iters oracle
    // mode AND stop long before the iteration budget
    val cycle = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
      .toDF("u", "v", "w")
    val fixed = GraphOps.pageRank(cycle, iters = 20)
      .as[(String, Double)].collect().toMap
    val (early, rounds) = GraphOps.pageRankRounds(cycle, iters = 20,
      tol = Some(1e-9))
    val earlyMap = early.as[(String, Double)].collect().toMap
    assert(earlyMap == fixed, s"early=$earlyMap fixed=$fixed")
    assert(rounds < 20, s"expected early stop, ran all $rounds rounds")

    // and on a fixture that does NOT converge within budget, tol-mode
    // runs the full budget (no premature stop)
    val star = (1 to 5).map(i => (s"s$i", "hub", 1.0)).toDF("u", "v", "w")
    val (_, r2) = GraphOps.pageRankRounds(star, iters = 2, tol = Some(1e-12))
    assert(r2 == 2, s"expected full budget, stopped at $r2")
  }

  test("dedupClustersMinHash: clusters from LSH candidate edges (scale path)") {
    val base = Tables.documents(spark, sf).limit(200).select("doc_id", "text")
    // two null-text docs have no signature: each must come out as its
    // own canonical singleton on both paths below
    val nullIds = base.orderBy("doc_id").limit(2)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        lit(null).cast("string").as("text"))
    val docs = base.unionByName(nullIds).cache()
    val nullDocs = nullIds.select("doc_id").as[Long].collect().toSet
    assert(nullDocs.size == 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "cluster_size", "is_canonical")
        .orderBy("doc_id").collect().toSeq
    for (portable <- Seq(true, false)) {
      val clusters = TextOps.dedupClustersMinHash(docs, "doc_id", "text",
        numHashes = 16, bands = 2, minEstimate = 0.7, portable = portable).cache()
      assert(clusters.count() == 202)
      val perCluster = clusters.groupBy("cluster_id")
        .agg(sum("is_canonical").as("n_canon"), min("doc_id").as("min_id"))
      assert(perCluster.where(col("n_canon") =!= 1).count() == 0)
      assert(perCluster.where(col("min_id") =!= col("cluster_id")).count() == 0)
      // identical texts share an identical signature → must co-cluster
      val fp = docs.where(col("text").isNotNull)
        .groupBy(md5(col("text")).as("f"))
        .agg(collect_list("doc_id").as("ids"))
        .where(size(col("ids")) > 1)
        .select(explode(col("ids")).as("doc_id"), md5(lit("")).as("dummy"))
        .drop("dummy")
      val nViolations = fp.join(clusters, "doc_id")
        .join(docs.select(col("doc_id"), md5(col("text")).as("f")), "doc_id")
        .groupBy("f").agg(countDistinct("cluster_id").as("k"))
        .where(col("k") =!= 1).count()
      assert(nViolations == 0)
      val got = rows(clusters)
      val nullRows = got.filter(r => nullDocs(r.getLong(0)))
      assert(nullRows.size == 2, s"portable=$portable")
      nullRows.foreach { r =>
        assert(r.getLong(1) == r.getLong(0) && r.getLong(2) == 1L && r.getInt(3) == 1,
          s"portable=$portable: null-text doc not a canonical singleton: $r")
      }
      // the signature graph (each identical-signature group contracted
      // to its min id) labels docs exactly as the member-pair graph does
      val viaMembers = TextOps.dedupClustersFromEdges(docs, "doc_id",
        TextOps.minHashPairs(docs, "doc_id", "text", numHashes = 16,
          bands = 2, minEstimate = 0.7, portable = portable))
      assert(got == rows(viaMembers), s"portable=$portable")
      clusters.unpersist()
    }
    docs.unpersist()
  }

  test("dedupClusters: canonical per cluster, sizes add up, singletons kept") {
    val docs = Tables.documents(spark, sf).limit(200)
    val clusters = TextOps.dedupClusters(docs, "doc_id", "text", 0.9).cache()
    assert(clusters.count() == 200) // every doc is assigned
    // exactly one canonical doc per cluster, and it is the min id
    val perCluster = clusters.groupBy("cluster_id")
      .agg(sum("is_canonical").as("n_canon"),
        min("doc_id").as("min_id"), count(lit(1)).as("n"))
    assert(perCluster.where(col("n_canon") =!= 1).count() == 0)
    assert(perCluster.where(col("min_id") =!= col("cluster_id")).count() == 0)
    // cluster_size matches the actual member count
    val bad = clusters.join(perCluster, Seq("cluster_id"))
      .where(col("cluster_size") =!= col("n"))
    assert(bad.count() == 0)
    clusters.unpersist()
  }

  test("hits: star concentrates authority; L1 mass is 1 per score") {
    // s1..s4 all link to hub: hub is the ONLY authority (score 1),
    // the spokes are equal hubs (0.25 each), hub itself hubs nothing
    val star = (1 to 4).map(i => (s"s$i", "hub", 1.0)).toDF("u", "v", "w")
    val got = GraphOps.hits(star, iters = 3)
      .as[(String, Double, Double)].collect()
      .map { case (n, h, a) => n -> (h, a) }.toMap
    assert(math.abs(got("hub")._2 - 1.0) < 1e-9, got.toString)
    assert((1 to 4).forall(i => got(s"s$i")._2 == 0.0))
    assert((1 to 4).forall(i => math.abs(got(s"s$i")._1 - 0.25) < 1e-9))
    assert(got("hub")._1 == 0.0)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-6)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-6)
  }

  test("hits: edge weights steer authority; better-connected hub wins") {
    // a -(3)-> x, b -(1)-> x, b -(1)-> y: x out-authorities y (more
    // weighted in-links), and a out-hubs b (its one link carries
    // 3× weight into the stronger authority)
    val g = Seq(("a", "x", 3.0), ("b", "x", 1.0), ("b", "y", 1.0))
      .toDF("u", "v", "w")
    val got = GraphOps.hits(g, iters = 3)
      .as[(String, Double, Double)].collect()
      .map { case (n, h, a) => n -> (h, a) }.toMap
    assert(got("x")._2 > got("y")._2, got.toString)
    assert(got("a")._1 > got("b")._1, got.toString)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-6)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-6)
  }
}
