package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Distributed connected components — the step that turns near-dup
  * PAIRS into dedup CLUSTERS (one canonical document per component).
  *
  * Algorithm: min-label propagation with pointer jumping. Each
  * iteration (a) takes the min label over neighbors, (b) compresses
  * paths by replacing every label with its label's label. Pointer
  * jumping halves the remaining depth, so convergence is
  * O(log diameter) iterations — the property that makes iterative CC
  * viable on billion-node dedup graphs, where plain 1-hop propagation
  * would need diameter-many shuffles. Each iteration is two shuffles
  * (neighbor-min aggregation + compression join) on (long, long) rows.
  */
object GraphOps {

  /** Component label (minimum reachable id) for every node.
    *
    * @param edges undirected edge list, columns (`u`, `v`)
    * @param nodes one row per node, column `id` (isolated nodes keep
    *              their own id as label)
    * @return (`id`, `cluster_id`)
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame): DataFrame = {
    // Symmetrize with one explode, not a union: a union's two legs
    // would each re-evaluate the caller's edge plan, and for dedup
    // callers that plan is the expensive candidate join (LSH bands /
    // IVF cosine). Pinned because every round reads it. Lazy: the
    // first round's eager `stepped` pin reads it once and materializes it.
    val sym = Pin(edges
      .select(explode(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")), eager = false)

    // pinned per iteration: the compression step references the
    // previous frame twice, so the uncut plan would double per round
    var labels = Pin(nodes.select(col("id"), col("id").as("lbl")))
    var changed = 1L
    while (changed > 0) {
      // (a) min over own + neighbors' labels. The iteration-start
      // label rides along as `prev` so convergence detection below is
      // a scan of the pinned frame, not another shuffle join.
      val nbrMin = sym.join(labels, sym("v") === labels("id"))
        .groupBy(sym("u").as("nid")).agg(min(col("lbl")).as("nlbl"))
      // eager: `next` reads it on both join legs of one job
      val stepped = Pin(labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(labels("id"),
          least(labels("lbl"), coalesce(col("nlbl"), labels("lbl"))).as("lbl"),
          labels("lbl").as("prev")))
      // (b) pointer jumping: lbl := lbl's current lbl (path compression).
      // Lazy: the convergence count right below materializes it.
      val l2 = stepped.select(col("id").as("jid"), col("lbl").as("jlbl"))
      val next = Pin(stepped.join(l2, stepped("lbl") === l2("jid"), "left")
        .select(stepped("id"),
          coalesce(col("jlbl"), stepped("lbl")).as("lbl"),
          stepped("prev")), eager = false)
      changed = next.where(col("lbl") =!= col("prev")).count()
      // `next` is materialized and no longer reads stepped or labels:
      // drop both, so deep graphs hold one iteration's blocks at a time
      Pin.release(stepped)
      Pin.release(labels)
      labels = next
    }
    Pin.release(sym)
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Weighted PageRank by power iteration — crawl-frontier
    * prioritization over the (domain → domain) link graph: rank mass
    * flows along edges proportionally to link weight, damped, with
    * dangling mass redistributed uniformly so total rank stays 1.
    *
    *   r'(v) = (1-d)/N + d·( Σ_u r(u)·w(u,v)/out(u) + dangling/N )
    *
    * Each of the `iters` rounds is ONE shuffle join of the (node,rank)
    * frame against the edge list plus a key-grouped sum — rank rows
    * are (string, double), edges never rebuild, so a billion-edge
    * domain graph pays iters·|edges| join work and nothing quadratic.
    * Ranks are snapped to 9 dp each round (same contract as
    * [[graft.ops.VectorOps]]' Lloyd rounds): the NEXT round's input is
    * bit-identical on any engine, so an oracle can replay the
    * iteration exactly; order-dependent double summation inside one
    * round is the documented measure-zero risk shared with p09.
    *
    * Convergence: with `tol` set, iteration stops as soon as the max
    * per-node rank change of a round is ≤ tol — the delta is read from
    * the round's already-pinned frame (the previous rank
    * rides along as `prev`, the CC loop's convergence-read pattern), so
    * early-stop costs one scalar scan of materialized rows per round,
    * not a recompute. `tol = None` (the oracle mode) runs exactly
    * `iters` rounds — bit-identical to the pre-early-stop behavior.
    *
    * @param edges  (`u`, `v`, `w`) directed weighted edges; parallel
    *               edges should be pre-aggregated into `w`
    * @return (`node`, `rank`) for every node appearing as src or dst
    */
  def pageRank(edges: DataFrame, iters: Int,
               damping: Double = 0.85,
               tol: Option[Double] = None): DataFrame =
    pageRankRounds(edges, iters, damping, tol)._1

  /** [[pageRank]] plus the number of rounds actually run — the
    * observable the early-stop spec asserts on.
    */
  def pageRankRounds(edges: DataFrame, iters: Int,
                     damping: Double = 0.85,
                     tol: Option[Double] = None): (DataFrame, Int) = {
    require(iters > 0, "iters must be positive")
    require(tol.forall(_ > 0), "tol must be positive")
    // lazy: the node count below reads it once and materializes it
    val e = Pin(edges.select(col("u").cast("string").as("u"),
      col("v").cast("string").as("v"), col("w").cast("double").as("w")),
      eager = false)
    val nodes = e.select(explode(array(col("u"), col("v"))).as("node")).distinct()
    val n = nodes.count()
    // normalized out-weights: each edge carries the FRACTION of its
    // source's rank it transports — computed once, reused every round.
    // Lazy: the first round's rank frame reads it once.
    val outW = e.groupBy(col("u")).agg(sum(col("w")).as("ow"))
    val frac = Pin(e.join(outW, Seq("u"))
      .select(col("u"), col("v"), (col("w") / col("ow")).as("f")), eager = false)
    val hasOut = outW.select(col("u").as("node"))

    var ranks = Pin(nodes.select(col("node"), round(lit(1.0) / n, 9).as("rank")))
    var rounds = 0
    var converged = false
    // Round frames are lazy pins: each round's one-double driver read
    // (the dangling-mass scalar) materializes the previous round's
    // frame. A predecessor may be released only AFTER that read —
    // hence the one-round-delayed release.
    var pendingRelease: Option[DataFrame] = None
    while (rounds < iters && !converged) {
      // dangling nodes hold rank but transport none through edges;
      // their mass re-enters uniformly (the standard teleport fix)
      // scalar per round, same class as the CC loop's convergence
      // count — a one-double driver read, not a data-plane collect.
      // This read is also what materializes a lazily pinned
      // `ranks` from the previous round.
      val dangling = ranks.join(hasOut, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("m"))
        .head().getDouble(0)
      pendingRelease.foreach(Pin.release)
      pendingRelease = None
      val inbound = frac.join(ranks, frac("u") === ranks("node"))
        .groupBy(frac("v").as("node"))
        .agg(sum(col("rank") * col("f")).as("m"))
      // ranks is the spine (it covers every node, invariantly), so the
      // outgoing rank can ride along as `prev` for the delta read
      val next = Pin(ranks.select(col("node"), col("rank").as("prev"))
        .join(inbound, Seq("node"), "left")
        .select(col("node"),
          round(lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("m"), lit(0.0)) + lit(dangling / n)),
            9).as("rank"),
          col("prev")), eager = false)
      rounds += 1
      converged = tol.exists { t =>
        next.agg(max(abs(col("rank") - col("prev"))))
          .head().getDouble(0) <= t
      }
      pendingRelease = Some(ranks)
      ranks = next
    }
    // the final round's frame may still be unmaterialized — pin it
    // before its (truncated-lineage) inputs are dropped below
    ranks.count()
    pendingRelease.foreach(Pin.release)
    Pin.release(e)
    Pin.release(frac)
    (ranks.select(col("node"), col("rank")), rounds)
  }

  /** Synchronous label propagation (Raghavan et al. 2007), the
    * fixed-round deterministic variant: labels start as node ids;
    * each round every node adopts the neighbor label with the
    * greatest incident edge weight, ties to the SMALLEST label. The
    * argmax is ONE partial-agg `min(struct(-s, lbl))` per round — no
    * per-node sorts — and fixed rounds + total tie order make the
    * result engine-reproducible (u12's oracle unrolls the same
    * rounds). Input edges are treated as undirected (symmetrized,
    * parallel edges summed); callers use integer-count weights, so
    * the weight sums are double-exact. Per-round shuffle is |edges|
    * label lookups + a node-key agg — the u06 round shape.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds > 0, "rounds must be positive")
    val dir0 = edges.select(col("u").cast("string").as("u"),
      col("v").cast("string").as("v"), col("w").cast("double").as("w"))
    // lazy: the first labels pin below reads it once and materializes it
    val und = Pin(dir0
      .unionAll(dir0.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy("u", "v").agg(sum(col("w")).as("w")), eager = false)
    val nodes = und.select(col("u").as("node")).distinct()
    var labels = Pin(nodes.select(col("node"), col("node").as("lbl")))
    (1 to rounds).foreach { _ =>
      val nbr = und
        .join(labels.select(col("node").as("v"), col("lbl").as("nl")),
          Seq("v"))
        .groupBy("u", "nl").agg(sum(col("w")).as("s"))
      val prev = labels
      labels = Pin(nbr.groupBy("u")
        .agg(min(struct((col("s") * -1).as("ns"), col("nl"))).as("m"))
        .select(col("u").as("node"), col("m.nl").as("lbl")))
      Pin.release(prev)
    }
    Pin.release(und)
    labels
  }

  /** HITS hubs & authorities (Kleinberg) by power iteration — the
    * complement of [[pageRank]] for seed-quality scoring: a good HUB
    * links to many good authorities (a crawl seed list), a good
    * AUTHORITY is linked from many good hubs (a canonical source).
    *
    *   a'(v) = Σ_{u→v} h(u)·w(u,v)      (then L1-normalize)
    *   h'(u) = Σ_{u→v} a'(v)·w(u,v)     (then L1-normalize)
    *
    * Same oracle-replay contract as [[pageRank]]: every half-step
    * snaps to 9 dp (raw scores, then normalized scores), so the next
    * step's input is bit-identical on any engine and a SQL oracle can
    * unroll the iteration. L1 (sum) normalization instead of the
    * textbook L2 keeps the oracle to exact +/× on snapped values —
    * the relative ORDER of scores is identical under either norm.
    *
    * Scale: each half-step is ONE shuffle join of the (node, score)
    * frame against the edge list plus a key-grouped sum — score rows
    * are (string, double), edges are pinned once, so a billion-edge graph
    * pays 2·iters·|edges| join work and nothing quadratic. The L1
    * total is a one-double driver read per half-step (the dangling-
    * mass pattern), not a data-plane collect.
    *
    * @param edges (`u`, `v`, `w`) directed weighted edges; parallel
    *              edges should be pre-aggregated into `w` (weights > 0)
    * @return (`node`, `hub`, `auth`) for every node in the graph
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters > 0, "iters must be positive")
    // both lazy: the node count below reads each once and materializes both
    val e = Pin(edges.select(col("u").cast("string").as("u"),
      col("v").cast("string").as("v"), col("w").cast("double").as("w")),
      eager = false)
    val nodes = Pin(e.select(explode(array(col("u"), col("v"))).as("node"))
      .distinct(), eager = false)
    val n = nodes.count()

    // one normalized propagation half-step: score flows across `ekey`
    // (u→v for authorities, v→u for hubs), snaps, L1-normalizes, snaps
    def halfStep(score: DataFrame, scoreCol: String,
                 from: String, to: String, outCol: String): DataFrame = {
      val flowed = e.join(score, e(from) === score("node"))
        .groupBy(e(to).as("node"))
        .agg(sum(col(scoreCol) * col("w")).as("s"))
      // lazy: the L1-total read right below materializes it
      val raw = Pin(nodes.join(flowed, Seq("node"), "left")
        .select(col("node"), round(coalesce(col("s"), lit(0.0)), 9).as("raw")),
        eager = false)
      val total = raw.agg(sum(col("raw"))).head().getDouble(0)
      val out = Pin(raw
        .select(col("node"), round(col("raw") / lit(total), 9).as(outCol)))
      Pin.release(raw)
      out
    }

    var hub = Pin(nodes.select(col("node"), round(lit(1.0) / n, 9).as("hub")))
    var auth: DataFrame = null
    var i = 0
    while (i < iters) {
      val authNext = halfStep(hub, "hub", "u", "v", "auth")
      if (auth != null) Pin.release(auth)
      auth = authNext
      val hubNext = halfStep(auth, "auth", "v", "u", "hub")
      Pin.release(hub)
      hub = hubNext
      i += 1
    }
    val res = hub.join(auth, Seq("node")).select(col("node"), col("hub"), col("auth"))
    Pin.release(e)
    Pin.release(nodes)
    res
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected simple graph (self-loops and parallel/reverse
    * duplicates removed here). Degree-ORIENTED wedge join — the
    * standard skew-safe distributed algorithm: direct every edge from
    * its lower-(degree, node) endpoint to the higher one, enumerate
    * wedges only at each edge's LOW endpoint, and close them against
    * the oriented edge set. Orientation caps every node's out-degree
    * at O(√m), so the wedge fan-out is Σ outdeg² ≤ O(m^1.5) total and
    * no single hub explodes a partition — the property that lets this
    * run on a billion-edge web graph where naive neighbor-pair
    * enumeration at hubs is quadratic. Three hash shuffles (degree,
    * wedge, close), all on node keys.
    *
    * Output: (node, degree, n_triangles, clustering) with
    * clustering = 2T / (d·(d−1)) rounded to 6 dp (0.0 for d < 2 — a
    * defined value, not NULL, so engine NULL/NaN conventions can't
    * desynchronize a report that is otherwise exact integers), one
    * row per node including triangle-free ones.
    */
  def triangleStats(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    // canonical undirected simple edges a < b
    val und = edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient each edge low→high in the (deg, node) total order; carry
    // the dst's order key for the wedge-side rank compare
    val withDegs = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // eager: the wedge join and the close read it three times in one job.
    // `und` is not pinned: this job reuses its distinct's exchange, and
    // the result's `deg` recomputes it once from the edge scan
    val oriented = Pin(withDegs.select(
        when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv")))
    // wedges at the low endpoint: (v, w) with rank(v) < rank(w), both
    // out-neighbors of u — then close with the oriented edge v→w
    val o1 = oriented.select(col("u"), col("v"), col("dv"))
    val o2 = oriented.select(col("u"), col("v").as("w"), col("dv").as("dw"))
    val wedges = o1.join(o2, Seq("u"))
      .where(col("dv") < col("dw")
        || (col("dv") === col("dw") && col("v") < col("w")))
    val triangles = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")),
        Seq("v", "w"), "left_semi")
      .select(col("u"), col("v"), col("w"))
    val perNode = triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    // pinned before dropping the oriented edges the plan reads
    val res = Pin(deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy("node"))
    Pin.release(oriented)
    res
  }
}
