package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scalar math is pure `functions._` HOFs (zip_with/aggregate) — stays
  * inside whole-stage codegen, no UDF serialization. Dot products fold
  * left-to-right in element order, so results are deterministic and
  * reproducible across engines.
  *
  * Scale notes (100 TB): [[knnBruteForce]] broadcasts the (small) query
  * side and computes exact top-k per partition before the final top-k
  * shuffle — correct baseline, O(N·Q). The scale path is
  * [[lshNearestNeighbors]]: sign-random-projection buckets cut the
  * candidate set to docs sharing a bucket, then exact rerank.
  */
object VectorOps {

  import graft.functions.VectorExpressions.vector_dot

  /** dot(a, b) in double precision, sequential fold in element order.
    * Native expression — bit-identical to the HOF
    * `aggregate(zip_with(...))` formulation, ~10× cheaper per pair.
    */
  def dot(a: Column, b: Column): Column = vector_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** [[dot]]'s element-order fold as a HOF, for arrays `vector_dot` does
    * not take (double or integer elements, float against double).
    */
  private def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y), lit(0.0), (acc, t) => acc + t)

  // ---- nearest-neighbour core: top-k, pair scoring, brute-force kernel

  /** Top-`k` rows per `part` by `order`, ranked into `rank`; the
    * `row_number() <= k` filter lets Spark plan a WindowGroupLimit.
    */
  private def topK(df: DataFrame, part: String, order: Seq[Column], k: Int,
                   rank: String): DataFrame =
    df.withColumn(rank, row_number().over(Window.partitionBy(part).orderBy(order: _*)))
      .where(col(rank) <= k)

  /** [[topK]] per `id_a` on `(score DESC, id_b)`: the neighbour order. */
  private def topKDesc(scored: DataFrame, score: String, k: Int,
                       rank: String = "rk"): DataFrame =
    topK(scored, "id_a", Seq(col(score).desc, col("id_b")), k, rank)

  /** `(id, vec, nrm)`: the norm is computed once per vector, not per pair. */
  private def kmBase(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))

  /** A [[kmBase]] frame's `keys`, then `id`/`vec`/`nrm` suffixed `_s`. */
  private def side(df: DataFrame, s: String, keys: String*): DataFrame =
    df.select(keys.map(col) ++ Seq(col("id").as(s"id_$s"),
      col("vec").as(s"vec_$s"), col("nrm").as(s"nrm_$s")): _*)

  /** A joined pair frame scored as `(id_a, id_b, cos)`. */
  private def pairCos(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
      (dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b"))).as("cos"))

  /** [[pairCos]] of the pairs sharing `key` that `keep(id_a, id_b)`. */
  private def keyedPairCos(df: DataFrame, key: String,
                           keep: (Column, Column) => Column): DataFrame =
    pairCos(side(df, "a", key).join(side(df, "b", key), Seq(key))
      .where(keep(col("id_a"), col("id_b"))))

  /** The sequential double fold that `vector_dot` runs. Bounding the
    * loop by both lengths lets the JIT drop per-element range checks.
    */
  private def arrayDot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var j = 0
    while (j < n) { s += a(j).toDouble * b(j).toDouble; j += 1 }
    s
  }

  private def kernelNorm(v: Array[Float]): Double = math.sqrt(arrayDot(v, v))

  /** [[arrayDot]] of two kernel rows; mismatched dimensions (corrupt
    * embeddings) fail naming both ids instead of truncating. A plain
    * `if`, not `require`: its by-name message would be a closure per pair.
    */
  private def kernelDot(op: String, idA: Long, a: Array[Float],
                        idB: Long, b: Array[Float]): Double = {
    if (a.length != b.length) throw new IllegalArgumentException(
      s"$op: dimension mismatch — id $idA has ${a.length} dims, id $idB has ${b.length}")
    arrayDot(a, b)
  }

  /** A kernel's small side: a column-pruned limit-count probe (never a
    * full scan) that fails with `tooBig` past `maxRows`, then the
    * collected rows and their norms, broadcast.
    */
  private def broadcastSmallSide[T](df: DataFrame, idCol: String, maxRows: Int,
                                    tooBig: => String)(rows: => Array[T])(
                                    vec: T => Array[Float],
                                    nrm: Array[Float] => Double)
      : Broadcast[(Array[T], Array[Double])] = {
    val probe = df.select(col(idCol)).limit(maxRows + 1).count()
    require(probe <= maxRows, tooBig)
    val collected = rows
    df.sparkSession.sparkContext.broadcast((collected, collected.map(r => nrm(vec(r)))))
  }

  /** The brute-force kernel body: each left row scores every other
    * broadcast right row as `dot / (nrm_a * nrm_b)` and keeps its top
    * `k`. MIPS passes norm 1.0: `d / (1.0 * 1.0)` is `d` bit for bit.
    */
  private def bruteForceTopK(op: String, left: DataFrame, right: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             maxRightRows: Int, tooBig: => String,
                             nrm: Array[Float] => Double,
                             score: String): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    def rows(df: DataFrame) = df.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
    val bc = broadcastSmallSide(right, idCol, maxRightRows, tooBig)(
      rows(right).collect())(_._2, nrm)
    rows(left).mapPartitions { it =>
      val (rRows, rNorms) = bc.value
      it.flatMap { case (idA, vecA) =>
        topKOfRow(op, idA, vecA, nrm(vecA), rRows, rNorms, k)
          .map { case (rk, idB, s) => (idA, rk, idB, s) }
      }
    }.toDF("id_a", "rk", "id_b", score)
  }

  /** One left row's top `k` by (score DESC, id ASC) over every other
    * right row, scored `dot / (nrmA * rNorm)`: a bounded insertion into
    * k slots. Returns (rank, id, score) of the filled slots.
    */
  private def topKOfRow(op: String, idA: Long, vecA: Array[Float], nrmA: Double,
                        rRows: Array[(Long, Array[Float])], rNorms: Array[Double],
                        k: Int): Iterator[(Int, Long, Double)] = {
    val topS = Array.fill(k)(Double.NegativeInfinity)
    val topId = new Array[Long](k)
    var r = 0
    while (r < rRows.length) {
      val (idB, vecB) = rRows(r)
      if (idB != idA) {
        val s = kernelDot(op, idA, vecA, idB, vecB) / (nrmA * rNorms(r))
        // find the insertion slot (better = higher score, or equal score + lower id)
        var slot = k
        var s2 = k - 1
        while (s2 >= 0 && (s > topS(s2) ||
          (s == topS(s2) && idB < topId(s2)))) { slot = s2; s2 -= 1 }
        if (slot < k) {
          var m = k - 1
          while (m > slot) { topS(m) = topS(m - 1); topId(m) = topId(m - 1); m -= 1 }
          topS(slot) = s; topId(slot) = idB
        }
      }
      r += 1
    }
    (0 until k).iterator.filter(s => topS(s) != Double.NegativeInfinity)
      .map(s => (s + 1, topId(s), topS(s)))
  }

  /** Exact top-k neighbors for every vector (excluding self).
    * `right` is broadcast — at scale, the query set is the small side.
    * Norms are computed once per vector, not once per pair.
    */
  def knnBruteForce(left: DataFrame, right: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    val a = side(kmBase(left, idCol, vecCol), "a")
    val b = side(kmBase(right, idCol, vecCol), "b")
    topKDesc(pairCos(a.join(broadcast(b), col("id_a") =!= col("id_b"))), "cos", k)
      .select("id_a", "rk", "id_b", "cos")
  }

  /** Brute-force kNN as a per-partition primitive kernel — the
    * mapPartitions "last resort" used deliberately: a dense numeric
    * all-pairs loop gains nothing from Catalyst row machinery (the
    * declarative [[knnBruteForce]] spends most of its time copying
    * array columns through join rows). Math is the identical
    * sequential double fold and the top-k ordering matches
    * (cos DESC, id ASC), so results are bit-for-bit the same.
    * The right side is collected and broadcast — same contract as the
    * broadcast join in the declarative form, and the row guard makes
    * that contract self-enforcing: a right side past `maxRightRows`
    * fails fast with a pointer to the scale-path twins
    * ([[lshNearestNeighbors]], s03; [[ivfNearestNeighbors]], s05)
    * instead of OOMing the driver at collect. The probe is a
    * column-pruned limit-count, never a full scan. A left row gets up
    * to `k` neighbours whether or not its id is also on the right
    * side; vectors of different dimensions fail, naming both ids.
    */
  def knnBruteForceKernel(left: DataFrame, right: DataFrame, idCol: String,
                          vecCol: String, k: Int,
                          maxRightRows: Int = 1 << 20): DataFrame =
    bruteForceTopK("knnBruteForceKernel", left, right, idCol, vecCol, k,
      maxRightRows,
      s"knnBruteForceKernel right side exceeds $maxRightRows rows — " +
        "brute force is the small-query-side fixture; use the bucketed " +
        "scale paths instead: VectorOps.lshNearestNeighbors (s03) or " +
        "ivfNearestNeighbors (s05)",
      kernelNorm, "cos")

  /** Maximum-inner-product search (MIPS) — top-k by RAW dot product,
    * the retrieval objective when magnitude carries signal (recommender
    * scores, unnormalized query/doc towers) and cosine's normalization
    * would erase it. The [[knnBruteForceKernel]] body with unit norms
    * (broadcast right side, row guard, bounded top-k insertion, ties
    * broken by lower id, dimension check), scoring `dot` instead of
    * `cos`.
    *
    * Scale path: the norm-augmentation reduction (Bachrach et al.
    * 2014) — append sqrt(M² − ‖x‖²) to each database vector and 0 to
    * queries, where M = max norm — turns MIPS into cosine NN, so the
    * s03 LSH / s05 IVF bucketed tiers apply unchanged; this kernel is
    * the exact small-right-side fixture that gates them.
    */
  def mipsBruteForceKernel(left: DataFrame, right: DataFrame, idCol: String,
                           vecCol: String, k: Int,
                           maxRightRows: Int = 1 << 20): DataFrame =
    bruteForceTopK("mipsBruteForceKernel", left, right, idCol, vecCol, k,
      maxRightRows,
      s"mipsBruteForceKernel right side exceeds $maxRightRows rows — " +
        "use the norm-augmented bucketed tiers (see Scaladoc) instead",
      _ => 1.0, "dot")

  /** MMR diversified rerank (Carbonell & Goldstein 1998): per query,
    * take the top-`kCand` candidates by cosine relevance, then
    * greedily select `kSelect` of them by Maximal Marginal Relevance —
    * score = λ·rel − (1−λ)·max-sim-to-already-selected — so the final
    * list trades relevance against redundancy (the standard RAG /
    * search-results diversification step).
    *
    * The selection loop unrolls into `kSelect` deterministic plan
    * stages (anti-join remaining → max-sim fold → per-query argmax);
    * scores snap to 6 dp before the argmax so the greedy path is
    * engine-portable, ties break on the lower candidate id. All
    * per-round joins are keyed on the query id and the candidate sets
    * are bounded by `kCand`, so every stage is a bounded per-query
    * computation at any corpus scale; candidate generation itself is
    * the brute-force fixture — swap in the LSH/IVF tiers (s03/s05)
    * for the 100 TB candidate stage.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, kCand: Int, kSelect: Int,
                lambda: Double): DataFrame = {
    require(kSelect >= 1 && kCand >= kSelect, "need 1 <= kSelect <= kCand")
    // pin the two bounded intermediates: every round references cand
    // (anti-join + rescore) and every round after the first references
    // pairs — unpinned, each round would re-run the full corpus-scale
    // candidate scoring. Both are |Q|·kCand(²) rows by construction, so
    // the pins are tiny at any corpus size. cand is eager (pairs
    // self-joins it); pairs is lazy (round 2's eager pin reads it once)
    val cand = Pin(knnBruteForceKernel(queries, corpus, idCol, vecCol, kCand)
      .select(col("id_a").as("qid"), col("id_b").as("cid"),
        col("cos").as("rel")))
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nv"))
    // candidate×candidate cosines within each query's bounded set
    val pairs = Pin(cand.select(col("qid"), col("cid"))
      .join(cand.select(col("qid"), col("cid").as("cid2")), Seq("qid"))
      .where(col("cid") =!= col("cid2"))
      .join(broadcast(vecs), col("cid") === col("vid"))
      .select(col("qid"), col("cid"), col("cid2"),
        col("v").as("va"), col("nv").as("na"))
      .join(broadcast(vecs), col("cid2") === col("vid"))
      .select(col("qid"), col("cid"), col("cid2"),
        (dot(col("va"), col("v")) / (col("na") * col("nv"))).as("sim")),
      eager = false)
    val lam = lit(lambda)
    // expression-level 1-λ (NOT a Scala-side subtraction result typed
    // into SQL): both engines then run the identical IEEE 1-λ
    val mu = lit(1.0) - lit(lambda)
    def pick(scored: DataFrame, r: Int): DataFrame =
      topK(scored, "qid", Seq(col("score").desc, col("cid")), 1, "__rk")
        .select(col("qid"), col("cid"), lit(r).as("mmr_rank"),
          col("rel"), col("score"))
    // pin each round's selection too, eagerly: round r references
    // sel(r−1) twice (anti-join + max-sim), so an unpinned lineage
    // re-executes every earlier round 2^r times (measured 5.4 s →
    // sub-second once the rounds were cached). Once round r is pinned,
    // round r−1 is no longer read and is released.
    var sel = Pin(pick(cand.withColumn("score", round(lam * col("rel"), 6)), 1))
    for (r <- 2 to kSelect) {
      val rem = cand.join(sel.select(col("qid"), col("cid")),
        Seq("qid", "cid"), "left_anti")
      val ms = pairs.join(sel.select(col("qid"), col("cid").as("cid2")),
          Seq("qid", "cid2"))
        .groupBy("qid", "cid").agg(max(col("sim")).as("maxsim"))
      val scored = rem.join(ms, Seq("qid", "cid"))
        .withColumn("score",
          round(lam * col("rel") - mu * col("maxsim"), 6))
      val prev = sel
      sel = Pin(sel.unionByName(
        pick(scored.select("qid", "cid", "rel", "score"), r)))
      Pin.release(prev)
    }
    // the last round's pin holds the |Q|·kSelect-row result (bounded by
    // construction); it no longer reads cand or pairs
    Pin.release(cand)
    Pin.release(pairs)
    sel.select(col("qid").as("query_id"), col("mmr_rank"),
      col("cid").as("vec_id"), col("rel").as("relevance"),
      col("score").as("mmr_score"))
  }

  /** Near-duplicate pairs by embedding cosine (id_a < id_b, cos >= threshold). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val v = kmBase(df, idCol, vecCol)
    pairCos(side(v, "a").join(broadcast(side(v, "b")), col("id_a") < col("id_b")))
      .where(col("cos") >= threshold)
  }

  /** Batch-hard triplet mining (the FaceNet recipe, Schroff et al.
    * 2015, arXiv:1503.03832 §3.2): per anchor, the HARDEST positive
    * (same label, lowest cosine) and HARDEST negative (different
    * label, highest cosine), plus whether the pair violates the
    * margin — the rows a metric-learning trainer actually consumes.
    *
    * Deterministic tie-breaks: lowest id wins on equal cosine, both
    * sides. Anchors missing a positive (singleton label) or a
    * negative (single-label corpus) are dropped.
    *
    * Scale shape: the same per-partition primitive-kernel contract as
    * [[knnBruteForceKernel]] (and its reason: the declarative
    * broadcast-join form spends most of its time copying array
    * columns through join rows — measured 2× slower at sf0.1).
    * Batch-hard mining is by construction per-batch, so the
    * broadcast right side is one mining batch, never the corpus;
    * corpus-scale mining blocks by label or IVF cell first
    * ([[ivfAssign]]) and runs this within blocks — the `maxRightRows`
    * guard makes that contract self-enforcing. The math is the
    * identical sequential double fold as the kernel kNN (bit-parity
    * to the declarative cosine, spec-proven there), argmin/argmax
    * ties break on the lower id. `labelCol` must be int-typed.
    */
  def tripletMine(df: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, margin: Double,
                  maxRightRows: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val typed = df.select(col(idCol), col(vecCol),
      col(labelCol).cast("int")).as[(Long, Array[Float], Int)]
    val bc = broadcastSmallSide(df, idCol, maxRightRows,
      s"tripletMine batch exceeds $maxRightRows rows — batch-hard " +
        "mining is per-batch by contract; block by label or IVF cell " +
        "(VectorOps.ivfAssign) and mine within blocks")(
      typed.collect())(_._2, kernelNorm)
    typed.mapPartitions { it =>
      val (rRows, rNorms) = bc.value
      it.flatMap { case (idA, vecA, labA) =>
        val nrmA = kernelNorm(vecA)
        // hardest positive: lowest same-label cos; hardest negative:
        // highest cross-label cos; equal cos → lower id wins
        var posCos = 0.0; var posId = -1L; var hasPos = false
        var negCos = 0.0; var negId = -1L; var hasNeg = false
        var r = 0
        while (r < rRows.length) {
          val (idB, vecB, labB) = rRows(r)
          if (idB != idA) {
            val cos = kernelDot("tripletMine", idA, vecA, idB, vecB) / (nrmA * rNorms(r))
            if (labB == labA) {
              if (!hasPos || cos < posCos ||
                (cos == posCos && idB < posId)) {
                posCos = cos; posId = idB; hasPos = true
              }
            } else {
              if (!hasNeg || cos > negCos ||
                (cos == negCos && idB < negId)) {
                negCos = cos; negId = idB; hasNeg = true
              }
            }
          }
          r += 1
        }
        if (hasPos && hasNeg)
          Iterator.single((idA, labA, posId, posCos, negId, negCos,
            negCos > posCos - margin))
        else Iterator.empty
      }
    }.toDF("id_a", "label", "id_pos", "cos_pos", "id_neg", "cos_neg",
      "violation")
  }

  /** SemDeDup-style semantic dedup census (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus into IVF cells, score
    * cosine only WITHIN cells, connect pairs above `threshold`, and
    * label connected components with their minimum id (the kept
    * representative). The cell step is what makes semantic dedup
    * linear-ish at 100 TB — candidate pairs are intra-cell only,
    * never corpus × corpus; components are labeled by the same
    * O(log diameter) pointer-jumping as the text dedup clusters
    * (d05/d06), so the whole op is cells + one bounded pair join +
    * ~30 label rounds at any scale.
    *
    * Same caveat as SemDeDup itself: near-dups straddling a cell
    * boundary are missed; raise `probes` to trade recall for pair
    * work (a pair connects if the two vectors co-occur in ANY probed
    * cell).
    *
    * Output: (doc_id, cluster_id, cluster_size, is_canonical) over
    * the id column — keep `is_canonical = 1` rows to dedup.
    */
  def semanticDedupClusters(df: DataFrame, idCol: String, vecCol: String,
                            nCells: Int, threshold: Double,
                            probes: Int = 1,
                            portablePivots: Boolean = false): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol, nCells, probes, portablePivots)
    val scored = keyedPairCos(assigned, "cell", _ < _)
      .where(col("cos") >= threshold)
      .select("id_a", "id_b")
    // only multi-probe can surface a pair in several cells; at the
    // default probes=1 each id lives in exactly one cell, so the
    // distinct would be a full extra shuffle of the candidate stream
    // for nothing
    val edges = if (probes > 1) scored.distinct() else scored
    graft.ops.TextOps.dedupClustersFromEdges(df, idCol, edges)
  }

  /** Deterministic pseudo-random hyperplane component: hash of
    * (plane, dim) mapped to [-1, 1). Reproducible with no RNG state.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(2000001L)).cast("double") / 1000000.0) - 1.0

  /** Bucket id: bit `p` set where plane `p`'s projection is positive. */
  private def planeBits(numPlanes: Int)(proj: Int => Column): Column =
    (0 until numPlanes).map { p =>
      when(proj(p) > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Sign-random-projection LSH bucket id: one bit per hyperplane. */
  def lshBucket(vec: Column, numPlanes: Int): Column = planeBits(numPlanes) { p =>
    aggregate(
      zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, i) => x.cast("double") * planeComponent(p, i)),
      lit(0.0), (acc, v) => acc + v)
  }

  /** Portable LSH bucket: hyperplane components derive from the MD5
    * hash of `"<plane>,<dim>"` ([[graft.functions.PortableHash]]), so
    * any engine reproduces the same buckets. The plane matrix is
    * materialized driver-side as literals — cheaper than per-row
    * hashing AND engine-independent. Oracle-verified flavor (s03).
    */
  def lshBucketPortable(vec: Column, numPlanes: Int, dim: Int): Column =
    planeBits(numPlanes) { p =>
      val weights = typedlit((0 until dim).map(i =>
        graft.functions.PortableHash.unitValue(s"$p,$i")))
      dotFold(vec, weights)
    }

  /** `n` pivot rows `(pid, pvec, extra…)` by lowest xxhash64(id), or
    * with `portable` lowest MD5 hex of the id string (any engine, s05).
    */
  private def pickPivots(df: DataFrame, idCol: String, vecCol: String, n: Int,
                         portable: Boolean, extra: Column*): DataFrame = {
    val order = if (portable) md5(col("pid").cast("string")) else xxhash64(col("pid"))
    df.select(Seq(col(idCol).as("pid"), col(vecCol).as("pvec")) ++ extra: _*)
      .orderBy(order, col("pid")).limit(n)
  }

  /** [[pickPivots]] on the driver, widened to double, sorted by id. */
  private def pivotVectors(df: DataFrame, idCol: String, vecCol: String, n: Int,
                           portable: Boolean): Seq[(Long, Array[Double])] =
    pickPivots(df, idCol, vecCol, n, portable)
      .select(col("pid"), transform(col("pvec"), x => x.cast("double")).as("cvec"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** IVF cell assignment: pick `nCells` deterministic pivots, assign
    * every vector to its `probes` nearest — the shared front half of
    * IVF search and IVF maintenance. Returns (cell, id, vec, nrm).
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                nCells: Int, probes: Int = 1,
                portablePivots: Boolean = false): DataFrame = {
    val pivots = pickPivots(df, idCol, vecCol, nCells, portablePivots,
      norm(col(vecCol)).as("pnrm"))
    val sims = kmBase(df, idCol, vecCol).join(broadcast(pivots))
      .select(col("id"), col("vec"), col("nrm"), col("pid"),
        (dot(col("vec"), col("pvec")) / (col("nrm") * col("pnrm"))).as("psim"))
    topK(sims, "id", Seq(col("psim").desc, col("pid")), probes, "prk")
      .select(col("pid").as("cell"), col("id"), col("vec"), col("nrm"))
  }

  /** Per-cell element-wise centroids — the IVF maintenance / k-means
    * step: mean of each vector component within a cell. One explode +
    * one shuffle on (cell, i); centroid components are rounded to 6 dp
    * so the result is engine-independent (double summation order
    * differs across engines by ~1 ulp). Output: (cell, i, c, n) with
    * i 1-based.
    */
  def ivfCellCentroids(df: DataFrame, idCol: String, vecCol: String,
                       nCells: Int,
                       portablePivots: Boolean = false): DataFrame =
    ivfAssign(df, idCol, vecCol, nCells, probes = 1, portablePivots)
      .select(col("cell"), posexplode(col("vec")))
      .select(col("cell"), (col("pos") + 1).as("i"), col("col").cast("double").as("x"))
      .groupBy("cell", "i")
      .agg(round(avg(col("x")), 6).as("c"), count(lit(1)).as("n"))

  /** Pairwise cosine between per-label mean embeddings — the
    * embedding-space drift/separation monitor: collapsing centroids
    * (cos → 1) mean two labels/sources have converged (a labeling
    * problem or a domain shift); it is also the cheap class-
    * separability report before training on the labels.
    *
    * Centroids are 6 dp-snapped dimension means (s06's contract), so
    * the report is engine-replayable; the pairwise stage runs on
    * labels² centroid rows — the corpus is read ONCE into
    * labels × dim mean cells and never self-joins.
    */
  def labelCentroidDrift(df: DataFrame, vecCol: String,
                         labelCol: String): DataFrame = {
    val cent = df
      .select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .select(col("label"), (col("pos") + 1).as("i"),
        col("col").cast("double").as("x"))
      .groupBy("label", "i")
      .agg(round(avg(col("x")), 6).as("c"))
      .groupBy("label")
      .agg(count(lit(1)).as("_dims"),
        transform(array_sort(collect_list(struct(col("i"), col("c")))),
          s => s.getField("c")).as("cv"))
    val a = cent.select(col("label").as("label_a"), col("cv").as("va"))
    val b = cent.select(col("label").as("label_b"), col("cv").as("vb"))
    val dotAb = dotFold(col("va"), col("vb"))
    val nrm = (v: Column) => sqrt(dotFold(v, v))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        (dotAb / (nrm(col("va")) * nrm(col("vb")))).as("cos_centroid"))
  }

  /** IVF-style ANN: partition the corpus into `nCells` Voronoi cells
    * around deterministically-chosen pivot vectors (lowest
    * xxhash64(id) — reproducible, no RNG/kmeans state), assign each
    * vector to its `probes` nearest pivots, then exact-rerank within
    * cells. Candidate work is N·nCells dots for assignment plus
    * intra-cell pairs — the standard IVF trade against brute force.
    */
  def ivfNearestNeighbors(df: DataFrame, idCol: String, vecCol: String,
                          nCells: Int, k: Int, probes: Int = 1,
                          portablePivots: Boolean = false): DataFrame = {
    // pinned (r19): the intra-cell self-join references the assignment
    // twice — each leg re-ran the scan + pivot broadcast + assignment
    // window
    val assigned = Pin(ivfAssign(df, idCol, vecCol, nCells, probes, portablePivots))
    val paired = keyedPairCos(assigned, "cell", _ =!= _)
    // multi-probe can surface a pair in several cells; single-probe
    // cannot, so skip the dedup shuffle there
    val scored = if (probes > 1) paired.distinct() else paired
    topKDesc(scored, "cos", k).select("id_a", "rk", "id_b", "cos")
  }

  /** The recall reports' sampled queries (`mdHash60(id) % sampleMod
    * == 0`), their exact top-`k` truth and their IVF lists.
    */
  private def recallSides(df: DataFrame, idCol: String, vecCol: String,
                          nCells: Int, k: Int, probes: Int, sampleMod: Int,
                          rank: String): (DataFrame, DataFrame, DataFrame) = {
    def sampled(c: Column): Column =
      graft.functions.PortableHash.mdHash60(c.cast("string")) % sampleMod === 0
    val base = kmBase(df, idCol, vecCol)
    val queries = side(base.where(sampled(col("id"))), "a")
    val truth = topKDesc(pairCos(side(base, "b")
      .join(broadcast(queries), col("id_a") =!= col("id_b"))), "cos", k, rank)
    val approx = ivfNearestNeighbors(df, idCol, vecCol, nCells, k, probes,
        portablePivots = true)
      .where(sampled(col("id_a")))
    (queries, truth, approx)
  }

  /** Recall CURVE — [[annRecallReport]] swept over k in one pass:
    * truth and index lists rank once to `kMax`, the join carries both
    * ranks, and each cutoff reads the same matched set. The
    * mean-recall-vs-k table is the operating curve that picks k for a
    * latency budget (the companion to the nCells/probes knobs).
    * Queries are assumed to have ≥ kMax true neighbors (corpus ≫
    * kMax), so the denominator is queries × k.
    */
  def annRecallCurve(df: DataFrame, idCol: String, vecCol: String,
                     nCells: Int = 16, kMax: Int = 5, probes: Int = 2,
                     sampleMod: Int = 20,
                     ks: Seq[Int] = Seq(1, 3, 5)): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= kMax),
      "cutoffs must lie in [1, kMax]")
    val (queries, truth, approx) =
      recallSides(df, idCol, vecCol, nCells, kMax, probes, sampleMod, "rk_t")
    val matched = truth.select("id_a", "id_b", "rk_t")
      .join(approx.select(col("id_a"), col("id_b"), col("rk").as("rk_a")),
        Seq("id_a", "id_b"))
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    val ksDf = df.sparkSession.range(1)
      .select(explode(array(ks.map(lit(_)): _*)).as("k"))
    val hits = matched
      .join(broadcast(ksDf),
        col("rk_t") <= col("k") && col("rk_a") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_hits"))
    ksDf.join(hits, Seq("k"), "left")
      .crossJoin(broadcast(nq))
      .select(col("k"), col("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / (col("n_queries") * col("k")), 6).as("mean_recall"))
      .orderBy("k")
  }

  /** ANN recall@k report — the index-tuning evaluation loop run
    * in-engine: on a deterministic hash-sampled query subset, exact
    * brute-force top-k is the ground truth and [[ivfNearestNeighbors]]
    * the candidate; per query, how many of the true k the index
    * returned. This is the number that decides nCells/probes (FAISS's
    * recall-QPS tradeoff) — without it an ANN deployment is untuned
    * guesswork.
    *
    * Scale shape: the ground truth is inherently exact, so it is
    * bounded the standard way — SAMPLE the queries (mod `sampleMod`
    * on the portable 60-bit hash), broadcast only the sampled side,
    * and stream the corpus through one cos + WindowGroupLimit top-k
    * (d17's pruning shape; the corpus is never broadcast and never
    * self-joined). The IVF side is the s05 plan filtered to the same
    * sample BEFORE its window. Queries with zero IVF candidates
    * (alone in every probed cell) still report, at recall 0, via the
    * truth-side left join.
    */
  def annRecallReport(df: DataFrame, idCol: String, vecCol: String,
                      nCells: Int = 16, k: Int = 3, probes: Int = 2,
                      sampleMod: Int = 20): DataFrame = {
    require(sampleMod >= 1, "sampleMod >= 1")
    val (_, truth, approx) =
      recallSides(df, idCol, vecCol, nCells, k, probes, sampleMod, "rk")
    truth.select("id_a", "id_b")
      .join(approx.select(col("id_a"), col("id_b")).withColumn("_hit", lit(1)),
        Seq("id_a", "id_b"), "left")
      .groupBy("id_a").agg(count(col("_hit")).as("n_hits"))
      .select(col("id_a"), col("n_hits"),
        (col("n_hits").cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** Semantic decontamination — [[graft.ops.TextOps.decontaminate]]'s
    * contract at EMBEDDING granularity: flag corpus vectors whose
    * cosine similarity to ANY eval-set vector reaches `threshold`
    * (paraphrased benchmark leakage that n-gram overlap structurally
    * misses — the reason semantic dedup papers run both filters).
    * Eval membership is the deterministic portable hash sample
    * (`mdHash60(id) % evalMod == 0`, the s17/s18 convention); corpus =
    * everything else.
    *
    * Scale shape: the SemDeDup cell trick (s09) applied cross-set —
    * both sides share ONE [[ivfAssign]] pass (pivots from the full
    * table, so cells are consistent), and only corpus×eval pairs
    * CO-RESIDENT in a probed cell are scored: candidate work is
    * intra-cell, never corpus×eval. The eval side of the cell join is
    * the small side and broadcasts. Same recall caveat as SemDeDup:
    * a contaminated pair straddling cell boundaries needs `probes` > 1
    * to surface (a pair connects if the two vectors co-occur in ANY
    * probed cell).
    *
    * Output: one row per CONTAMINATED corpus vector —
    * (id, n_eval_hits, max_cos, eval_id) with `eval_id` the
    * highest-cos (ties → lowest id) offending eval vector.
    */
  def semanticDecontaminate(df: DataFrame, idCol: String, vecCol: String,
                            evalMod: Int, nCells: Int, threshold: Double,
                            probes: Int = 1,
                            portablePivots: Boolean = false): DataFrame = {
    import graft.functions.PortableHash
    require(evalMod >= 2, "evalMod >= 2 (both sides must be non-empty)")
    val isEval = PortableHash.mdHash60(col("id").cast("string")) % evalMod === 0
    val assigned = ivfAssign(df, idCol, vecCol, nCells, probes, portablePivots)
    val corpus = assigned.where(!isEval)
      .select(col("cell"), col("id"), col("vec"), col("nrm"))
    val eval = assigned.where(isEval)
      .select(col("cell"), col("id").as("eval_id"),
        col("vec").as("vec_e"), col("nrm").as("nrm_e"))
    corpus.join(broadcast(eval), Seq("cell"))
      .select(col("id"), col("eval_id"),
        (dot(col("vec"), col("vec_e")) / (col("nrm") * col("nrm_e"))).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy(col("id"))
      // multi-probe may surface the same (corpus, eval) pair in
      // several cells: max is duplicate-immune, the hit count needs
      // the distinct
      .agg(countDistinct(col("eval_id")).as("n_eval_hits"),
        max(struct(col("cos"), (-col("eval_id")).as("neg"))).as("_top"))
      .select(col("id"), col("n_eval_hits"),
        col("_top.cos").as("max_cos"), (-col("_top.neg")).as("eval_id"))
  }

  /** ANN: bucket vectors by [[lshBucket]], exact cosine rerank within
    * buckets, top-k per query. Only intra-bucket pairs are scored.
    */
  def lshNearestNeighbors(df: DataFrame, idCol: String, vecCol: String,
                          numPlanes: Int, k: Int,
                          portableDim: Option[Int] = None): DataFrame = {
    val bucketed = kmBase(df, idCol, vecCol).withColumn("bucket", portableDim
      .map(d => lshBucketPortable(col("vec"), numPlanes, d))
      .getOrElse(lshBucket(col("vec"), numPlanes)))
    topKDesc(keyedPairCos(bucketed, "bucket", _ =!= _), "cos", k)
      .select("id_a", "rk", "id_b", "cos")
  }

  /** Product-quantization codes: split each vector into `m` subvectors
    * and assign every subvector to its nearest (L2) codeword — the
    * IVF-PQ compression step that shrinks a 100 TB embedding store to
    * `m` bytes/vector for candidate scanning. Codebooks are chosen
    * deterministically like [[ivfAssign]]'s pivots (lowest hash-of-id
    * vectors, subsliced per subspace) — no k-means RNG state, so codes
    * are reproducible in any engine (`portablePivots = true` is the
    * oracle-verified flavor).
    *
    * Scale shape: the codebook (m·nCentroids subvectors) broadcasts;
    * distance evaluation is a narrow explode over subspaces; the
    * argmin is `min(struct(dist, codeword))` — partial-aggregatable
    * map-side, so the one shuffle carries a single row per (id, sub),
    * never the per-codeword candidates (a window argmin would).
    * Output: (id, sub, code, sq_err), sq_err rounded to 6 dp.
    */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
              m: Int, nCentroids: Int, dim: Int,
              portablePivots: Boolean = false): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    val pivots = pickPivots(df, idCol, vecCol, nCentroids, portablePivots)
    val d2 = sqL2(col("svec"), slice(col("pvec"), col("sub") * subDim + 1, lit(subDim)))
    pqSubs(df, idCol, vecCol, m, subDim).join(broadcast(pivots))
      .select(col("id"), col("sub"), col("pid"), d2.as("d2"))
      .groupBy("id", "sub")
      .agg(min(struct(col("d2"), col("pid"))).as("best"))
      .select(col("id"), col("sub"), col("best.pid").as("code"),
        round(col("best.d2"), 6).as("sq_err"))
  }

  /** Lloyd's spherical k-means trainer — the centroid-TRAINING loop
    * the IVF family ([[ivfAssign]]/[[ivfNearestNeighbors]]/
    * `semanticDedupClusters`) takes as given. Those ops use raw pivot
    * vectors as cells; `iters` Lloyd rounds move the pivots to the
    * actual cluster means, which is what makes IVF recall usable in
    * practice (trained coarse quantizer, à la FAISS `IndexIVF.train`).
    *
    * Semantics per round: assign every vector to the max-cosine
    * centroid (ties -> lowest cell id, matching [[ivfAssign]]'s
    * `ORDER BY psim DESC, pid`), then recompute each centroid as the
    * element-wise mean of its members, ROUNDED to 6 dp. The rounding
    * is the cross-engine parity contract (double summation order
    * differs by ~1 ulp across engines — same trick as
    * [[ivfCellCentroids]]); because each round's output is snapped,
    * the NEXT round's input is bit-identical on any engine, so the
    * whole iteration is reproducible end-to-end. Cells that lose all
    * members drop out (standard Lloyd's; the oracle's GROUP BY drops
    * them identically). Init centroids are the pivot vectors
    * themselves (exact float->double cast, no rounding needed).
    *
    * Scale shape (100 TB): centroids are a k·dim plan LITERAL
    * (broadcast with the task binary), so ASSIGNMENT is a zero-shuffle
    * narrow projection — an `aggregate` HOF argmin over the centroid
    * array, fully inside whole-stage codegen. The UPDATE is one
    * partial-aggregated shuffle carrying (cell, i) component means —
    * k·dim rows, never vectors. Between rounds the k·dim·8-byte
    * centroid table is collected to the driver: control plane, not
    * data plane — the same per-iteration driver sync every Lloyd
    * implementation does (Spark MLlib's own KMeans collects centers
    * each round), bounded by the `k * dim <= 16384` guard below
    * (which also caps plan-literal size for codegen). Each round is
    * one pass over the data; `iters` is a small constant.
    *
    * Output: (cell, i, c, n) — final centroid components (1-based i)
    * with member counts, the [[ivfCellCentroids]] shape. `iters = 1`
    * is bit-identical to `ivfCellCentroids` (spec-proven).
    *
    * Reference anchor: beyond-reference op (the reference has no
    * vector ops); cells/training per SemDeDup (arXiv:2303.09540) and
    * the IVF literature.
    */
  def kmeansTrain(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int,
                  portablePivots: Boolean = false): DataFrame = {
    require(iters > 0, "iters must be positive")
    // pinned (r19): every Lloyd round's collect re-scanned the corpus
    // through kmBase — one scan + norm pass now feeds all rounds
    val base = Pin(kmBase(df, idCol, vecCol))
    var cents = kmInitPivots(df, idCol, vecCol, k, portablePivots)
    for (_ <- 1 until iters) cents = kmCollect(kmUpdate(base, cents))
    // the last round stays lazy: callers get one scan + one shuffle
    kmUpdate(base, cents)
  }

  /** Init centroids: the [[pivotVectors]]. */
  private def kmInitPivots(df: DataFrame, idCol: String, vecCol: String,
                           k: Int, portablePivots: Boolean): Seq[(Long, Array[Double])] = {
    require(k > 0, "k must be positive")
    val cents = pivotVectors(df, idCol, vecCol, k, portablePivots)
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    require(k * dim <= 16384,
      s"k*dim = ${k * dim} exceeds the 16384 centroid-literal bound; " +
        "train per-partition subsets or use ivfCellCentroids rounds with a join")
    cents
  }

  /** Max-cosine cell over the centroid literal, for a frame exposing
    * `vec`/`nrm`. Argmin by fold: strict > keeps the FIRST max — `cs`
    * is sorted by cell, so ties break to the lowest cell id like
    * [[ivfAssign]]'s `ORDER BY psim DESC, pid`. Zero-shuffle.
    */
  private def kmBestCell(cs: Seq[(Long, Array[Double])]): Column =
    kmBest(cs).getField("cell")

  /** Max-cosine (sim, cell) struct over the centroid literal — the
    * [[kmBestCell]] fold with the winning similarity kept, for callers
    * that need the distance-to-centroid itself (outlier scoring).
    */
  private def kmBest(cs: Seq[(Long, Array[Double])]): Column = {
    // left-to-right fold in element order, like the engine-side dots
    val centArr = array(cs.map { case (cell, cv) =>
      val cnrm = math.sqrt(cv.foldLeft(0.0)((s, x) => s + x * x))
      struct(lit(cell).as("cell"),
        array(cv.map(lit(_)): _*).as("cvec"), lit(cnrm).as("cnrm"))
    }: _*)
    aggregate(centArr,
      struct(lit(Double.NegativeInfinity).as("sim"), lit(Long.MaxValue).as("cell")),
      (acc, c) => {
        val sim = dotFold(col("vec"), c.getField("cvec")) /
          (col("nrm") * c.getField("cnrm"))
        when(sim > acc.getField("sim"),
          struct(sim.as("sim"), c.getField("cell").as("cell"))).otherwise(acc)
      })
  }

  /** One Lloyd update: assign (zero-shuffle argmin), then per-cell
    * component means rounded to 6 dp — one partial-agg shuffle.
    */
  private def kmUpdate(base: DataFrame,
                       cs: Seq[(Long, Array[Double])]): DataFrame =
    base.select(col("id"), col("vec"), kmBestCell(cs).as("cell"))
      .select(col("cell"), posexplode(col("vec")))
      .select(col("cell"), (col("pos") + 1).as("i"),
        col("col").cast("double").as("x"))
      .groupBy("cell", "i")
      .agg(round(avg(col("x")), 6).as("c"), count(lit(1)).as("n"))

  private def kmCollect(update: DataFrame): Seq[(Long, Array[Double])] =
    update.select("cell", "i", "c").collect().toSeq
      .groupBy(_.getLong(0)).toSeq
      .map { case (cell, rs) =>
        (cell, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
      }
      .sortBy(_._1)

  /** End-to-end trained-IVF ANN: run `iters` Lloyd rounds
    * ([[kmeansTrain]]), assign every vector to its max-cosine TRAINED
    * centroid, then exact top-`k` cosine rerank within cells — the
    * full FAISS-style `train -> assign -> search` pipeline as one op.
    * Versus [[ivfNearestNeighbors]] (raw pivot cells), trained cells
    * track the data distribution, which is what makes IVF recall
    * usable at small nCells.
    *
    * Scale shape: training as [[kmeansTrain]]; the search adds one
    * self-join shuffle on the cell id (intra-cell pairs only) and a
    * bounded per-cell window — the s05 shape with a zero-shuffle
    * assignment in front.
    */
  def ivfNearestNeighborsTrained(df: DataFrame, idCol: String, vecCol: String,
                                 nCells: Int, k: Int, iters: Int,
                                 portablePivots: Boolean = false): DataFrame = {
    require(iters > 0, "iters must be positive")
    // pinned (r19): per-round collects + the final assignment all
    // re-scanned the corpus; the assignment additionally feeds an
    // intra-cell SELF-join (two more evaluations) — pin both
    val base = Pin(kmBase(df, idCol, vecCol))
    var cents = kmInitPivots(df, idCol, vecCol, nCells, portablePivots)
    for (_ <- 1 to iters) cents = kmCollect(kmUpdate(base, cents))
    val assigned = Pin(base.select(col("id"), col("vec"), col("nrm"),
      kmBestCell(cents).as("cell")))
    topKDesc(keyedPairCos(assigned, "cell", _ =!= _), "cos", k)
      .select("id_a", "rk", "id_b", "cos")
  }

  /** Distance-to-centroid embedding OUTLIER report — the corpus-hygiene
    * step a training pipeline runs before contrastive/embedding
    * training: vectors far from every trained cluster center are
    * mislabeled, corrupt, or out-of-distribution candidates. Trains
    * `iters` Lloyd rounds ([[kmeansTrain]]), assigns each vector to its
    * max-cosine centroid (zero-shuffle fold), then per cell computes
    * the similarity z-score and flags the bottom `pct` fraction by
    * RANK (integer-deterministic; the z threshold itself would sit on
    * an IEEE boundary). Output: (id, cell, sim, z, is_outlier).
    *
    * Scale shape: training as [[kmeansTrain]]; scoring adds one
    * partial-agg shuffle for per-cell moments (broadcast back) and a
    * per-(cell, sim-bucket) rank through the PrefixSum kernel — per-
    * task sorts stay bounded regardless of how far cells outgrow a
    * partition (round 17; the old per-cell window carried exactly
    * that caveat).
    *
    * Reference anchor: beyond-reference op (the reference has no
    * vector surface); SemDeDup-adjacent (arXiv:2303.09540) cluster
    * machinery reused for outlier scoring.
    */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
                        nCells: Int, iters: Int, pct: Double = 0.1,
                        portablePivots: Boolean = false): DataFrame = {
    require(iters > 0, "iters must be positive")
    require(pct > 0.0 && pct < 1.0, "pct must be in (0, 1)")
    // pinned (r19): rounds + scoring re-scanned the corpus; `scored`
    // feeds both the per-cell moments and the rank kernel
    val base = Pin(kmBase(df, idCol, vecCol))
    var cents = kmInitPivots(df, idCol, vecCol, nCells, portablePivots)
    for (_ <- 1 to iters) cents = kmCollect(kmUpdate(base, cents))
    val best = kmBest(cents)
    val scored = Pin(base.select(col("id"),
      best.getField("cell").as("cell"), best.getField("sim").as("sim")))
    // per-cell moments: mu/var from UNROUNDED avgs, then 6-dp snapped —
    // z is computed off the snapped stats so both engines divide
    // identical inputs (cf. kmUpdate's snapping contract)
    val stats = scored.groupBy("cell").agg(
        avg(col("sim")).as("_mu_raw"),
        avg(col("sim") * col("sim")).as("_m2_raw"),
        count(lit(1)).as("n_cell"))
      .select(col("cell"), col("n_cell"),
        round(col("_mu_raw"), 6).as("mu"),
        round(col("_m2_raw") - col("_mu_raw") * col("_mu_raw"), 6).as("vr"))
    // per-cell rank via the PrefixSum kernel: nCells is a parameter,
    // so a bare partitionBy(cell) rank sorts N/nCells rows in one
    // task when cells outgrow a partition (the caveat the scaladoc
    // used to carry). sim ∈ [-1, 1] and the bucket cut floor(sim·2048)
    // is monotone in the rank order, so per-task sorts stay bounded
    // by the similarity distribution's bucket occupancy instead.
    val ranked = graft.ops.PrefixSum.groupedRowNumber(
      scored, Seq("cell"),
      order = Seq(col("sim").asc, col("id").asc),
      bucket = floor(col("sim") * lit(2048.0)).cast("long"), out = "rnk")
    ranked.join(broadcast(stats), Seq("cell"))
      .select(col("id"), col("cell"), col("sim"),
        when(col("vr") > 0.0,
          round((col("sim") - col("mu")) / sqrt(col("vr")), 6))
          .otherwise(lit(0.0)).as("z"),
        (col("rnk") <= ceil(lit(pct) * col("n_cell"))).cast("int").as("is_outlier"))
  }

  /** Product-quantization codebook TRAINING: per-subspace L2 k-means
    * (`iters` Lloyd rounds), the step that turns [[pqCodes]]'s
    * hash-picked codewords into real FAISS-style trained codebooks.
    * All `m` subspaces train in ONE plan per round: the m codebooks
    * ride as an indexed plan literal (`element_at` by subspace), so
    * assignment is a zero-shuffle argmin fold and the update is one
    * partial-agg (sub, cell, i) shuffle — m·k·subDim mean rows.
    * Same reproducibility contract as [[kmeansTrain]]: 6-dp-snapped
    * means make every round's input bit-identical cross-engine; L2
    * ties break to the lowest cell id. Init codebooks are the
    * hash-picked pivot vectors subsliced per subspace (exactly
    * [[pqCodes]]'s codebook, so `iters` rounds strictly refine what
    * s08 uses). Output: (sub, cell, i, c, n), i 1-based within the
    * subspace.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
              m: Int, nCentroids: Int, dim: Int, iters: Int,
              portablePivots: Boolean = false): DataFrame = {
    require(iters > 0, "iters must be positive")
    var cents = pqInit(df, idCol, vecCol, m, nCentroids, dim, portablePivots)
    // pinned (r19): each Lloyd round's collect re-ran the scan+explode
    val subs = Pin(pqSubs(df, idCol, vecCol, m, dim / m))
    for (_ <- 1 until iters) cents = pqCollect(pqUpdate(subs, cents), m)
    pqUpdate(subs, cents)
  }

  /** PQ codes against TRAINED codebooks — [[pqCodes]]'s hash-picked
    * codewords replaced by `iters` Lloyd rounds of [[pqTrain]]: the
    * full train→encode pipeline (FAISS `train` + `compute_codes`).
    * Same output shape and scale story as [[pqCodes]] — the encode
    * itself is a zero-shuffle argmin fold over the codebook literal,
    * so the oracle ordering shuffle is the only exchange.
    */
  def pqCodesTrained(df: DataFrame, idCol: String, vecCol: String,
                     m: Int, nCentroids: Int, dim: Int, iters: Int,
                     portablePivots: Boolean = false): DataFrame = {
    require(iters > 0, "iters must be positive")
    var cents = pqInit(df, idCol, vecCol, m, nCentroids, dim, portablePivots)
    // pinned (r19): rounds + the encode all re-ran the scan+explode
    val subs = Pin(pqSubs(df, idCol, vecCol, m, dim / m))
    for (_ <- 1 to iters) cents = pqCollect(pqUpdate(subs, cents), m)
    val best = pqBest(cents)
    subs.select(col("id"), col("sub"),
      best.getField("cell").as("code"),
      round(best.getField("d2"), 6).as("sq_err"))
  }

  /** IVF-PQ ANN with asymmetric distance computation (ADC) — the
    * FAISS `IndexIVFPQ` shape, the capstone of the ANN family:
    * candidates come from IVF cells ([[ivfAssign]]), but candidate
    * SCORING reads the m-byte PQ codes instead of raw vectors, via
    * the textbook per-query lookup table. At 100 TB this is the
    * operator that matters: the pair-scoring shuffle carries only
    * (id, sub, code) rows — never embeddings — and the doc side of
    * every distance is the compressed code, so the hot join touches
    * m bytes per doc.
    *
    * Stages (shuffle accounting in SCALE.md): train PQ codebooks
    * (`iters` Lloyd rounds, [[pqTrain]] internals), encode docs
    * (zero-shuffle argmin), build per-query LUTs — d2(query subvector,
    * codeword) for all m·k codewords, a broadcast join against the
    * m·k-row codebook — then intra-cell pairs sum m LUT entries per
    * candidate and take exact top-`k` per query on the APPROXIMATE
    * distance. Output: (id_a, rk, id_b, approx_d2), approx_d2 rounded
    * to 6 dp (the m-term sum is the one order-sensitive reduction).
    */
  def ivfPqNearestNeighbors(df: DataFrame, idCol: String, vecCol: String,
                            nCells: Int, m: Int, nCentroids: Int, dim: Int,
                            k: Int, iters: Int,
                            portablePivots: Boolean = false): DataFrame = {
    require(iters > 0, "iters must be positive")
    // IVF cells over raw vectors (probes=1); pinned (r19) — the
    // candidate generation self-joins this frame (two legs)
    val cells = Pin(ivfAssign(df, idCol, vecCol, nCells, probes = 1, portablePivots)
      .select(col("cell"), col("id")))
    // trained PQ codebooks + doc codes; subs pinned (r19) — the Lloyd
    // rounds, the encode, AND the per-query LUT build all consume it
    var cents = pqInit(df, idCol, vecCol, m, nCentroids, dim, portablePivots)
    val subs = Pin(pqSubs(df, idCol, vecCol, m, dim / m))
    for (_ <- 1 to iters) cents = pqCollect(pqUpdate(subs, cents), m)
    val codes = subs.select(col("id").as("id_b"), col("sub"),
      pqBest(cents).getField("cell").as("code"))
    // per-query LUT: d2(query subvector, codeword) for every codeword
    val luts = subs.join(broadcast(codebook(df.sparkSession, cents, "code")), Seq("sub"))
      .select(col("id").as("id_a"), col("sub"), col("code"),
        sqL2(col("svec"), col("cvec")).as("lut"))
    // intra-cell candidates score as m LUT lookups, never vectors
    val a = cells.select(col("cell"), col("id").as("id_a"))
    val b = cells.select(col("cell"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("cell")).where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
    val scored = pairs.join(codes, Seq("id_b"))
      .join(luts, Seq("id_a", "sub", "code"))
      .groupBy("id_a", "id_b")
      .agg(round(sum(col("lut")), 6).as("approx_d2"))
    topK(scored, "id_a", Seq(col("approx_d2"), col("id_b")), k, "rk")
      .select("id_a", "rk", "id_b", "approx_d2")
  }

  /** Two-stage ANN: IVF-PQ approximate shortlist → EXACT re-rank (the
    * production FAISS search shape: `nprobe`+ADC gives a cheap
    * shortlist, then full-precision vectors re-score only those
    * `shortlist` candidates per query). Recovers most of the recall
    * the PQ approximation loses while touching true vectors for
    * shortlist·n pairs instead of n²/cells.
    *
    * Scale shape: stage 1 is [[ivfPqNearestNeighbors]] (codes + LUTs,
    * vectors never cross the candidate shuffle); stage 2 joins the
    * raw vectors back by id for ONLY the shortlist pairs — two hash
    * joins keyed on ids, each shuffling shortlist·n narrow rows plus
    * one pass of the embeddings table. Output ranks by the exact
    * squared L2 (6-dp snapped, fixed-order sum) with id tiebreak.
    */
  def ivfPqRerankNeighbors(df: DataFrame, idCol: String, vecCol: String,
                           nCells: Int, m: Int, nCentroids: Int, dim: Int,
                           k: Int, shortlist: Int, iters: Int,
                           portablePivots: Boolean = false): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val sl = ivfPqNearestNeighbors(df, idCol, vecCol, nCells, m, nCentroids,
      dim, k = shortlist, iters = iters, portablePivots = portablePivots)
      .select("id_a", "id_b", "approx_d2")
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    val exact = sl.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("approx_d2"),
        round(sqL2(col("__va"), col("__vb")), 6).as("exact_d2"))
    topK(exact, "id_a", Seq(col("exact_d2"), col("id_b")), k, "rk")
      .select("id_a", "rk", "id_b", "exact_d2", "approx_d2")
  }

  private def snap6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Driver-side power-iteration core shared by [[principalComponent]]
    * and [[removeTopComponent]]: returns the 6-dp-snapped unit
    * loadings plus the final pre-normalization norm (λ estimate).
    */
  private[ops] def principalDirection(df: DataFrame, idCol: String,
                                      vecCol: String, dim: Int, iters: Int)
      : (Array[Double], Double) = {
    require(iters > 0 && dim > 0, "positive dim/iters")
    val spark = df.sparkSession
    import spark.implicits._
    val x = df.select(col(idCol).as("id"),
      transform(col(vecCol), c => c.cast("double")).as("x"))
    var v: Array[Double] = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val vCol = array(v.toIndexedSeq.map(lit): _*)
      val y = dotFold(col("x"), vCol)
      val sums = x.withColumn("y", y)
        .select(col("y"), posexplode(col("x")).as(Seq("j", "xj")))
        .groupBy("j").agg(round(sum(col("xj") * col("y")), 6).as("s"))
        .orderBy("j").as[(Int, Double)].collect()
      val s = sums.map(_._2)
      val nrm = math.sqrt(s.map(d => d * d).sum) // fixed-order, 64 terms
      lambda = nrm
      v = s.map(d => snap6(d / nrm))
    }
    (v, lambda)
  }

  /** Top principal direction of the embedding cloud (un-centered,
    * about the origin) by POWER ITERATION on the Gram operator:
    * v ← Σᵢ xᵢ (xᵢ·v) / ‖·‖ — the covariance matrix is never
    * materialized; each round is one pass over the data (per-row dot
    * against the broadcast v, then a dim-keyed partial-agg of
    * xⱼ·y — dim rows total) plus a dim-sized driver collect, the
    * k-means/BPE driver-loop shape. The embedding-diagnostics op:
    * anisotropy/"dominant direction" checks, whitening prep, drift
    * of the spectrum's head.
    *
    * Determinism contract (same as the Lloyd trainers): per-round
    * component sums snap to 6 dp before normalization, and the
    * normalized loadings snap to 6 dp before the next round, so an
    * independent SQL replay reproduces every round bit-for-bit.
    * Output: one row per dimension (i, loading) plus the eigenvalue
    * estimate (final pre-normalization norm) and the share of total
    * squared mass it explains.
    */
  def principalComponent(df: DataFrame, idCol: String, vecCol: String,
                         dim: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (v, lambda) = principalDirection(df, idCol, vecCol, dim, iters)
    val x = df.select(
      transform(col(vecCol), c => c.cast("double")).as("x"))
    val tss = x.select(round(sum(aggregate(
        transform(col("x"), a => a * a), lit(0.0), (acc, t) => acc + t)), 6))
      .head().getDouble(0)
    val lambdaR = snap6(lambda)
    val share = snap6(lambdaR / tss)
    v.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i + 1, c, lambdaR, share) }
      .toDF("i", "loading", "eigenvalue", "explained_share")
  }

  /** "All-but-the-top" embedding cleanup (Mu & Viswanath 2018,
    * arXiv:1702.01417): remove the dominant common direction —
    * r = x − (x·v)v — which concentrates corpus-wide anisotropy and
    * hurts cosine retrieval. Reports each vector's projection onto
    * the top component and the residual norm; the projection column
    * doubles as the anisotropy outlier score.
    *
    * Scale shape: the direction comes from [[principalDirection]]
    * (iters bounded driver rounds); the cleanup itself is a narrow
    * per-row projection against the broadcast literal v — a 100 TB
    * corpus re-embeds in one scan.
    */
  def removeTopComponent(df: DataFrame, idCol: String, vecCol: String,
                         dim: Int, iters: Int): DataFrame = {
    val (v, _) = principalDirection(df, idCol, vecCol, dim, iters)
    val vCol = array(v.toIndexedSeq.map(lit): _*)
    val x = transform(col(vecCol), c => c.cast("double"))
    val proj = dotFold(x, vCol)
    df.select(col(idCol), proj.as("__proj"), x.as("__x"))
      .select(col(idCol), col("__proj"),
        sqrt(aggregate(zip_with(col("__x"), vCol,
          (a, b) => (a - col("__proj") * b) * (a - col("__proj") * b)),
          lit(0.0), (acc, t) => acc + t)).as("__rn"))
      .select(col(idCol), round(col("__proj"), 6).as("top_projection"),
        round(col("__rn"), 6).as("residual_norm"))
  }

  /** Init codebooks: hash-picked pivot vectors subsliced per subspace
    * (exactly [[pqCodes]]'s codebook — training strictly refines it).
    */
  private def pqInit(df: DataFrame, idCol: String, vecCol: String,
                     m: Int, nCentroids: Int, dim: Int,
                     portablePivots: Boolean): Seq[Seq[(Long, Array[Double])]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    require(nCentroids * dim <= 16384,
      s"nCentroids*dim = ${nCentroids * dim} exceeds the 16384 " +
        "codebook-literal bound; train per-partition subsets instead")
    val subDim = dim / m
    val pivots = pivotVectors(df, idCol, vecCol, nCentroids, portablePivots)
    (0 until m).map { s =>
      pivots.map { case (pid, pv) => (pid, pv.slice(s * subDim, (s + 1) * subDim)) }
    }
  }

  private def pqSubs(df: DataFrame, idCol: String, vecCol: String,
                     m: Int, subDim: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(sequence(lit(0), lit(m - 1))).as("sub"), col(vecCol).as("vec"))
      .select(col("id"), col("sub"),
        slice(col("vec"), col("sub") * subDim + 1, lit(subDim)).as("svec"))

  /** L2 argmin struct(d2, cell) over the subspace's codebook, for a
    * frame exposing `sub`/`svec`. Strict < keeps the FIRST min —
    * cells sorted asc => low-id ties. The cast pins struct field
    * names/nullability on both branches: aliases inside this lambda
    * get stripped during resolution (unlike kmBestCell's
    * literal-array fold), and caseWhen then rejects the mismatched
    * struct types.
    */
  private def pqBest(cs: Seq[Seq[(Long, Array[Double])]]): Column = {
    val arrs = array(cs.map { subCents =>
      array(subCents.map { case (cell, cv) =>
        struct(lit(cell).as("cell"), array(cv.map(lit(_)): _*).as("cvec"))
      }: _*)
    }: _*)
    val mine = element_at(arrs, col("sub") + 1)
    val stype = "struct<d2:double,cell:bigint>"
    aggregate(mine,
      struct(lit(Double.PositiveInfinity), lit(Long.MaxValue)).cast(stype),
      (acc, c) => {
        val d = sqL2(col("svec"), c.getField("cvec"))
        when(d < acc.getField("d2"),
          struct(d, c.getField("cell")).cast(stype)).otherwise(acc)
      })
  }

  /** One Lloyd update over all m subspaces: broadcast-joined codebook
    * assignment + one partial-agg (sub, cell, i) shuffle of
    * 6-dp-snapped means.
    *
    * The codebook rides as DATA (a broadcast m·k-row frame), not as
    * literals baked into the expression tree: per-round literal
    * codebooks generate different whole-stage code every round and
    * force a fresh codegen compile per Lloyd iteration (measured:
    * the compile dominated s13's bench time at these corpus sizes) —
    * the joined shape keeps one stable plan whose generated code is
    * cached across rounds. Arithmetic is unchanged: the same
    * fixed-order zip d², and `min(struct(d2, cell))` keeps the
    * lowest cell on ties exactly like [[pqBest]]'s strict-< fold
    * over ascending cells (oracle-EXACT preserved, spec-pinned).
    */
  private def pqUpdate(subs: DataFrame,
                       cs: Seq[Seq[(Long, Array[Double])]]): DataFrame =
    subs.join(broadcast(codebook(subs.sparkSession, cs, "cell")), Seq("sub"))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(sqL2(col("svec"), col("cvec")).as("d2"),
        col("cell").as("cell"))).as("b"),
        max(col("svec")).as("svec")) // svec constant per (id, sub)
      .select(col("sub"), col("b.cell").as("cell"),
        posexplode(col("svec")))
      .select(col("sub"), col("cell"), (col("pos") + 1).as("i"),
        col("col").cast("double").as("x"))
      .groupBy("sub", "cell", "i")
      .agg(round(avg(col("x")), 6).as("c"), count(lit(1)).as("n"))

  /** The m subspace codebooks as a frame `(sub, <cell>, cvec)`. */
  private def codebook(spark: SparkSession, cs: Seq[Seq[(Long, Array[Double])]],
                       cell: String): DataFrame = {
    import spark.implicits._
    cs.zipWithIndex.flatMap { case (subCents, s) =>
      subCents.map { case (c, cv) => (s, c, cv.toSeq) }
    }.toDF("sub", cell, "cvec")
  }

  /** Squared L2 distance as a fixed-order left-to-right double fold. */
  private def sqL2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, d) => acc + d)

  private def pqCollect(update: DataFrame,
                        m: Int): Seq[Seq[(Long, Array[Double])]] = {
    val rows = update.select("sub", "cell", "i", "c").collect()
    (0 until m).map { s =>
      rows.filter(_.getInt(0) == s).toSeq
        .groupBy(_.getLong(1)).toSeq
        .map { case (cell, rs) =>
          (cell, rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
        }
        .sortBy(_._1)
    }
  }

  /** Per-vector int8 scale `max|v| / 127` of a double array column. */
  private def int8Scale(v: Column): Column = array_max(transform(v, x => abs(x))) / 127.0

  /** Int8 codes `floor(v_i/scale + 0.5)`; scale 0 gives zeros, not NaN. */
  private def int8Codes(v: Column, scale: Column): Column =
    when(scale === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x => floor(x / scale + 0.5)))

  /** SQ8 ANN with asymmetric distance computation — the scalar-
    * quantizer sibling of the PQ path (s15): the CORPUS is stored as
    * int8 codes + one scale per vector (s07's quantization, 4× the
    * memory cut of float32), queries stay full-precision, and the
    * score is the asymmetric dot `scale_b · Σ q_b[i]·query[i]` (the
    * FAISS `IndexScalarQuantizer` search shape). Queries are the s17
    * hash sample; candidates here are brute-force — compose with
    * [[ivfAssign]] cell gating for the 100 TB path exactly as s15
    * does, the scoring column is the same either way.
    *
    * Determinism: quantization is integer (floor(x/scale + 0.5));
    * the ADC fold is the same left-to-right double sum every s-family
    * oracle replays (list_sum order).
    *
    * Scale shape: the corpus streams with its codes (never
    * broadcast); only the sampled query block broadcasts; per-query
    * top-k prunes in-shuffle via WindowGroupLimit.
    */
  def sq8NearestNeighbors(df: DataFrame, idCol: String, vecCol: String,
                          k: Int = 3, sampleMod: Int = 20): DataFrame = {
    import graft.functions.PortableHash
    require(sampleMod >= 1, "sampleMod >= 1")
    val v = transform(col(vecCol), x => x.cast("double"))
    val base = df.select(col(idCol).as("id"), v.as("v"), int8Scale(v).as("scale"))
    val codes = base.select(col("id").as("id_b"), col("scale"),
      int8Codes(col("v"), col("scale")).as("q"))
    val queries = base
      .where(PortableHash.mdHash60(col("id").cast("string")) % sampleMod === 0)
      .select(col("id").as("id_a"), col("v").as("vec_a"))
    val scored = codes.join(broadcast(queries), col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("scale") * dotFold(col("q"), col("vec_a"))).as("adc"))
    topKDesc(scored, "adc", k).select("id_a", "rk", "id_b", "adc")
  }

  /** Symmetric int8 quantization report per vector: the compression
    * step a 100 TB embedding store runs before serving (4x smaller,
    * cache-resident ANN). For each vector: `scale = max|v| / 127`,
    * `q_i = floor(v_i/scale + 0.5)` (round-half-up, reproducible on
    * any IEEE engine — unlike banker's-rounding `round`), plus the
    * quantized checksum and the max absolute dequantization error.
    * Pure narrow scalar pipeline over the embedding column — zero
    * shuffles; every arithmetic step (float->double widening,
    * division, floor, multiply, compare) is deterministic IEEE, so
    * the report is hash-exact cross-engine.
    */
  def quantizeInt8Report(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val withScale = df.select(col(idCol), v.as("v"), int8Scale(v).as("scale"))
    val q = int8Codes(col("v"), col("scale"))
    withScale.select(col(idCol), col("scale"),
      aggregate(q, lit(0L), (acc, x) => acc + x).as("sum_q"),
      array_max(zip_with(q, col("v"), (qi, vi) => abs(qi * col("scale") - vi)))
        .as("max_abs_err"))
  }
}
