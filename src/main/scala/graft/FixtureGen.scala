package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seed-randomized fixture generator — the anti-overfit audit tool.
  *
  * Every oracle query is hash-EXACT on the driver's ONE deterministic
  * corpus per scale factor (`TESTDATA.md`, seed=42). The strongest
  * remaining threat to that claim is silent overfitting to fixture
  * idiosyncrasies, so this main regenerates a schema-identical,
  * domain-identical corpus family under a caller-supplied seed and the
  * full Verify → DuckDB gate is re-run against it
  * (`scripts/seed_audit.sh`). EXACT there means the operators are
  * correct on the FAMILY, not the fixture.
  *
  * Design constraints:
  *   - **Schema-exact**: column names, nullability-relevant types
  *     (int32 vs int64, timestamp[us] NTZ, list<float>) match the
  *     driver corpus bit-for-bit (asserted against a reference dir via
  *     the optional 4th arg; `FixtureGenSpec` pins it in CI).
  *   - **Domain-identical**: categorical vocabularies (mktsegments,
  *     order priorities, event types, langs, the 31-word document
  *     vocabulary...), key ranges, date ranges, and row-count scaling
  *     (`customer = 150000·sf`, `lineitem = 4·orders`, Poisson-like
  *     lines-per-order via 4n draws of a uniform orderkey) mirror the
  *     profile of `/root/testdata` so every literal predicate in the
  *     query surface stays satisfiable.
  *   - **Spark-native + scale-safe**: all values derive from
  *     `xxhash64(seed, salt, id, ...)` over `spark.range(n)` — no
  *     driver-side RNG loop, no collect; generation parallelizes to
  *     any SF on a real cluster exactly like the queries it feeds.
  *
  * Usage: `runMain graft.FixtureGen <seed> <sf> <outDir> [schemaRefDir]`
  */
object FixtureGen {

  /** Uniform double in [0,1) derived from xxhash64 of (seed, salt, cols). */
  private def u(seed: Long, salt: String, cols: Column*): Column =
    (pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(1L << 52))
      .cast("double") / lit((1L << 52).toDouble))

  /** Uniform long in [0, n). */
  private def ui(seed: Long, salt: String, n: Long, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(n))

  private def pick(seed: Long, salt: String, vocab: Seq[String], cols: Column*): Column =
    element_at(array(vocab.map(lit): _*),
      (ui(seed, salt, vocab.size.toLong, cols: _*) + 1).cast("int"))

  /** Midnight timestamp (NTZ, like the driver corpus) base + d days. */
  private def day(base: String, d: Column): Column =
    date_add(lit(base).cast("date"), d.cast("int")).cast("timestamp_ntz")

  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val sf = args(1).toDouble
    val outDir = args(2)
    val schemaRef = if (args.length > 3) Some(args(3)) else None
    val spark = Sessions.local("graft-fixturegen")
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, seed, sf, outDir)
    schemaRef.foreach(ref => assertSchemasMatch(spark, outDir, ref))
    spark.stop()
  }

  /** Row-count scaling observed across the driver's sf0.001/0.01/0.1. */
  def counts(sf: Double): Map[String, Long] = Map(
    "customer"   -> math.round(150000 * sf),
    "supplier"   -> math.round(10000 * sf),
    "part"       -> math.round(200000 * sf),
    "orders"     -> math.round(1500000 * sf),
    "lineitem"   -> math.round(6000000 * sf), // = 4 × orders
    "events"     -> math.round(1000000 * sf),
    "users"      -> math.round(15000 * sf),
    "documents"  -> math.max(500, math.round(50000 * sf)),
    "embeddings" -> math.max(500, math.round(20000 * sf))
  )

  // domain vocabularies profiled from the driver corpus (sf0.01)
  private val segments = Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val partAdj = Seq("new", "blue", "old", "hot", "large", "small", "red", "cold")
  private val partNoun = Seq("widget", "ring", "gear", "bolt", "plate", "rod", "gizmo", "anvil")
  private val partTypes = Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
  private val eventTypes = Seq("signup", "error", "click", "view", "purchase")
  private val langs = Seq("en", "en", "en", "zh", "es", "de", "fr") // en ~43%
  private val docVocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  def generate(spark: SparkSession, seed: Long, sf: Double, outDir: String): Unit = {
    val n = counts(sf)
    new java.io.File(outDir).mkdirs()

    def id: Column = col("id")
    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$outDir/__tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      // single plain file `<name>.parquet`, like the driver corpus —
      // DuckDB's read_parquet in the oracle gate expects a file path
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$outDir/$name.parquet")
      if (dst.exists()) dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[fixturegen] $name: ${spark.read.parquet(dst.getPath).count()} rows")
    }

    write("region", spark.range(5).select(
      id.cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (id + 1).cast("int")).as("r_name")))

    write("nation", spark.range(25).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))

    write("customer", spark.range(n("customer")).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(seed, "c_nat", 25, id).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u(seed, "c_bal", id) * 11000.0, 2).as("c_acctbal"),
      pick(seed, "c_seg", segments, id).as("c_mktsegment")))

    write("supplier", spark.range(n("supplier")).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(seed, "s_nat", 25, id).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u(seed, "s_bal", id) * 11000.0, 2).as("s_acctbal")))

    write("part", spark.range(n("part")).select(
      id.as("p_partkey"),
      concat(pick(seed, "p_adj", partAdj, id), lit(" "),
        pick(seed, "p_noun", partNoun, id)).as("p_name"),
      concat(lit("Brand#"), (ui(seed, "p_brand", 25, id) + 1).cast("string")).as("p_brand"),
      pick(seed, "p_type", partTypes, id).as("p_type"),
      (ui(seed, "p_size", 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u(seed, "p_price", id) * 100.0, 2).as("p_retailprice")))

    write("orders", spark.range(n("orders")).select(
      id.as("o_orderkey"),
      ui(seed, "o_cust", n("customer"), id).as("o_custkey"),
      pick(seed, "o_stat", Seq("P", "O", "F"), id).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, "o_total", id) * 499000.0, 2).as("o_totalprice"),
      day("1995-01-01", ui(seed, "o_date", 2404, id)).as("o_orderdate"),
      pick(seed, "o_prio", priorities, id).as("o_orderpriority")))

    // 4n draws of a uniform orderkey ⇒ per-order line counts are
    // Binomial(4n, 1/n) ≈ Poisson(4) — the driver corpus's observed
    // 0..13 lines-per-order shape, including ~1.8% line-less orders.
    // l_linenumber is an independent 1..7 draw (duplicates allowed),
    // exactly like the profile.
    val qty = (ui(seed, "l_qty", 50, id) + 1).cast("double")
    write("lineitem", spark.range(n("lineitem")).select(
      ui(seed, "l_ord", n("orders"), id).as("l_orderkey"),
      ui(seed, "l_part", n("part"), id).as("l_partkey"),
      ui(seed, "l_supp", n("supplier"), id).as("l_suppkey"),
      (ui(seed, "l_line", 7, id) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(seed, "l_unit", id) * 1200.0), 2).as("l_extendedprice"),
      (ui(seed, "l_disc", 11, id).cast("double") / 100.0).as("l_discount"),
      (ui(seed, "l_tax", 9, id).cast("double") / 100.0).as("l_tax"),
      pick(seed, "l_rf", Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(seed, "l_ls", Seq("O", "F"), id).as("l_linestatus"),
      day("1995-01-01", ui(seed, "l_ship", 2500, id)).as("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber"))

    // events: 30 days of microsecond timestamps in 2024-01; value is
    // exponential-ish (mean ~50, tail to ~500) like the profile
    // 2024-01-01T00:00:00Z = 1704067200 epoch-seconds
    val tsMicro = lit(1704067200L * 1000000L) + ui(seed, "e_ts", 30L * 86400L * 1000000L, id)
    write("events", spark.range(n("events")).select(
      id.as("event_id"),
      timestamp_micros(tsMicro).cast("timestamp_ntz").as("ts"),
      ui(seed, "e_user", n("users"), id).as("user_id"),
      pick(seed, "e_type", eventTypes, id).as("event_type"),
      round(greatest(lit(0.01),
        lit(-50.0) * log(lit(1e-9) + u(seed, "e_val", id))), 2).as("value"),
      concat(lit("{\"k\": "), ui(seed, "e_k", 100, id).cast("string"), lit("}")).as("props"))
      .orderBy("ts"))

    // documents: 10..104 words from the 31-word vocabulary (same tiny
    // vocab as the driver corpus — short texts collide into natural
    // near-duplicates, which the dedup family needs); n_chars derived
    val nWords = (ui(seed, "d_nw", 95, id) + 10).cast("int")
    val text = array_join(
      transform(sequence(lit(1), nWords),
        i => element_at(array(docVocab.map(lit): _*),
          (pmod(xxhash64(lit(seed), lit("d_w"), id, i), lit(docVocab.size.toLong)) + 1)
            .cast("int"))),
      " ")
    write("documents", spark.range(n("documents")).select(
      id.as("doc_id"),
      text.as("text"),
      pick(seed, "d_lang", langs, id).as("lang"),
      concat(lit("src"), ui(seed, "d_src", 20, id).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: 64-dim floats ~U(-0.5, 0.5) with a small per-label
    // bias (the driver corpus shows weak intra-label cosine ~0.01)
    val emb = transform(sequence(lit(1), lit(64)), d =>
      ((u(seed, "v_noise", col("vec_id"), d) - 0.5) +
        (u(seed, "v_center", col("label").cast("long"), d) - 0.5) * 0.1).cast("float"))
    write("embeddings", spark.range(n("embeddings")).select(
      id.as("vec_id"),
      ui(seed, "v_lab", 10, id).cast("int").as("label"))
      .withColumn("embedding", emb)
      .select("vec_id", "embedding", "label"))
  }

  /** Assert every generated table's Spark schema equals the reference
    * corpus's — catches silent type drift (int32 vs int64, NTZ vs TZ).
    */
  def assertSchemasMatch(spark: SparkSession, genDir: String, refDir: String): Unit = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      val g = spark.read.parquet(s"$genDir/$t.parquet").schema
      val r = spark.read.parquet(s"$refDir/$t.parquet").schema
      require(g.map(f => (f.name, f.dataType)) == r.map(f => (f.name, f.dataType)),
        s"schema drift in $t:\n  gen=$g\n  ref=$r")
    }
    println(s"[fixturegen] schemas match $refDir for all ${tables.size} tables")
  }
}
