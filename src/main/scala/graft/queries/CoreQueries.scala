package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Pin, Tables}

/** One named query per operator of SURVEY.md §2 (the faust operator
  * inventory re-expressed Spark-first), each with a DuckDB oracle.
  *
  * Oracle-parity rules used throughout:
  *  - money sums go through DECIMAL(18,2) (exact, engine-independent),
  *    final cast back to DOUBLE;
  *  - event-time keys are epoch-second BIGINTs (integer division of the
  *    raw ns longs — no float roundtrip);
  *  - every result has a total ORDER BY over unique key columns;
  *  - column names match the oracle SQL exactly (driver hashes by
  *    sorted column name).
  */
object CoreQueries {

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** sum(x) computed exactly via decimal, emitted as double. */
  private def dsum2(c: Column): Column = sum(dec2(c)).cast("double")

  /** revenue term: extendedprice * (1 - discount), exact decimal. */
  private val revenueTerm: Column =
    dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  val all: Seq[Q] = Seq(

    // ── stateless transforms: filter + map/projection (faust
    //    stream.filter / processors; SURVEY §2.2) ─────────────────────
    Q("q01_filter_project",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 30 && col("l_quantity") <= 40)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (revenueTerm).cast("double").as("revenue"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some(s"""SELECT l_orderkey, l_linenumber, l_quantity,
        CAST($revenueSql AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity BETWEEN 30 AND 40
        ORDER BY l_orderkey, l_linenumber""")),

    // ── keyed table aggregation (faust Table fold; §2.4): the
    //    pricing-summary flagship ───────────────────────────────────
    Q("q02_agg_table",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_base_price"),
          sum(revenueTerm).cast("double").as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM($revenueSql) AS DOUBLE) AS sum_disc_price,
        COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ── group_by rekey + per-key state (faust stream.group_by →
    //    table; §2.2/§2.4) ────────────────────────────────────────────
    Q("q03_groupby_rekey",
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum2(col("value")).as("sum_value"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id"),
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        COUNT(DISTINCT event_type) AS n_types
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // ── stream-table equi-join, broadcast dim (the de-facto faust
    //    join: table lookup in agent; §2.3) ───────────────────────────
    Q("q04_join_broadcast",
      (s, dir) => Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("sum_price"))
        .orderBy("c_mktsegment"),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ── multi-way join with dims broadcast + agg (TPC-H Q5 shape) ───
    Q("q05_multi_join",
      (s, dir) => Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(revenueTerm).cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("r_name", "n_name"),
      Some(s"""SELECT r_name, n_name,
        CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
        COUNT(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // ── semi-join (EXISTS): customers having orders, per segment ─────
    Q("q06_semi_join",
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, COUNT(*) AS n_with_orders
        FROM customer c WHERE EXISTS
          (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ── tumbling window aggregation (table.tumbling; §2.4) ──────────
    Q("q07_tumbling_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(timestamp_seconds(col("ts_sec")), "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("w_start", "event_type"),
      Some(Tables.eventsCte + """
        SELECT (ts_sec // 3600) * 3600 AS w_start, event_type,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM e GROUP BY 1, 2 ORDER BY w_start, event_type""")),

    // ── hopping window (table.hopping size=600s step=300s: every event
    //    lands in size/step = 2 windows; §2.4) ───────────────────────
    Q("q08_hopping_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(timestamp_seconds(col("ts_sec")), "600 seconds", "300 seconds").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("w_start", "event_type"),
      Some(Tables.eventsCte + """
        SELECT ((ts_sec // 300) - k) * 300 AS w_start, event_type,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM e CROSS JOIN (VALUES (0), (1)) AS offs(k)
        GROUP BY 1, 2 ORDER BY w_start, event_type""")),

    // ── sliding-window interval self-join (SlidingWindow.ranges doc
    //    semantics, faust/windows.py:116-132; §2.3) ──────────────────
    Q("q09_interval_join",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val a = e.select(col("user_id"), col("ts_sec").as("ts_a"),
          col("event_type").as("type_a"), col("event_id").as("id_a"))
        val b = e.select(col("user_id").as("user_b"), col("ts_sec").as("ts_b"),
          col("event_type").as("type_b"), col("event_id").as("id_b"))
        a.join(b, col("user_id") === col("user_b") &&
            col("ts_b") >= col("ts_a") && col("ts_b") <= col("ts_a") + 300 &&
            col("id_a") =!= col("id_b"))
          .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_pairs"))
          .orderBy("type_a", "type_b")
      },
      Some(Tables.eventsCte + """
        SELECT a.event_type AS type_a, b.event_type AS type_b,
          COUNT(*) AS n_pairs
        FROM e a JOIN e b ON a.user_id = b.user_id
          AND b.ts_sec >= a.ts_sec AND b.ts_sec <= a.ts_sec + 300
          AND a.event_id <> b.event_id
        GROUP BY 1, 2 ORDER BY type_a, type_b""")),

    // ── SetTable: per-key exact distinct set + cardinality (§2.4) ───
    Q("q10_set_table",
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types_csv"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
        array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types_csv,
        COUNT(DISTINCT event_type) AS n_types
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // ── GlobalTable: broadcast-replicated dim join (§2.4) ───────────
    Q("q11_global_table",
      (s, dir) => Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), sum(revenueTerm).cast("double").as("revenue"))
        .orderBy("p_brand"),
      Some(s"""SELECT p_brand, COUNT(*) AS n_items,
        CAST(SUM($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand""")),

    // ── window-close final values: daily tumbling count+mean (the
    //    windowed_aggregation.py on_window_close fixture; §2.4/§2.8) ──
    Q("q12_window_close",
      (s, dir) => Tables.events(s, dir)
        .groupBy(expr("(ts_sec div 86400) * 86400").as("w_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          (dsum2(col("value")) / count(lit(1))).as("mean_value"))
        .orderBy("w_start", "event_type"),
      Some(Tables.eventsCte + """
        SELECT (ts_sec // 86400) * 86400 AS w_start, event_type,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_value
        FROM e GROUP BY 1, 2 ORDER BY w_start, event_type""")),

    // ── analytic window: top-k per group (§2.5/§2.6) ────────────────
    Q("q13_topk_per_group",
      (s, dir) => {
        // Exact top-5 per event_type WITHOUT ranking a whole group in
        // one task (event_type is ~10 values — a bare
        // Window.partitionBy(event_type) serializes each group at
        // scale): (1) top-5 within (event_type, salt) — 64-way salted,
        // WindowGroupLimit prunes map-side; (2) merge the ≤320
        // candidates per group with a bounded array sort inside a
        // regular aggregate. The true top-5 of a group is contained in
        // the union of its per-salt top-5s, so this is exact.
        val salted = Tables.events(s, dir)
          .withColumn("__salt", pmod(xxhash64(col("event_id")), lit(64L)))
        val w1 = Window.partitionBy(col("event_type"), col("__salt"))
          .orderBy(col("value").desc, col("event_id"))
        val cand = salted.withColumn("rk", row_number().over(w1))
          .where(col("rk") <= 5)
        val byValueDescIdAsc = (l: Column, r: Column) =>
          when(l("value") > r("value"), -1)
            .when(l("value") < r("value"), 1)
            .when(l("event_id") < r("event_id"), -1)
            .when(l("event_id") > r("event_id"), 1)
            .otherwise(0)
        cand.groupBy("event_type")
          .agg(slice(array_sort(
            collect_list(struct(col("value"), col("event_id"))),
            byValueDescIdAsc), 1, 5).as("top"))
          .select(col("event_type"),
            posexplode(col("top")).as(Seq("pos", "s")))
          .select(col("event_type"), (col("pos") + 1).cast("int").as("rk"),
            col("s.event_id").as("event_id"), col("s.value").as("value"))
          .orderBy("event_type", "rk")
      },
      Some("""SELECT event_type, rk, event_id, value FROM (
          SELECT event_type, event_id, value,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY value DESC, event_id) AS rk
          FROM events) WHERE rk <= 5 ORDER BY event_type, rk""")),

    // ── distinct (§2.6) ─────────────────────────────────────────────
    Q("q14_distinct",
      (s, dir) => Tables.events(s, dir)
        .select("user_id", "event_type").distinct()
        .orderBy("user_id", "event_type"),
      Some("""SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type""")),

    // ── combine/union of streams (faust `stream & stream`; §2.3) ────
    Q("q15_union_combine",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val clicks = e.filter(col("event_type") === "click" && col("value") > 400)
        val buys = e.filter(col("event_type") === "purchase" && col("value") > 400)
        clicks.union(buys).groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM (SELECT * FROM events WHERE event_type = 'click' AND value > 400
              UNION ALL
              SELECT * FROM events WHERE event_type = 'purchase' AND value > 400)
        GROUP BY event_type ORDER BY event_type""")),

    // ── scalar-function surface: string ops (§2.7) ──────────────────
    Q("q16_scalar_strings",
      (s, dir) => Tables.part(s, dir)
        .select(col("p_partkey"), upper(col("p_name")).as("up_name"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type_pref"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
          md5(col("p_name")).as("name_md5"),
          (col("p_size") % 7).as("size_mod"),
          floor(col("p_retailprice")).cast("long").as("price_floor"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, UPPER(p_name) AS up_name,
        LENGTH(p_name) AS name_len,
        SUBSTRING(p_type, 1, 5) AS type_pref,
        p_brand || '#' || p_type AS brand_type,
        MD5(p_name) AS name_md5,
        p_size % 7 AS size_mod,
        CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor
        FROM part ORDER BY p_partkey""")),

    // ── scalar-function surface: date parts (§2.7, iso8601 handling) ─
    Q("q17_scalar_dates",
      (s, dir) => Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mth"))
        .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("sum_price"))
        .orderBy("yr", "mth"),
      Some("""SELECT CAST(YEAR(o_orderdate) AS INT) AS yr,
        CAST(MONTH(o_orderdate) AS INT) AS mth, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY 1, 2 ORDER BY yr, mth""")),

    // ── JSON payload decode (faust json codec; §1.3) ────────────────
    Q("q18_json_codec",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ── enumerate (stream.enumerate; §2.2) ──────────────────────────
    Q("q19_enumerate",
      (s, dir) => Tables.events(s, dir)
        .withColumn("idx", row_number().over(Window.orderBy("event_id")) - 1)
        .select("idx", "event_id", "event_type")
        .orderBy("idx"),
      Some("""SELECT ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS idx,
        event_id, event_type FROM events ORDER BY idx""")),

    // ── q147: enumerate AT SCALE — the same global running index as
    //    q19 (faust streams.py:397-403) without the single-partition
    //    window sort: PrefixSum.globalRowNumber buckets the order key,
    //    so the data shuffles once on the bucket cut and each task
    //    sorts ~4096 rows; only the bucket-subtotal table (one
    //    map-combined row per bucket) crosses a single-partition
    //    exchange (the bounded class, runtime-capped in
    //    PlanHygieneSpec). Oracle identical to q19's ───────────────────
    Q("q147_enumerate_distributed",
      (s, dir) => graft.ops.PrefixSum.globalRowNumber(
          Tables.events(s, dir), Seq(col("event_id")),
          floor(col("event_id") / lit(4096L)).cast("long"), "rk")
        .select((col("rk") - 1).as("idx"), col("event_id"), col("event_type"))
        .orderBy("idx"),
      Some("""SELECT ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS idx,
        event_id, event_type FROM events ORDER BY idx""")),

    // ── sort + limit / take (§2.2/§2.6) ─────────────────────────────
    Q("q20_sort_limit",
      (s, dir) => Tables.events(s, dir)
        .orderBy(col("value").desc, col("event_id"))
        .limit(100)
        .select("event_id", "event_type", "value"),
      Some("""SELECT event_id, event_type, value FROM events
        ORDER BY value DESC, event_id LIMIT 100""")),

    // ── delta(d) lookback: previous-window value per key (faust
    //    WindowSet.delta; §2.4) ──────────────────────────────────────
    Q("q21_window_delta",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(expr("ts_sec div 86400").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily.withColumn("prev_n", coalesce(lag(col("n"), 1).over(w), lit(-1L)))
          .orderBy("day", "event_type")
      },
      Some(Tables.eventsCte + """
        SELECT day, event_type, n,
          COALESCE(LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day), -1) AS prev_n
        FROM (SELECT ts_sec // 86400 AS day, event_type, COUNT(*) AS n
              FROM e GROUP BY 1, 2)
        ORDER BY day, event_type""")),

    // ── changelog compaction: latest value per key (faust table
    //    changelog "keep latest"; §2.1/§3.2) ─────────────────────────
    Q("q22_changelog_latest",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_sec").desc, col("event_id").desc)
        Tables.events(s, dir)
          .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
          .select("user_id", "event_id", "event_type", "value")
          .orderBy("user_id")
      },
      Some(Tables.eventsCte + """
        SELECT user_id, event_id, event_type, value FROM (
          SELECT user_id, event_id, event_type, value,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts_sec DESC, event_id DESC) AS rk
          FROM e) WHERE rk = 1 ORDER BY user_id""")),

    // ── left-outer join with null handling (faust left_join; §2.3) ──
    Q("q23_left_outer_join",
      (s, dir) => {
        val richCust = Tables.customer(s, dir)
          .filter(col("c_acctbal") > 5000)
          .select(col("c_custkey"), col("c_mktsegment"))
        Tables.orders(s, dir)
          .join(broadcast(richCust), col("o_custkey") === col("c_custkey"), "left_outer")
          .groupBy(coalesce(col("c_mktsegment"), lit("(none)")).as("segment"))
          .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("sum_price"))
          .orderBy("segment")
      },
      Some("""SELECT COALESCE(c_mktsegment, '(none)') AS segment,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders LEFT JOIN
          (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000) c
          ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY segment""")),

    // ── rollup / grouping sets (target-side addition; SURVEY §2.4
    //    notes the reference has none — Spark built-in) ──────────────
    Q("q24_rollup",
      (s, dir) => Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .rollup(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("c_mktsegment"), lit("(all)")).as("segment"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("sum_price"))
        .orderBy("segment", "priority"),
      Some("""SELECT COALESCE(c_mktsegment, '(all)') AS segment,
        COALESCE(o_orderpriority, '(all)') AS priority,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
        ORDER BY segment, priority""")),

    // ── approximate distinct (HLL++): the scale path for SetTable
    //    cardinality readers. The NATIVE sketch's estimate is
    //    engine-specific, so it is oracle-checked as a bounded-
    //    deviation flag (q51's pattern, deterministic TRUE); the
    //    estimate COLUMN the oracle hash-matches is the portable HLL
    //    (q53/q54 machinery) over the same groupBy shape — all four
    //    output columns deterministic → hash-EXACT, while the native
    //    HLL++ path still executes in the plan. ────────────────────────
    Q("q25_approx_distinct",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val est = graft.ops.SketchOps.hyperLogLogBy(
          ev, Seq("event_type"), "user_id", p = 8)
        ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id"), 0.05).as("_native"))
          .join(est, Seq("event_type"))
          .select(col("event_type"), col("exact_users"), col("hll_est"),
            (col("_native") >= col("exact_users") * 0.85 &&
              col("_native") <= col("exact_users") * 1.15)
              .as("native_within_15pct"))
          .orderBy("event_type")
      },
      Some(s"""SELECT ex.event_type, ex.exact_users, est.hll_est,
        TRUE AS native_within_15pct
        FROM (SELECT event_type,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
              FROM events GROUP BY event_type) ex
        JOIN (${XxHashSql.hllPortableGroupedOracle(
          "events", "event_type", "user_id", p = 8)}) est
          ON ex.event_type = est.event_type
        ORDER BY ex.event_type""")),

    // ── q25's oracle-checkable face: the HLL estimate itself is
    //    engine-local, but its ACCURACY CONTRACT is not — emit the
    //    exact count plus a bounded-deviation flag the oracle asserts
    //    TRUE (HLL merge is commutative, so the flag is deterministic
    //    under any partitioning) ──────────────────────────────────────
    Q("q51_approx_bounds",
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.05).as("_approx"))
        .select(col("event_type"), col("exact_users"),
          (col("_approx") >= col("exact_users") * 0.85 &&
            col("_approx") <= col("exact_users") * 1.15).as("within_15pct"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        TRUE AS within_15pct
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ── PORTABLE HyperLogLog (SketchOps): the approx-distinct family's
    //    hash-EXACT member. q25 (native HLL++) stays rows-only by
    //    design; this flavor is our own textbook HLL over xxhash64 —
    //    exact integer register sum + same-order IEEE ops — so the
    //    DuckDB oracle recomputes the ESTIMATE bit-for-bit via the
    //    XxHashSql machinery (same portable-twin pattern as d03/d08).
    Q("q53_approx_distinct_portable",
      (s, dir) => graft.ops.SketchOps.hyperLogLog(
        Tables.orders(s, dir), "o_orderkey", p = 8),
      Some(XxHashSql.hllPortableOracle("orders", "o_orderkey", p = 8))),

    // ── grouped portable HLL: per-slice distinct counts (the q25
    //    groupBy shape), still hash-EXACT. Fixture keeps every group's
    //    cardinality ≥ 2.5·m (raw-range estimator precondition). ─────
    Q("q54_approx_distinct_grouped",
      (s, dir) => graft.ops.SketchOps.hyperLogLogBy(
        Tables.orders(s, dir), Seq("o_orderpriority"), "o_custkey", p = 8)
        .orderBy("o_orderpriority"),
      Some(XxHashSql.hllPortableGroupedOracle(
        "orders", "o_orderpriority", "o_custkey", p = 8))),

    // ── KMV distinct estimate: the bottom-k-hash sketch (the fourth
    //    portable member: HLL q53, CMS q55, Bloom q59) — one DISTINCT
    //    partial agg + TakeOrderedAndProject bottom-k + O(k) fold;
    //    est = (k-1)/kth-smallest unit hash. ──────────────────────────
    Q("q71_kmv_distinct",
      (s, dir) => graft.ops.SketchOps.kmvDistinctEstimate(
        Tables.lineitem(s, dir), "l_partkey", k = 64),
      Some("""WITH u AS (
          SELECT DISTINCT
            ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT
              / 1152921504606846976.0 AS uh
          FROM lineitem),
        s AS (SELECT uh FROM u ORDER BY uh LIMIT 64),
        a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
                MAX(uh) AS kth_uh FROM s)
        SELECT k_used, kth_uh,
          CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE)
               ELSE CAST(k_used - 1 AS DOUBLE) / kth_uh END AS est_distinct
        FROM a""")),

    // ── portable Count-Min Sketch: register matrix + min-over-rows
    //    frequency estimates for every token, vs exact counts. Width
    //    16 forces collisions so the overestimate path is exercised;
    //    MD5-seeded rows make the registers engine-recomputable. ──────
    Q("q55_cms_frequency",
      (s, dir) => {
        val occ = Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("tok"))
        val regs = graft.ops.SketchOps.cmsRegisters(occ, "tok",
          depth = 3, width = 16)
        val exact = occ.groupBy("tok").agg(count(lit(1)).as("exact_n"))
        val est = graft.ops.SketchOps.cmsEstimates(regs,
          exact.select("tok"), "tok", depth = 3, width = 16)
        exact.join(est, Seq("tok")).orderBy("tok")
      },
      Some("""WITH occ AS (
          SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
        pr AS (
          SELECT tok, i,
            ('0x' || substr(md5(i::VARCHAR || '|' || tok), 1, 15))::BIGINT
              % 16 AS j
          FROM occ CROSS JOIN range(3) t(i)),
        reg AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS c
                FROM pr GROUP BY i, j),
        keys AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n
                 FROM occ GROUP BY tok),
        kp AS (
          SELECT k.tok, t.i,
            ('0x' || substr(md5(t.i::VARCHAR || '|' || k.tok), 1, 15))::BIGINT
              % 16 AS j
          FROM keys k CROSS JOIN range(3) t(i))
        SELECT k.tok, k.exact_n, MIN(r.c) AS est_n
        FROM keys k JOIN kp ON kp.tok = k.tok
        JOIN reg r ON r.i = kp.i AND r.j = kp.j
        GROUP BY k.tok, k.exact_n
        ORDER BY k.tok""")),

    // ── grouped CMS: one independent sketch per language (the q54
    //    grouped shape for FREQUENCIES) — per-slice token counts
    //    without a per-slice exact groupBy at serving time. ───────────
    Q("q56_cms_grouped",
      (s, dir) => {
        val occ = Tables.documents(s, dir)
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        val regs = graft.ops.SketchOps.cmsRegistersBy(occ, Seq("lang"),
          "tok", depth = 3, width = 16)
        val exact = occ.groupBy("lang", "tok").agg(count(lit(1)).as("exact_n"))
        val est = graft.ops.SketchOps.cmsEstimatesBy(regs,
          exact.select("lang", "tok"), Seq("lang"), "tok",
          depth = 3, width = 16)
        exact.join(est, Seq("lang", "tok")).orderBy("lang", "tok")
      },
      Some("""WITH occ AS (
          SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        pr AS (
          SELECT lang, tok, i,
            ('0x' || substr(md5(i::VARCHAR || '|' || tok), 1, 15))::BIGINT
              % 16 AS j
          FROM occ CROSS JOIN range(3) t(i)),
        reg AS (SELECT lang, i, j, CAST(COUNT(*) AS BIGINT) AS c
                FROM pr GROUP BY lang, i, j),
        keys AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS exact_n
                 FROM occ GROUP BY lang, tok),
        kp AS (
          SELECT k.lang, k.tok, t.i,
            ('0x' || substr(md5(t.i::VARCHAR || '|' || k.tok), 1, 15))::BIGINT
              % 16 AS j
          FROM keys k CROSS JOIN range(3) t(i))
        SELECT k.lang, k.tok, k.exact_n, MIN(r.c) AS est_n
        FROM keys k
        JOIN kp ON kp.lang = k.lang AND kp.tok = k.tok
        JOIN reg r ON r.lang = kp.lang AND r.i = kp.i AND r.j = kp.j
        GROUP BY k.lang, k.tok, k.exact_n
        ORDER BY k.lang, k.tok""")),

    // ── dyadic-CMS quantiles: the PORTABLE approximate percentile —
    //    the quantile member of the sketch family (distinct q53/q54,
    //    frequency q55/q56). Integer-only register+rank path, so the
    //    oracle replays the ENTIRE sketch bit-for-bit; Spark's own
    //    approx_percentile (q51/q52) is the engine-local twin. q_exact
    //    is the rank-based exact answer — the accuracy readout next to
    //    the estimate, like q55's exact_n column. ─────────────────────
    Q("q57_dyadic_quantile",
      (s, dir) => {
        import graft.ops.SketchOps
        val vals = Tables.lineitem(s, dir)
          .select(col("l_quantity").cast("long").as("v"))
        // census-first batch path: one narrow domain-bounded partial
        // agg, then domain-many MD5s (not row-many) — registers are
        // bit-identical to the per-occurrence build the oracle replays
        val census = vals.groupBy("v").agg(count(lit(1)).as("cnt"))
        val regs = SketchOps.dyadicCmsRegistersFromCensus(census,
          Seq.empty, "v", "cnt", levels = 6, depth = 3, width = 128)
        val total = census.agg(sum("cnt").as("n"))
        val est = SketchOps.dyadicCmsQuantiles(regs, total,
          Seq(0.25, 0.5, 0.75, 0.9), levels = 6, depth = 3, width = 128)
        val cand = s.range(1L, 65L).toDF("x")
        val exactPrefix = cand.join(census, col("v") < col("x"), "left")
          .groupBy("x").agg(coalesce(sum("cnt"), lit(0L)).as("ex_rank"))
        val exact = est.select("phi", "target").crossJoin(exactPrefix)
          .groupBy("phi", "target")
          .agg(min(when(col("ex_rank") >= col("target"), col("x") - 1L))
            .as("q_exact"))
        est.join(exact, Seq("phi", "target")).orderBy("phi")
      },
      Some("""WITH vals AS (
          SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem
          WHERE l_quantity IS NOT NULL),
        n AS (SELECT COUNT(*) AS n FROM vals),
        upd AS (SELECT (l::VARCHAR || ':' || (v >> l)::VARCHAR) AS dk
                FROM vals CROSS JOIN range(6) t(l)),
        reg AS (
          SELECT i,
            ('0x' || substr(md5(i::VARCHAR || '|' || dk), 1, 15))::BIGINT
              % 128 AS j,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM upd CROSS JOIN range(3) u(i) GROUP BY 1, 2),
        cand AS (SELECT x FROM range(1, 65) c(x)),
        dec AS (SELECT x,
                  (k::VARCHAR || ':' || (2*(x >> (k+1)))::VARCHAR) AS dk
                FROM cand CROSS JOIN range(6) d(k)
                WHERE ((x >> k) & 1) = 1),
        keys AS (SELECT DISTINCT dk FROM dec),
        kp AS (SELECT dk, i,
                 ('0x' || substr(md5(i::VARCHAR || '|' || dk), 1, 15))::BIGINT
                   % 128 AS j
               FROM keys CROSS JOIN range(3) u(i)),
        est AS (SELECT kp.dk, MIN(COALESCE(r.c, 0)) AS est_n
                FROM kp LEFT JOIN reg r ON r.i = kp.i AND r.j = kp.j
                GROUP BY kp.dk),
        prefix AS (SELECT d.x, CAST(SUM(e.est_n) AS BIGINT) AS est_rank
                   FROM dec d JOIN est e ON e.dk = d.dk GROUP BY d.x),
        census AS (SELECT v, COUNT(*) AS cnt FROM vals GROUP BY v),
        exact_prefix AS (
          SELECT c.x, CAST(COALESCE(SUM(s.cnt), 0) AS BIGINT) AS ex_rank
          FROM cand c LEFT JOIN census s ON s.v < c.x GROUP BY c.x),
        phis AS (SELECT phi
                 FROM (VALUES (0.25), (0.5), (0.75), (0.9)) p(phi)),
        tgt AS (SELECT phi, CAST(CEIL(phi * n.n) AS BIGINT) AS target
                FROM phis CROSS JOIN n)
        SELECT t.phi, t.target,
          MIN(CASE WHEN p.est_rank >= t.target THEN p.x - 1 END) AS q_est,
          MIN(CASE WHEN e.ex_rank >= t.target THEN e.x - 1 END) AS q_exact
        FROM tgt t CROSS JOIN prefix p JOIN exact_prefix e ON e.x = p.x
        GROUP BY t.phi, t.target ORDER BY t.phi""")),

    // ── grouped dyadic quantiles: one independent quantile sketch per
    //    language (per-slice doc-length percentiles — the q54/q56
    //    grouped shape for QUANTILES). Census-first registers; width
    //    512 leaves a live collision path (q_est ≈ q_exact, one-sided). ─
    Q("q58_dyadic_quantile_grouped",
      (s, dir) => {
        import graft.ops.SketchOps
        val vals = Tables.documents(s, dir)
          .select(col("lang"), col("n_chars").cast("long").as("v"))
        val census = vals.groupBy("lang", "v").agg(count(lit(1)).as("cnt"))
        val regs = SketchOps.dyadicCmsRegistersFromCensus(census,
          Seq("lang"), "v", "cnt", levels = 10, depth = 3, width = 512)
        val totals = census.groupBy("lang").agg(sum("cnt").as("n"))
        val est = SketchOps.dyadicCmsQuantilesBy(regs, totals, Seq("lang"),
          Seq(0.5, 0.9, 0.99), levels = 10, depth = 3, width = 512)
        val cand = s.range(1L, 1025L).toDF("x")
        val gx = totals.select("lang").crossJoin(broadcast(cand))
        val exactPrefix = gx.join(census,
            gx("lang") === census("lang") && census("v") < gx("x"), "left")
          .groupBy(gx("lang"), gx("x"))
          .agg(coalesce(sum("cnt"), lit(0L)).as("ex_rank"))
        val exact = est.select("lang", "phi", "target")
          .join(exactPrefix, Seq("lang"))
          .groupBy("lang", "phi", "target")
          .agg(min(when(col("ex_rank") >= col("target"), col("x") - 1L))
            .as("q_exact"))
        est.join(exact, Seq("lang", "phi", "target"))
          .orderBy("lang", "phi")
      },
      Some("""WITH vals AS (
          SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents
          WHERE n_chars IS NOT NULL),
        n AS (SELECT lang, COUNT(*) AS n FROM vals GROUP BY lang),
        upd AS (SELECT lang, (l::VARCHAR || ':' || (v >> l)::VARCHAR) AS dk
                FROM vals CROSS JOIN range(10) t(l)),
        reg AS (
          SELECT lang, i,
            ('0x' || substr(md5(i::VARCHAR || '|' || dk), 1, 15))::BIGINT
              % 512 AS j,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM upd CROSS JOIN range(3) u(i) GROUP BY 1, 2, 3),
        cand AS (SELECT x FROM range(1, 1025) c(x)),
        dec AS (SELECT n.lang, c.x,
                  (k::VARCHAR || ':' || (2*(c.x >> (k+1)))::VARCHAR) AS dk
                FROM n CROSS JOIN cand c CROSS JOIN range(10) d(k)
                WHERE ((c.x >> k) & 1) = 1),
        keys AS (SELECT DISTINCT lang, dk FROM dec),
        kp AS (SELECT lang, dk, i,
                 ('0x' || substr(md5(i::VARCHAR || '|' || dk), 1, 15))::BIGINT
                   % 512 AS j
               FROM keys CROSS JOIN range(3) u(i)),
        est AS (SELECT kp.lang, kp.dk, MIN(COALESCE(r.c, 0)) AS est_n
                FROM kp LEFT JOIN reg r
                  ON r.lang = kp.lang AND r.i = kp.i AND r.j = kp.j
                GROUP BY kp.lang, kp.dk),
        prefix AS (SELECT d.lang, d.x, CAST(SUM(e.est_n) AS BIGINT) AS est_rank
                   FROM dec d JOIN est e ON e.lang = d.lang AND e.dk = d.dk
                   GROUP BY d.lang, d.x),
        census AS (SELECT lang, v, COUNT(*) AS cnt FROM vals GROUP BY 1, 2),
        exact_prefix AS (
          SELECT n.lang, c.x, CAST(COALESCE(SUM(s.cnt), 0) AS BIGINT) AS ex_rank
          FROM n CROSS JOIN cand c
          LEFT JOIN census s ON s.lang = n.lang AND s.v < c.x
          GROUP BY n.lang, c.x),
        phis AS (SELECT phi FROM (VALUES (0.5), (0.9), (0.99)) p(phi)),
        tgt AS (SELECT lang, phi, CAST(CEIL(phi * n.n) AS BIGINT) AS target
                FROM phis CROSS JOIN n)
        SELECT t.lang, t.phi, t.target,
          MIN(CASE WHEN p.est_rank >= t.target THEN p.x - 1 END) AS q_est,
          MIN(CASE WHEN e.ex_rank >= t.target THEN e.x - 1 END) AS q_exact
        FROM tgt t
        JOIN prefix p ON p.lang = t.lang
        JOIN exact_prefix e ON e.lang = t.lang AND e.x = p.x
        GROUP BY t.lang, t.phi, t.target
        ORDER BY t.lang, t.phi""")),

    // ── portable Bloom membership: the set-membership sketch member —
    //    d15's engine-local bloom_filter_agg gets an oracle-replayable
    //    twin (the q25→q53 pattern). d09's incremental fixture: probe
    //    an increment's fingerprints against the corpus bit set;
    //    m=256 over ~70 keys leaves a live false-positive path, and
    //    actually_in is the accuracy readout (no false negatives). ────
    Q("q59_bloom_membership",
      (s, dir) => {
        import graft.ops.SketchOps
        val docs = Tables.documents(s, dir)
        val fp = md5(col("text").cast("binary")).as("fingerprint")
        val corpus = docs.where(col("doc_id") % 7 === 0)
          .select(fp).distinct()
        val probe = docs.where(col("doc_id") % 5 === 0)
          .select(fp).distinct()
        val bits = SketchOps.bloomBits(corpus, "fingerprint",
          numBits = 256, numHashes = 3)
        val might = SketchOps.bloomMightContain(bits, probe, "fingerprint",
          numBits = 256, numHashes = 3)
        might.join(corpus.withColumn("_in", lit(1)), Seq("fingerprint"), "left")
          .select(col("fingerprint"), col("might_contain"),
            col("_in").isNotNull.as("actually_in"))
          .orderBy("fingerprint")
      },
      Some("""WITH corpus AS (
          SELECT DISTINCT MD5(text) AS fingerprint FROM documents
          WHERE doc_id % 7 = 0),
        bits AS (
          SELECT DISTINCT
            ('0x' || substr(md5(i::VARCHAR || '|' || fingerprint), 1, 15))::BIGINT
              % 256 AS bit
          FROM corpus CROSS JOIN range(3) t(i)),
        probe AS (
          SELECT DISTINCT MD5(text) AS fingerprint FROM documents
          WHERE doc_id % 5 = 0),
        pp AS (
          SELECT fingerprint,
            ('0x' || substr(md5(i::VARCHAR || '|' || fingerprint), 1, 15))::BIGINT
              % 256 AS bit
          FROM probe CROSS JOIN range(3) t(i)),
        hits AS (
          SELECT pp.fingerprint, COUNT(b.bit) AS nset
          FROM pp LEFT JOIN bits b ON b.bit = pp.bit
          GROUP BY pp.fingerprint)
        SELECT h.fingerprint, h.nset = 3 AS might_contain,
          h.fingerprint IN (SELECT fingerprint FROM corpus) AS actually_in
        FROM hits h ORDER BY fingerprint""")),

    // ── ordered conversion funnel: earliest view, earliest click
    //    STRICTLY AFTER it, earliest purchase after that — per user,
    //    one bounded user-key groupBy per step, no event sort. -1 =
    //    never reached (sentinel keeps the longs non-null: the
    //    driver's pandas path degrades nullable ints to float64).
    //    Timestamps compare at µs — `Tables.tsMicros` schema-dispatches
    //    the raw column to epoch-µs exactly as DuckDB's `epoch_us(ts)`
    //    (exact integer arithmetic, same total order). ────────────────
    Q("q60_event_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val out = graft.ops.EventOps.funnelSteps(
          ev.withColumn("ts_us", Tables.tsMicros(ev)),
          "user_id", "event_type", "ts_us", Seq("view", "click", "purchase"))
        out.select(col("user_id"), col("view_ts"),
            coalesce(col("click_ts"), lit(-1L)).as("click_ts"),
            coalesce(col("purchase_ts"), lit(-1L)).as("purchase_ts"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        t1 AS (SELECT user_id, MIN(ts_us) AS view_ts FROM e
               WHERE event_type = 'view' GROUP BY 1),
        t2 AS (SELECT e.user_id, MIN(e.ts_us) AS click_ts
               FROM e JOIN t1 ON t1.user_id = e.user_id
               WHERE e.event_type = 'click' AND e.ts_us > t1.view_ts
               GROUP BY 1),
        t3 AS (SELECT e.user_id, MIN(e.ts_us) AS purchase_ts
               FROM e JOIN t2 ON t2.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts_us > t2.click_ts
               GROUP BY 1)
        SELECT t1.user_id, t1.view_ts,
          COALESCE(t2.click_ts, -1) AS click_ts,
          COALESCE(t3.purchase_ts, -1) AS purchase_ts
        FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        ORDER BY user_id""")),

    // ── grouped Bloom: one independent bit set per language (the
    //    q54/q56/q58 grouped shape for MEMBERSHIP — per-shard filters
    //    that never pay another slice's false-positive mass) ──────────
    Q("q61_bloom_grouped",
      (s, dir) => {
        import graft.ops.SketchOps
        val docs = Tables.documents(s, dir)
        val fp = md5(col("text").cast("binary")).as("fingerprint")
        val corpus = docs.where(col("doc_id") % 7 === 0)
          .select(col("lang"), fp).distinct()
        val probe = docs.where(col("doc_id") % 5 === 0)
          .select(col("lang"), fp).distinct()
        val bits = SketchOps.bloomBitsBy(corpus, Seq("lang"), "fingerprint",
          numBits = 64, numHashes = 3)
        val might = SketchOps.bloomMightContainBy(bits, probe, Seq("lang"),
          "fingerprint", numBits = 64, numHashes = 3)
        might.join(corpus.withColumn("_in", lit(1)),
            Seq("lang", "fingerprint"), "left")
          .select(col("lang"), col("fingerprint"), col("might_contain"),
            col("_in").isNotNull.as("actually_in"))
          .orderBy("lang", "fingerprint")
      },
      Some("""WITH corpus AS (
          SELECT DISTINCT lang, MD5(text) AS fingerprint FROM documents
          WHERE doc_id % 7 = 0),
        bits AS (
          SELECT DISTINCT lang,
            ('0x' || substr(md5(i::VARCHAR || '|' || fingerprint), 1, 15))::BIGINT
              % 64 AS bit
          FROM corpus CROSS JOIN range(3) t(i)),
        probe AS (
          SELECT DISTINCT lang, MD5(text) AS fingerprint FROM documents
          WHERE doc_id % 5 = 0),
        pp AS (
          SELECT lang, fingerprint,
            ('0x' || substr(md5(i::VARCHAR || '|' || fingerprint), 1, 15))::BIGINT
              % 64 AS bit
          FROM probe CROSS JOIN range(3) t(i)),
        hits AS (
          SELECT pp.lang, pp.fingerprint, COUNT(b.bit) AS nset
          FROM pp LEFT JOIN bits b ON b.lang = pp.lang AND b.bit = pp.bit
          GROUP BY pp.lang, pp.fingerprint)
        SELECT h.lang, h.fingerprint, h.nset = 3 AS might_contain,
          EXISTS (SELECT 1 FROM corpus c
                  WHERE c.lang = h.lang AND c.fingerprint = h.fingerprint)
            AS actually_in
        FROM hits h ORDER BY lang, fingerprint""")),

    // ── batch sessionization: q27's gap semantics over historical
    //    data (the backfill the streaming operator can't run); one
    //    user-partitioned shuffle shared by both windows ──────────────
    Q("q62_sessionize_batch",
      (s, dir) => graft.ops.EventOps.sessionize(
        Tables.events(s, dir).select(col("user_id"), col("event_id"),
          col("ts_sec")),
        "user_id", "ts_sec", "event_id", gapSeconds = 43200L)
        .orderBy("user_id", "session_id"),
      Some(Tables.eventsCte + """,
        l AS (SELECT user_id, event_id, ts_sec,
                LAG(ts_sec) OVER (PARTITION BY user_id
                  ORDER BY ts_sec, event_id) AS prev
              FROM e),
        m AS (SELECT *, CASE WHEN prev IS NULL OR ts_sec - prev > 43200
                THEN 1 ELSE 0 END AS brk FROM l),
        s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
                ORDER BY ts_sec, event_id ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
        SELECT user_id, CAST(sid AS BIGINT) AS session_id,
          MIN(ts_sec) AS session_start, MAX(ts_sec) AS session_end,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM s GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── conditional aggregation (pivot-style wide table) ────────────
    Q("q30_conditional_agg",
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_clicks"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_buys"),
          sum(when(col("event_type") === "purchase", dec2(col("value"))).otherwise(lit(0)))
            .cast("double").as("buy_value"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_buys,
        CAST(SUM(CASE WHEN event_type = 'purchase'
          THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS buy_value
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // ── cube (all grouping-set combinations) ────────────────────────
    Q("q31_cube",
      (s, dir) => Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"))
        .orderBy("status", "priority"),
      Some("""SELECT COALESCE(o_orderstatus, '(all)') AS status,
        COALESCE(o_orderpriority, '(all)') AS priority, COUNT(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")),

    // ── percentiles (exact interpolated; analytics addition) ───────
    Q("q29_percentiles",
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        quantile_cont(value, 0.5) AS p50,
        quantile_cont(value, 0.9) AS p90,
        MIN(value) AS min_v, MAX(value) AS max_v
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ── approx-percentile accuracy contract (q51's pattern applied
    //    to the GK quantile sketch): the estimate is engine-local and
    //    merge-order-dependent, but its RANK-error guarantee is not —
    //    with accuracy 1000 the returned value must lie between the
    //    exact p45 and p55, so the flag is deterministically TRUE ─────
    Q("q52_percentile_bounds",
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("exact_p50"),
          expr("percentile(value, 0.45)").as("_lo"),
          expr("percentile(value, 0.55)").as("_hi"),
          expr("approx_percentile(value, 0.5, 1000)").as("_approx"))
        .select(col("event_type"), col("exact_p50"),
          (col("_approx") >= col("_lo") && col("_approx") <= col("_hi"))
            .as("within_rank_bound"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        quantile_cont(value, 0.5) AS exact_p50,
        TRUE AS within_rank_bound
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ── as-of join via the CUSTOM CATALYST OPERATOR (LogicalPlan +
    //    Strategy + merge exec; graft.plans.AsOfJoinPlan) — same
    //    semantics as q26's union-and-carry form, same oracle ─────────
    Q("q37_asof_native",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_sec"), col("event_id"))
        val clicks = graft.ops.AsOfJoin.dedupRight(
          e.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts_sec"), col("event_id")),
          "user_id", "ts_sec", "event_id")
          .select(col("user_id").as("c_user"), col("ts_sec").as("c_ts"),
            col("event_id").as("c_id"))
        graft.ops.AsOfJoin.joinNative(purchases, clicks,
          "user_id", "ts_sec", "c_user", "c_ts")
          .select(col("event_id").as("purchase_id"),
            coalesce(col("c_id"), lit(-1L)).as("click_id"),
            coalesce(col("ts_sec") - col("c_ts"), lit(-1L)).as("gap_sec"))
          .orderBy("purchase_id")
      },
      Some(Tables.eventsCte + """,
        purchases AS (SELECT user_id, ts_sec, event_id FROM e
                      WHERE event_type = 'purchase'),
        clicks AS (SELECT user_id, ts_sec, MAX(event_id) AS event_id
                   FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        SELECT p.event_id AS purchase_id,
          COALESCE(c.event_id, -1) AS click_id,
          COALESCE(p.ts_sec - c.ts_sec, -1) AS gap_sec
        FROM purchases p ASOF LEFT JOIN clicks c
          ON p.user_id = c.user_id AND p.ts_sec >= c.ts_sec
        ORDER BY purchase_id""")),

    // ── analytic-window suite: dense_rank / ntile / first_value /
    //    cumulative share (§2.5 beyond row_number/lag) ───────────────
    Q("q32_analytic_suite",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val byCust = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val byCustRange = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        o.where(col("o_custkey") % 100 === 0)
          .select(col("o_custkey"), col("o_orderkey"),
            dense_rank().over(byCust).as("drk"),
            ntile(4).over(byCust).as("quartile"),
            first(col("o_orderkey")).over(byCust).as("top_order"),
            sum(dec2(col("o_totalprice"))).over(byCustRange).cast("double").as("run_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        CAST(DENSE_RANK() OVER w AS INT) AS drk,
        CAST(NTILE(4) OVER w AS INT) AS quartile,
        FIRST_VALUE(o_orderkey) OVER w AS top_order,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
          (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_price
        FROM orders WHERE o_custkey % 100 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // ── statistical aggregates (variance/stddev/correlation) with
    //    ENGINE-INDEPENDENT results: built-in stddev/corr accumulate
    //    doubles in partition order (not reproducible across engines),
    //    so the exact decimal power sums are aggregated first and the
    //    float math runs once, identically, on both sides ─────────────
    Q("q47_stats_suite",
      (s, dir) => {
        val bal = dec2(col("c_acctbal"))
        val key = col("c_custkey")
        Tables.customer(s, dir)
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n0"),
            sum(bal).as("sx"), sum(bal * bal).as("sx2"),
            sum(key).as("sy"), sum(key * key).as("sy2"),
            sum(bal * key).as("sxy"))
          .select(col("c_nationkey"),
            col("n0").cast("int").as("n"),
            (col("sx").cast("double") / col("n0")).as("mean_bal"),
            ((col("sx2").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n0"))
              / (col("n0") - lit(1))).as("var_bal"),
            sqrt((col("sx2").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n0"))
              / (col("n0") - lit(1))).as("std_bal"),
            ((col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double") / col("n0"))
              / (sqrt(col("sx2").cast("double")
                  - col("sx").cast("double") * col("sx").cast("double") / col("n0"))
                * sqrt(col("sy2").cast("double")
                  - col("sy").cast("double") * col("sy").cast("double") / col("n0"))))
              .as("corr_bal_key"))
          .orderBy("c_nationkey")
      },
      Some("""WITH a AS (
          SELECT c_nationkey, COUNT(*) AS n0,
            SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sx,
            SUM(CAST(c_acctbal AS DECIMAL(18,2))
              * CAST(c_acctbal AS DECIMAL(18,2))) AS sx2,
            SUM(c_custkey) AS sy,
            SUM(c_custkey * c_custkey) AS sy2,
            SUM(CAST(c_acctbal AS DECIMAL(18,2)) * c_custkey) AS sxy
          FROM customer GROUP BY c_nationkey)
        SELECT c_nationkey, CAST(n0 AS INT) AS n,
          CAST(sx AS DOUBLE) / n0 AS mean_bal,
          (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n0)
            / (n0 - 1) AS var_bal,
          SQRT((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n0)
            / (n0 - 1)) AS std_bal,
          (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n0)
            / (SQRT(CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n0)
             * SQRT(CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n0))
            AS corr_bal_key
        FROM a ORDER BY c_nationkey""")),

    // ── window FRAME variants (§2.5): sliding ROWS frame, RANGE frame
    //    over a numeric order key, trailing lag windows — the frame
    //    grammar q32's running-total suite doesn't touch ──────────────
    Q("q46_window_frames",
      (s, dir) => {
        val byCust = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderkey"))
        val rows3 = byCust.rowsBetween(-2, Window.currentRow)
        val ahead = byCust.rowsBetween(Window.currentRow, 1)
        val rangeFrame = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderkey")).rangeBetween(-100, 0)
        Tables.orders(s, dir)
          .where(col("o_custkey") % 50 === 0)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(dec2(col("o_totalprice"))).over(rows3).cast("double").as("sum3"),
            count(lit(1)).over(rows3).cast("int").as("cnt3"),
            min(col("o_orderkey")).over(ahead).as("cur_key"),
            max(col("o_orderkey")).over(ahead).as("next_key"),
            count(lit(1)).over(rangeFrame).cast("int").as("cnt_range"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
          (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum3,
        CAST(COUNT(*) OVER
          (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS INT) AS cnt3,
        MIN(o_orderkey) OVER
          (w ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS cur_key,
        MAX(o_orderkey) OVER
          (w ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS next_key,
        CAST(COUNT(*) OVER
          (w RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS INT) AS cnt_range
        FROM orders WHERE o_custkey % 50 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // ── anti join: customers with no urgent open order (§2.3 join
    //    family; right side filtered so the result is non-trivial on
    //    this corpus, where every FK is fully covered) ───────────────
    Q("q33_anti_join",
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .where(col("o_orderstatus") === "O" && col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderstatus = 'O' AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    // ── math scalar surface (§2.7): ops with bit-reproducible IEEE
    //    semantics only — ln/exp are libm calls that differ by 1 ulp
    //    between JVM and C engines (measured: 388/501 rows for exp),
    //    so they are exercised under rounding in t06 instead ─────────
    Q("q34_scalar_math",
      (s, dir) => Tables.part(s, dir)
        .where(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          abs(col("p_retailprice") - 1000.0).as("abs_delta"),
          round(col("p_retailprice") / 7.0, 2).as("rounded"),
          sqrt(col("p_retailprice")).as("sq"),
          floor(col("p_retailprice") / 10.0).cast("long").as("flr"),
          ceil(col("p_retailprice") / 10.0).cast("long").as("cl"),
          signum(col("p_retailprice") - 1000.0).cast("int").as("sgn"),
          pmod(col("p_partkey"), lit(97)).as("pk_mod"),
          pow(col("p_size").cast("double"), 2.0).as("size_sq"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        ABS(p_retailprice - 1000.0) AS abs_delta,
        ROUND(p_retailprice / 7.0, 2) AS rounded,
        SQRT(p_retailprice) AS sq,
        CAST(FLOOR(p_retailprice / 10.0) AS BIGINT) AS flr,
        CAST(CEIL(p_retailprice / 10.0) AS BIGINT) AS cl,
        CAST(SIGN(p_retailprice - 1000.0) AS INT) AS sgn,
        p_partkey % 97 AS pk_mod,
        POWER(CAST(p_size AS DOUBLE), 2.0) AS size_sq
        FROM part WHERE p_partkey <= 500
        ORDER BY p_partkey""")),

    // ── extended string surface (§2.7): edit distance, regex
    //    extract/replace, pad, translate, split_part, reverse ─────────
    Q("q36_string_suite",
      (s, dir) => Tables.customer(s, dir)
        .where(col("c_custkey") <= 500)
        .select(col("c_custkey"),
          levenshtein(col("c_name"), col("c_mktsegment")).as("lev"),
          regexp_extract(col("c_name"), "[0-9]+", 0).as("digits"),
          regexp_replace(col("c_name"), "[0-9]", "*").as("masked"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          rpad(col("c_mktsegment"), 12, ".").as("seg_pad"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_tr"),
          split_part(col("c_name"), lit("#"), lit(2)).as("name2"),
          reverse(col("c_name")).as("rev_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
        levenshtein(c_name, c_mktsegment) AS lev,
        regexp_extract(c_name, '[0-9]+') AS digits,
        regexp_replace(c_name, '[0-9]', '*', 'g') AS masked,
        lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        rpad(c_mktsegment, 12, '.') AS seg_pad,
        translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
        split_part(c_name, '#', 2) AS name2,
        reverse(c_name) AS rev_name
        FROM customer WHERE c_custkey <= 500
        ORDER BY c_custkey""")),

    // ── explicit GROUPING SETS + grouping() flags (completes the
    //    rollup/cube/grouping-sets §2.4 trio; Spark 4 DataFrame API) ──
    Q("q41_grouping_sets",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .withColumn("bucket", (col("user_id") % 10).cast("int"))
        e.groupingSets(
            Seq(Seq(col("event_type")), Seq(col("bucket")), Seq()),
            col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("n"),
            grouping(col("event_type")).cast("int").as("g_type"),
            grouping(col("bucket")).cast("int").as("g_bucket"))
          .select(coalesce(col("event_type"), lit("(all)")).as("etype"),
            coalesce(col("bucket"), lit(-1)).as("bucket"),
            col("n"), col("g_type"), col("g_bucket"))
          .orderBy("etype", "bucket")
      },
      Some("""SELECT COALESCE(event_type, '(all)') AS etype,
        COALESCE(CAST(user_id % 10 AS INT), -1) AS bucket,
        COUNT(*) AS n,
        CAST(GROUPING(event_type) AS INT) AS g_type,
        CAST(GROUPING(user_id % 10) AS INT) AS g_bucket
        FROM events
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        ORDER BY etype, bucket""")),

    // ── conditional-expression surface: greatest/least/nullif/
    //    ifnull/CASE (§2.7) ──────────────────────────────────────────
    Q("q42_conditionals",
      (s, dir) => Tables.part(s, dir)
        .where(col("p_partkey") <= 1000)
        .select(col("p_partkey"),
          greatest(col("p_size"), lit(25)).as("g25"),
          least(col("p_size"), lit(25)).as("l25"),
          coalesce(nullif(col("p_size"), lit(25)), lit(-1)).as("nz"),
          when(col("p_size") < 10, "small")
            .when(col("p_size") < 30, "medium")
            .otherwise("large").as("size_class"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        greatest(p_size, 25) AS g25,
        least(p_size, 25) AS l25,
        ifnull(nullif(p_size, 25), -1) AS nz,
        CASE WHEN p_size < 10 THEN 'small'
             WHEN p_size < 30 THEN 'medium'
             ELSE 'large' END AS size_class
        FROM part WHERE p_partkey <= 1000
        ORDER BY p_partkey""")),

    // ── date arithmetic suite (§2.7: trunc/last_day/add/diff/week/
    //    quarter/weekday — weekday conventions differ: Spark weekday
    //    is Mon=0, DuckDB isodow is Mon=1) ─────────────────────────────
    Q("q40_date_arithmetic",
      (s, dir) => Tables.orders(s, dir)
        .where(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          // dates emit as strings: DuckDB's pandas bridge widens DATE
          // to Timestamp, which breaks stringified-value hash parity
          to_date(col("o_orderdate")).cast("string").as("d"),
          trunc(col("o_orderdate"), "month").cast("string").as("month_start"),
          last_day(col("o_orderdate")).cast("string").as("month_end"),
          date_add(to_date(col("o_orderdate")), 30).cast("string").as("plus30"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"),
          weekofyear(col("o_orderdate")).as("wk"),
          quarter(col("o_orderdate")).as("qtr"),
          weekday(col("o_orderdate")).as("wd"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
        CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
        CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
        CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
        CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
          AS days_since,
        CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS wk,
        CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
        CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INT) AS wd
        FROM orders WHERE o_orderkey <= 2000
        ORDER BY o_orderkey""")),

    // ── crontab matching (faust @app.crontab, app/base.py:1003-1055):
    //    the pure cron predicate lowered to Catalyst columns, checked
    //    per event timestamp. m_biz = business-hours schedule;
    //    m_or exercises the vixie day-OR rule (dom OR dow when both
    //    restricted). ─────────────────────────────────────────────────
    Q("q43_crontab_match",
      (s, dir) => {
        val biz = graft.core.CronExpr.parse("*/15 9-17 * * 1-5")
        val dayOr = graft.core.CronExpr.parse("0 0 1,15 * 1")
        val ts = timestamp_seconds(col("ts_sec"))
        Tables.events(s, dir)
          .select(col("event_id"), col("ts_sec"),
            biz.column(ts, "UTC").cast("int").as("m_biz"),
            dayOr.column(ts, "UTC").cast("int").as("m_or"))
          .orderBy("event_id")
      },
      Some(Tables.eventsCte + """,
        t AS (SELECT event_id, ts_sec,
          make_timestamp(ts_sec * 1000000) AS lts FROM e)
        SELECT event_id, ts_sec,
          CAST((minute(lts) % 15 = 0) AND (hour(lts) BETWEEN 9 AND 17)
            AND (dayofweek(lts) BETWEEN 1 AND 5) AS INT) AS m_biz,
          CAST((minute(lts) = 0) AND (hour(lts) = 0)
            AND (day(lts) IN (1, 15) OR dayofweek(lts) = 1) AS INT) AS m_or
        FROM t ORDER BY event_id""")),

    // ── model field validation (faust fields.py:214-233): per-row
    //    error collection from declarative rules, oracle-checked via
    //    identical error strings in fixed check order ─────────────────
    Q("q44_field_validation",
      (s, dir) => {
        val checks = Seq(
          graft.api.Models.notNull("c_name"),
          graft.api.Models.decimalBounds("c_acctbal", maxDigits = 4, maxPlaces = 2),
          graft.api.Models.inRange("c_acctbal", 0, 9999.99),
          graft.api.Models.matches("c_mktsegment", "^(MACHINERY|FURNITURE|BUILDING)$"))
        graft.api.Models.withValidation(Tables.customer(s, dir), checks)
          .select(col("c_custkey"), size(col("_errors")).as("n_errors"),
            array_join(col("_errors"), ";").as("errs"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, CAST(len(errs) AS INT) AS n_errors,
          COALESCE(array_to_string(errs, ';'), '') AS errs
        FROM (SELECT c_custkey, list_filter([
            CASE WHEN c_name IS NULL
              THEN 'c_name: required field is null' END,
            CASE WHEN NOT (abs(c_acctbal) < 10000.0
                AND CAST(CAST(c_acctbal AS DECIMAL(6,2)) AS DOUBLE) = c_acctbal)
              THEN 'c_acctbal: exceeds max_digits=4/max_decimal_places=2' END,
            CASE WHEN NOT (c_acctbal BETWEEN 0.0 AND 9999.99)
              THEN 'c_acctbal: out of range [0.0, 9999.99]' END,
            CASE WHEN NOT regexp_matches(c_mktsegment,
                '^(MACHINERY|FURNITURE|BUILDING)$')
              THEN 'c_mktsegment: does not match ^(MACHINERY|FURNITURE|BUILDING)$' END
          ], x -> x IS NOT NULL) AS errs FROM customer)
        ORDER BY c_custkey""")),

    // ── array-function suite (§2.7 scalar surface): slice/position/
    //    contains/reverse/sort/distinct/join + HOF arithmetic ─────────
    Q("q45_array_suite",
      (s, dir) => {
        val toks = split(col("text"), " ")
        val n = size(toks)
        Tables.documents(s, dir)
          .select(col("doc_id"),
            n.as("n"),
            array_join(slice(toks, 1, 3), "-").as("first3"),
            array_position(toks, "the").cast("int").as("pos_the"),
            array_contains(toks, "data").cast("int").as("has_data"),
            element_at(reverse(toks), 1).as("last_tok"),
            array_join(slice(sort_array(array_distinct(toks)), 1, 3), ",")
              .as("sorted3"),
            aggregate(
              zip_with(sequence(lit(1), n), sequence(n, lit(1), lit(-1)),
                (a, b) => a.cast("long") * b),
              lit(0L), (acc, x) => acc + x).as("zipsum"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
            len(string_split(text, ' ')) AS n
          FROM documents)
        SELECT doc_id, CAST(n AS INT) AS n,
          array_to_string(toks[1:3], '-') AS first3,
          CAST(COALESCE(list_position(toks, 'the'), 0) AS INT) AS pos_the,
          CAST(list_contains(toks, 'data') AS INT) AS has_data,
          toks[-1] AS last_tok,
          array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS sorted3,
          CAST(list_sum(list_transform(range(1, n + 1),
            i -> i * (n - i + 1))) AS BIGINT) AS zipsum
        FROM t ORDER BY doc_id""")),

    // ── map-function suite (§2.7): construction, keys/values, lookup,
    //    membership — over a deterministic token→length map ───────────
    Q("q49_map_suite",
      (s, dir) => {
        val ks = slice(sort_array(array_distinct(split(col("text"), " "))), 1, 5)
        val m = map_from_arrays(ks, transform(ks, k => length(k)))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(m).cast("int").as("card"),
            array_join(map_keys(m), ",").as("keys_joined"),
            aggregate(map_values(m), lit(0), (acc, x) => acc + x).as("vals_sum"),
            coalesce(try_element_at(m, lit("the")), lit(-1)).cast("int").as("look_the"),
            map_contains_key(m, "data").cast("int").as("has_data"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
          SELECT doc_id,
            list_sort(list_distinct(string_split(text, ' ')))[1:5] AS ks
          FROM documents),
        mm AS (
          SELECT doc_id,
            MAP(ks, list_transform(ks, k -> CAST(len(k) AS INT))) AS mp
          FROM t)
        SELECT doc_id,
          CAST(cardinality(mp) AS INT) AS card,
          array_to_string(map_keys(mp), ',') AS keys_joined,
          CAST(list_sum(map_values(mp)) AS INT) AS vals_sum,
          CAST(COALESCE(element_at(mp, 'the')[1], -1) AS INT) AS look_the,
          CAST(list_contains(map_keys(mp), 'data') AS INT) AS has_data
        FROM mm ORDER BY doc_id""")),

    // ── table-generating explode with ordinality (§2.11 UDTF row) ───
    Q("q38_posexplode",
      (s, dir) => Tables.documents(s, dir)
        .where(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos"),
      Some("""SELECT doc_id, CAST(u.s.pos AS INT) AS pos, u.s.token AS token
        FROM (SELECT doc_id,
            UNNEST(list_transform(string_split(text, ' '),
              (t, i) -> {'pos': i - 1, 'token': t})) AS s
          FROM documents WHERE doc_id < 50) u
        ORDER BY doc_id, pos""")),

    // ── Dataset-level INTERSECT / EXCEPT (§2.6 set ops on streams) ──
    Q("q39_intersect_except",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val clickers = e.where(col("event_type") === "click").select("user_id")
        val buyers = e.where(col("event_type") === "purchase").select("user_id")
        val both = clickers.intersect(buyers)
          .withColumn("cohort", lit("click_and_buy"))
        val onlyClick = clickers.except(buyers)
          .withColumn("cohort", lit("click_only"))
        both.unionByName(onlyClick).orderBy("cohort", "user_id")
      },
      Some("""SELECT user_id, 'click_and_buy' AS cohort
        FROM (SELECT user_id FROM events WHERE event_type = 'click'
              INTERSECT
              SELECT user_id FROM events WHERE event_type = 'purchase')
        UNION ALL
        SELECT user_id, 'click_only' AS cohort
        FROM (SELECT user_id FROM events WHERE event_type = 'click'
              EXCEPT
              SELECT user_id FROM events WHERE event_type = 'purchase')
        ORDER BY cohort, user_id""")),

    // ── per-key set algebra (faust SetTable difference/intersection/
    //    symdiff, sets.py ops — §2.4): sets from two event-id halves ──
    Q("q35_set_ops",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        def half(even: Boolean) = ev
          .where(if (even) col("event_id") % 2 === 0 else col("event_id") % 2 === 1)
          .groupBy("user_id")
          .agg(sort_array(collect_set(col("event_type"))).as(if (even) "sa" else "sb"))
        val emptyArr = array().cast("array<string>")
        half(true).join(half(false), Seq("user_id"), "full_outer")
          .select(col("user_id"),
            coalesce(col("sa"), emptyArr).as("sa"),
            coalesce(col("sb"), emptyArr).as("sb"))
          .select(col("user_id"),
            size(col("sa")).as("n_a"), size(col("sb")).as("n_b"),
            size(array_intersect(col("sa"), col("sb"))).as("n_common"),
            size(array_union(col("sa"), col("sb"))).as("n_union"),
            array_join(sort_array(array_except(col("sa"), col("sb"))), ",").as("only_a"))
          .orderBy("user_id")
      },
      Some("""WITH a AS (
          SELECT user_id, list_sort(list_distinct(list(event_type))) AS sa
          FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
        b AS (
          SELECT user_id, list_sort(list_distinct(list(event_type))) AS sb
          FROM events WHERE event_id % 2 = 1 GROUP BY user_id),
        j AS (
          SELECT COALESCE(a.user_id, b.user_id) AS user_id,
            COALESCE(sa, []) AS sa, COALESCE(sb, []) AS sb
          FROM a FULL JOIN b ON a.user_id = b.user_id)
        SELECT user_id,
          CAST(len(sa) AS INT) AS n_a, CAST(len(sb) AS INT) AS n_b,
          CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS INT) AS n_common,
          CAST(len(list_distinct(list_concat(sa, sb))) AS INT) AS n_union,
          COALESCE(array_to_string(list_sort(list_filter(sa,
            x -> NOT list_contains(sb, x))), ','), '') AS only_a
        FROM j ORDER BY user_id""")),

    // ── as-of join (operator Spark lacks; union-and-carry impl,
    //    oracle = DuckDB's native ASOF JOIN) ─────────────────────────
    Q("q26_asof_join",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_sec"), col("event_id"))
        val clicks = graft.ops.AsOfJoin.dedupRight(
          e.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts_sec"), col("event_id")),
          "user_id", "ts_sec", "event_id")
        graft.ops.AsOfJoin.join(purchases, clicks,
          "user_id", "ts_sec", "event_id", "event_id")
          .select(col("event_id").as("purchase_id"),
            coalesce(col("asof_id"), lit(-1L)).as("click_id"),
            coalesce(col("ts_sec") - col("asof_ts"), lit(-1L)).as("gap_sec"))
          .orderBy("purchase_id")
      },
      Some(Tables.eventsCte + """,
        purchases AS (SELECT user_id, ts_sec, event_id FROM e
                      WHERE event_type = 'purchase'),
        clicks AS (SELECT user_id, ts_sec, MAX(event_id) AS event_id
                   FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        SELECT p.event_id AS purchase_id,
          COALESCE(c.event_id, -1) AS click_id,
          COALESCE(p.ts_sec - c.ts_sec, -1) AS gap_sec
        FROM purchases p ASOF LEFT JOIN clicks c
          ON p.user_id = c.user_id AND p.ts_sec >= c.ts_sec
        ORDER BY purchase_id""")),

    // ── FORWARD as-of with tolerance (pandas merge_asof parity):
    //    nearest future click within 1h of each purchase ──────────────
    Q("q48_asof_forward",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_sec"), col("event_id"))
        val clicks = graft.ops.AsOfJoin.dedupRight(
          e.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts_sec"), col("event_id")),
          "user_id", "ts_sec", "event_id")
        val j = graft.ops.AsOfJoin.joinForward(purchases, clicks,
          "user_id", "ts_sec", "event_id", "event_id")
        graft.ops.AsOfJoin.withTolerance(j, "ts_sec", 3600)
          .select(col("event_id").as("purchase_id"),
            coalesce(col("asof_id"), lit(-1L)).as("next_click_id"),
            coalesce(col("asof_ts") - col("ts_sec"), lit(-1L)).as("gap_sec"))
          .orderBy("purchase_id")
      },
      Some(Tables.eventsCte + """,
        purchases AS (SELECT user_id, ts_sec, event_id FROM e
                      WHERE event_type = 'purchase'),
        clicks AS (SELECT user_id, ts_sec, MAX(event_id) AS event_id
                   FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        SELECT p.event_id AS purchase_id,
          COALESCE(CASE WHEN c.ts_sec - p.ts_sec <= 3600
            THEN c.event_id END, -1) AS next_click_id,
          COALESCE(CASE WHEN c.ts_sec - p.ts_sec <= 3600
            THEN c.ts_sec - p.ts_sec END, -1) AS gap_sec
        FROM purchases p ASOF LEFT JOIN clicks c
          ON p.user_id = c.user_id AND c.ts_sec >= p.ts_sec
        ORDER BY purchase_id""")),

    // ── full-outer join (faust outer_join; §2.3) ────────────────────
    Q("q28_full_outer_join",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val clicks = e.filter(col("event_type") === "click" && col("value") > 450)
          .groupBy(col("user_id").as("cu")).agg(count(lit(1)).as("n_clicks"))
        val buys = e.filter(col("event_type") === "purchase" && col("value") > 450)
          .groupBy(col("user_id").as("pu")).agg(count(lit(1)).as("n_buys"))
        clicks.join(buys, col("cu") === col("pu"), "full_outer")
          .select(coalesce(col("cu"), col("pu")).as("user_id"),
            coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
            coalesce(col("n_buys"), lit(0L)).as("n_buys"))
          .orderBy("user_id")
      },
      Some("""SELECT COALESCE(c.cu, p.pu) AS user_id,
        COALESCE(c.n_clicks, 0) AS n_clicks,
        COALESCE(p.n_buys, 0) AS n_buys
        FROM (SELECT user_id AS cu, COUNT(*) AS n_clicks FROM events
              WHERE event_type = 'click' AND value > 450 GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT user_id AS pu, COUNT(*) AS n_buys FROM events
              WHERE event_type = 'purchase' AND value > 450 GROUP BY 1) p
          ON c.cu = p.pu
        ORDER BY user_id""")),

    // ── session windows (gap-based; Spark session_window, oracle =
    //    island detection via lag + running sum) ────────────────────
    Q("q27_session_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(session_window(timestamp_seconds(col("ts_sec")), "1800 seconds").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
        .select(col("user_id"), unix_timestamp(col("w.start")).as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
      // Boundary rule (caught by the round-13 seed-randomized fixture
      // audit): Spark's session_window MERGES an event at exactly
      // last + gap (windows that touch coalesce), so a new session
      // starts only when the gap STRICTLY exceeds 1800 — same strict
      // rule as EventOps.sessionize / q62.
      Some(Tables.eventsCte + """,
        marked AS (
          SELECT user_id, ts_sec, event_id, value,
            CASE WHEN ts_sec - LAG(ts_sec) OVER
              (PARTITION BY user_id ORDER BY ts_sec, event_id) > 1800
              OR LAG(ts_sec) OVER
              (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
            THEN 1 ELSE 0 END AS new_session
          FROM e),
        sessions AS (
          SELECT user_id, ts_sec, value,
            SUM(new_session) OVER
              (PARTITION BY user_id ORDER BY ts_sec, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
          FROM marked)
        SELECT user_id, MIN(ts_sec) AS session_start,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM sessions GROUP BY user_id, session_id
        ORDER BY user_id, session_start""")),

    // ── per-column table profile (the "what did the crawl deliver"
    //    report): null rate, exact cardinality, typed min/max, mean
    //    rendered length. One column-pruned aggregation leg per
    //    column, unioned — total I/O = one full-table read. ──────────
    Q("q63_profile",
      (s, dir) => graft.ops.ProfileOps.profile(
        Tables.documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("column"),
      Some {
        val leg = (c: String) => s"""
          SELECT '$c' AS "column", COUNT(*) AS n_rows,
            COUNT(*) - COUNT($c) AS n_nulls,
            COUNT(DISTINCT $c) AS n_distinct,
            CAST(MIN($c) AS VARCHAR) AS min_repr,
            CAST(MAX($c) AS VARCHAR) AS max_repr,
            ROUND(AVG(LENGTH(CAST($c AS VARCHAR))), 6) AS avg_len
          FROM documents"""
        Seq("doc_id", "text", "lang", "source", "n_chars")
          .map(leg).mkString("", " UNION ALL ", """ ORDER BY "column"""")
      }),

    // ── pivot (long→wide crosstab): the §2.5 analytics sibling of
    //    rollup/cube — lang counts fanned into columns per source.
    //    Values are PINNED, so Catalyst skips the extra distinct-scan
    //    pass and plans one partial-aggregated groupBy; absent combos
    //    fill 0 to match SUM(CASE)'s non-null arithmetic. ────────────
    Q("q64_pivot",
      (s, dir) => Tables.documents(s, dir)
        .groupBy("source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("de", "en", "es", "fr", "zh"))
        .orderBy("source"),
      Some {
        val legs = Seq("de", "en", "es", "fr", "zh").map(l =>
          s"CAST(SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS $l")
          .mkString(", ")
        s"SELECT source, $legs FROM documents GROUP BY source ORDER BY source"
      }),

    // ── slice-pair distinct-overlap estimates: inclusion–exclusion
    //    over the q54 portable-HLL registers (register max = set
    //    union). The sketch-cost twin of d25's exact matrix — one
    //    pass builds registers, pairs are assembled from sketch rows
    //    only, and DuckDB replays every estimate bit-for-bit. ────────
    Q("q65_hll_overlap",
      (s, dir) => graft.ops.SketchOps.hllOverlap(
        Tables.orders(s, dir), "o_orderpriority", "o_custkey", p = 8)
        .orderBy("src_a", "src_b"),
      Some(XxHashSql.hllOverlapOracle(
        "orders", "o_orderpriority", "o_custkey", p = 8))),

    // ── join-key skew diagnostic: the decision table behind
    //    Layout.saltedJoin's saltFactor — top-k heaviest keys, row
    //    share, ratio to mean rows-per-key. TakeOrderedAndProject
    //    top-k + one scalar broadcast; never a global sort. ──────────
    Q("q66_skew_report",
      (s, dir) => graft.ops.Layout.skewReport(
        Tables.events(s, dir), "user_id", k = 10),
      Some("""WITH c AS (
          SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id),
        s AS (SELECT SUM(n_rows) AS total, COUNT(*) AS nkeys FROM c)
        SELECT user_id, n_rows,
          ROUND(n_rows / CAST(total AS DOUBLE), 6) AS share,
          ROUND((n_rows * nkeys) / CAST(total AS DOUBLE), 6) AS ratio_to_mean
        FROM c CROSS JOIN s
        ORDER BY n_rows DESC, user_id LIMIT 10""")),

    // ── unpivot (wide→long): q64's inverse — melt the pinned lang
    //    columns back to (source, lang, n_docs) rows, absent combos
    //    kept as explicit zeros. Round-trip proves both directions. ──
    Q("q67_unpivot",
      (s, dir) => {
        val langs = Seq("de", "en", "es", "fr", "zh")
        Tables.documents(s, dir)
          .groupBy("source").pivot("lang", langs).agg(count(lit(1)))
          .na.fill(0, langs)
          .unpivot(Array(col("source")), langs.map(col).toArray,
            "lang", "n_docs")
          .orderBy("source", "lang")
      },
      Some("""SELECT s.source, l.lang,
          CAST(COALESCE(c.n, 0) AS BIGINT) AS n_docs
        FROM (SELECT DISTINCT source FROM documents) s
        CROSS JOIN (VALUES ('de'), ('en'), ('es'), ('fr'), ('zh')) l(lang)
        LEFT JOIN (SELECT source, lang, COUNT(*) AS n
                   FROM documents GROUP BY 1, 2) c
          ON c.source = s.source AND c.lang = l.lang
        ORDER BY s.source, l.lang""")),

    // ── cohort retention matrix: users cohorted by first-seen day,
    //    each (cohort, days-since) cell = distinct users active then.
    //    One bounded user-key shuffle (per-user distinct-day set),
    //    then a periods²-bounded matrix agg + window — event volume
    //    never reaches the matrix. ───────────────────────────────────
    Q("q68_cohort_retention",
      (s, dir) => graft.ops.EventOps.cohortRetention(
        Tables.events(s, dir).select(col("user_id"), col("ts_sec")),
        "user_id", "ts_sec", periodSeconds = 86400L)
        .orderBy("cohort_period", "period_offset"),
      Some(Tables.eventsCte + """,
        d AS (SELECT user_id, ts_sec // 86400 AS p FROM e),
        c AS (SELECT user_id, MIN(p) AS cohort_period FROM d GROUP BY 1),
        a AS (SELECT DISTINCT d.user_id, c.cohort_period,
                d.p - c.cohort_period AS period_offset
              FROM d JOIN c USING (user_id)),
        m AS (SELECT cohort_period, period_offset,
                CAST(COUNT(*) AS BIGINT) AS n_users
              FROM a GROUP BY 1, 2)
        SELECT cohort_period, period_offset, n_users,
          MAX(CASE WHEN period_offset = 0 THEN n_users END)
            OVER (PARTITION BY cohort_period) AS cohort_size,
          CAST(n_users AS DOUBLE)
            / MAX(CASE WHEN period_offset = 0 THEN n_users END)
                OVER (PARTITION BY cohort_period) AS retention
        FROM m ORDER BY cohort_period, period_offset""")),

    // ── hourly resample with GAP FILL: dense per-user series between
    //    each user's first and last active bucket — gaps generated
    //    from a per-user bucket map, never shuffled. ──────────────────
    Q("q69_resample_gapfill",
      (s, dir) => graft.ops.EventOps.resampleEvents(
        Tables.events(s, dir).select(col("user_id"), col("ts_sec"),
          col("value")),
        "user_id", "ts_sec", "value", bucketSeconds = 3600L)
        .orderBy("user_id", "bucket"),
      Some(Tables.eventsCte + """,
        b AS (SELECT user_id, ts_sec // 3600 AS bucket, value FROM e),
        g AS (SELECT user_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_value
              FROM b GROUP BY 1, 2),
        r AS (SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx
              FROM g GROUP BY 1),
        s AS (SELECT user_id, UNNEST(range(mn, mx + 1)) AS bucket FROM r)
        SELECT s.user_id, s.bucket,
          COALESCE(g.n_events, 0) AS n_events,
          COALESCE(g.total_value, 0.0) AS total_value
        FROM s LEFT JOIN g ON g.user_id = s.user_id AND g.bucket = s.bucket
        ORDER BY s.user_id, s.bucket""")),

    // ── last-touch attribution report: purchases credited to the
    //    latest preceding click/view within 24h (as-of join + channel
    //    rollup — a pure composition of q26's machinery). ─────────────
    Q("q70_attribution",
      (s, dir) => graft.ops.EventOps.attributedRevenue(
        Tables.events(s, dir).select(col("user_id"), col("event_type"),
          col("ts_sec"), col("event_id"), col("value")),
        "user_id", "event_type", "ts_sec", "event_id", "value",
        convType = "purchase", touchTypes = Seq("click", "view"),
        windowSeconds = 86400L)
        .orderBy("channel"),
      Some(Tables.eventsCte + """,
        tch AS (SELECT user_id, ts_sec, MAX(event_id) AS event_id
                FROM e WHERE event_type IN ('click', 'view')
                GROUP BY 1, 2),
        tt AS (SELECT t.user_id, t.ts_sec, t.event_id, e2.event_type
               FROM tch t JOIN e e2 ON e2.event_id = t.event_id),
        p AS (SELECT user_id, ts_sec, event_id, value FROM e
              WHERE event_type = 'purchase'),
        j AS (SELECT p.event_id, p.value, tt.event_type AS ch,
                p.ts_sec - tt.ts_sec AS gap
              FROM p ASOF LEFT JOIN tt
                ON p.user_id = tt.user_id AND p.ts_sec >= tt.ts_sec),
        a AS (SELECT CASE WHEN ch IS NOT NULL AND gap <= 86400
                THEN ch ELSE '(none)' END AS channel, value FROM j)
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            AS attributed_revenue
        FROM a GROUP BY 1 ORDER BY 1""")),

    // ── q72: robust statistics per group — median/MAD (outlier-proof
    //    location+scale), quartiles/IQR, and an exact decimal trimmed
    //    sum over the [p10, p90] band. Two passes: pass 1 computes the
    //    per-group quantile frame (groups-many rows → broadcast), pass
    //    2 re-aggregates against it — the standard scale shape for any
    //    statistic defined relative to its own group's distribution.
    //    Quantile interpolation parity with DuckDB per q29; the
    //    trimmed sum is exact 2-dp decimal arithmetic per q47.
    //    The [p10, p90] band boundaries are ROUNDED TO 3 DECIMALS on
    //    both engines before the BETWEEN: values are an exact 2-dp
    //    grid, so the q=0.1/0.9 interpolation (frac in k/10) lands
    //    mathematically ON the 0.001 grid, but the ENGINES' float
    //    interpolations differ in the last ulp, and a boundary that
    //    coincides with a data value (duplicates at the cut) flips
    //    membership (caught by the eighth fresh-seed audit, seed
    //    57721566: DuckDB p10 = 5.530000000000001, Spark just below
    //    5.53, n_trim off by the two 5.53 rows). round(x, 3) of a
    //    value within ulps of its own 0.001 grid point is stable on
    //    both engines, so the band is deterministic again ─────────
    Q("q72_robust_stats",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
        val bounds = ev.groupBy("event_type")
          .agg(expr("percentile(value, 0.5)").as("med"),
            expr("percentile(value, 0.25)").as("p25"),
            expr("percentile(value, 0.75)").as("p75"),
            round(expr("percentile(value, 0.1)"), 3).as("p10"),
            round(expr("percentile(value, 0.9)"), 3).as("p90"))
        ev.join(broadcast(bounds), Seq("event_type"))
          .groupBy("event_type")
          .agg(min(col("med")).as("med"),
            expr("percentile(abs(value - med), 0.5)").as("mad"),
            min(col("p25")).as("p25"), min(col("p75")).as("p75"),
            (min(col("p75")) - min(col("p25"))).as("iqr"),
            count(when(col("value").between(col("p10"), col("p90")), 1))
              .as("n_trim"),
            sum(when(col("value").between(col("p10"), col("p90")),
              dec2(col("value")))).cast("double").as("sum_trim"))
          .orderBy("event_type")
      },
      Some("""WITH b AS (
          SELECT event_type,
            quantile_cont(value, 0.5) AS med,
            quantile_cont(value, 0.25) AS p25,
            quantile_cont(value, 0.75) AS p75,
            ROUND(quantile_cont(value, 0.1), 3) AS p10,
            ROUND(quantile_cont(value, 0.9), 3) AS p90
          FROM events GROUP BY event_type)
        SELECT e.event_type,
          MIN(b.med) AS med,
          quantile_cont(ABS(e.value - b.med), 0.5) AS mad,
          MIN(b.p25) AS p25, MIN(b.p75) AS p75,
          MIN(b.p75) - MIN(b.p25) AS iqr,
          CAST(COUNT(CASE WHEN e.value BETWEEN b.p10 AND b.p90
            THEN 1 END) AS BIGINT) AS n_trim,
          CAST(SUM(CASE WHEN e.value BETWEEN b.p10 AND b.p90
            THEN CAST(e.value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_trim
        FROM events e JOIN b USING (event_type)
        GROUP BY e.event_type ORDER BY e.event_type""")),

    // ── q73: CMS join-cardinality estimate — the plan-time diagnostic
    //    run BEFORE shuffling two huge tables on an unknown key: both
    //    sides sketch in one narrow pass (≤ depth·width register rows),
    //    the estimate touches only the sketches. Integer-exact, so the
    //    oracle replays it bit-for-bit; the exact join size rides
    //    along to exhibit the overestimate contract ────────────────────
    Q("q73_join_size_cms",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.where(col("event_type") === "click").select("user_id")
        val views = ev.where(col("event_type") === "view").select("user_id")
        val est = graft.ops.SketchOps.cmsJoinSize(
          graft.ops.SketchOps.cmsRegisters(clicks, "user_id", depth = 3, width = 32),
          graft.ops.SketchOps.cmsRegisters(views, "user_id", depth = 3, width = 32))
        val exact = clicks.groupBy("user_id").agg(count(lit(1)).as("ca"))
          .join(views.groupBy("user_id").agg(count(lit(1)).as("cb")), Seq("user_id"))
          .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_join_size"))
        est.crossJoin(exact)
          .select(col("est_join_size"), col("exact_join_size"),
            (col("est_join_size").cast("double") / col("exact_join_size"))
              .as("overestimate"))
      },
      Some("""WITH a AS (
          SELECT user_id FROM events WHERE event_type = 'click'),
        b AS (SELECT user_id FROM events WHERE event_type = 'view'),
        ra AS (
          SELECT i,
            ('0x' || substr(md5(i::VARCHAR || '|' || user_id::VARCHAR), 1, 15))::BIGINT
              % 32 AS j,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM a CROSS JOIN range(3) t(i) GROUP BY 1, 2),
        rb AS (
          SELECT i,
            ('0x' || substr(md5(i::VARCHAR || '|' || user_id::VARCHAR), 1, 15))::BIGINT
              % 32 AS j,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM b CROSS JOIN range(3) t(i) GROUP BY 1, 2),
        ip AS (
          SELECT ra.i, CAST(SUM(ra.c * rb.c) AS BIGINT) AS ip
          FROM ra JOIN rb ON ra.i = rb.i AND ra.j = rb.j GROUP BY ra.i),
        est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ip),
        ex AS (
          SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS exact_join_size
          FROM (SELECT user_id, COUNT(*) AS ca FROM a GROUP BY 1) x
          JOIN (SELECT user_id, COUNT(*) AS cb FROM b GROUP BY 1) y
          USING (user_id))
        SELECT est_join_size, exact_join_size,
          CAST(est_join_size AS DOUBLE) / exact_join_size AS overestimate
        FROM est CROSS JOIN ex""")),

    // ── q74: robust volume-anomaly flags — hourly event counts per
    //    type scored against the type's own median/MAD (outlier-proof
    //    center+spread, so one traffic spike can't mask itself by
    //    inflating a mean/stddev baseline). q72's two-pass broadcast-
    //    bounds shape on the q07 tumbling-bucket census: the monitor
    //    you run on a stream's own history ─────────────────────────────
    Q("q74_robust_anomaly",
      (s, dir) => {
        val buckets = Tables.events(s, dir)
          .groupBy(col("event_type"),
            expr("ts_sec div 3600").as("hour_bucket"))
          .agg(count(lit(1)).as("n"))
        val bounds = buckets.groupBy("event_type")
          .agg(expr("percentile(n, 0.5)").as("med"))
        val withMed = buckets.join(broadcast(bounds), Seq("event_type"))
        val mad = withMed.groupBy("event_type")
          .agg(expr("percentile(abs(n - med), 0.5)").as("mad"))
        withMed.join(broadcast(mad), Seq("event_type"))
          .select(col("event_type"), col("hour_bucket"), col("n"),
            col("med"), col("mad"),
            (abs(col("n") - col("med")) > lit(3.0) * col("mad"))
              .as("is_anomaly"))
          .orderBy("event_type", "hour_bucket")
      },
      Some(Tables.eventsCte + """,
        buckets AS (
          SELECT event_type, ts_sec // 3600 AS hour_bucket,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2),
        med AS (
          SELECT event_type, quantile_cont(n, 0.5) AS med
          FROM buckets GROUP BY event_type),
        mad AS (
          SELECT b.event_type,
            quantile_cont(ABS(b.n - m.med), 0.5) AS mad
          FROM buckets b JOIN med m USING (event_type)
          GROUP BY b.event_type)
        SELECT b.event_type, b.hour_bucket, b.n, m.med, d.mad,
          ABS(b.n - m.med) > 3.0 * d.mad AS is_anomaly
        FROM buckets b JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        ORDER BY b.event_type, b.hour_bucket""")),

    // ── q75: within-session transition matrix — Markov path analysis
    //    over consecutive same-user events (q62's gap rule): journey /
    //    sankey counts + per-source transition probabilities. One
    //    user-key window shuffle, types²-bounded report ────────────────
    Q("q75_transition_matrix",
      (s, dir) => graft.ops.EventOps.transitionMatrix(
        Tables.events(s, dir).select(col("user_id"), col("event_type"),
          col("ts_sec"), col("event_id")),
        "user_id", "event_type", "ts_sec", "event_id",
        gapSeconds = 43200L)
        .orderBy("prev_type", "next_type"),
      Some(Tables.eventsCte + """,
        l AS (
          SELECT user_id, event_type, ts_sec,
            LAG(event_type) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) AS prev_type,
            LAG(ts_sec) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) AS prev_ts
          FROM e),
        p AS (
          SELECT prev_type, event_type AS next_type,
            CAST(COUNT(*) AS BIGINT) AS n_transitions
          FROM l
          WHERE prev_type IS NOT NULL AND ts_sec - prev_ts <= 43200
          GROUP BY 1, 2),
        t AS (
          SELECT prev_type, SUM(n_transitions) AS total
          FROM p GROUP BY prev_type)
        SELECT p.prev_type, p.next_type, p.n_transitions,
          CAST(p.n_transitions AS DOUBLE) / t.total AS p_transition
        FROM p JOIN t USING (prev_type)
        ORDER BY p.prev_type, p.next_type""")),

    // ── q76: corpus snapshot diff — added/removed/changed/unchanged
    //    per id between two simulated dataset versions (v1 drops
    //    doc_id%5==0 and carries edited text for doc_id%7==0; v2 drops
    //    doc_id%3==0): the dataset-card reproducibility audit. Text
    //    never crosses the join — 16-byte hashes on a co-keyed
    //    full-outer shuffle ───────────────────────────────────────────
    Q("q76_corpus_diff",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val v1 = docs.where(col("doc_id") % 5 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v1-edit"))).otherwise(col("text")))
        val v2 = docs.where(col("doc_id") % 3 =!= 0)
        graft.ops.ProfileOps.snapshotDiff(v1, v2, "doc_id", "text")
          .orderBy("id")
      },
      Some("""WITH v1 AS (
          SELECT doc_id,
            CASE WHEN doc_id % 7 = 0 THEN text || ' v1-edit'
              ELSE text END AS text
          FROM documents WHERE doc_id % 5 <> 0),
        v2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        a AS (SELECT doc_id AS id, md5(text) AS h_old FROM v1),
        b AS (SELECT doc_id AS id, md5(text) AS h_new FROM v2)
        SELECT COALESCE(a.id, b.id) AS id,
          CASE WHEN a.h_old IS NULL THEN 'added'
            WHEN b.h_new IS NULL THEN 'removed'
            WHEN a.h_old <> b.h_new THEN 'changed'
            ELSE 'unchanged' END AS status,
          a.h_old, b.h_new
        FROM a FULL OUTER JOIN b ON a.id = b.id
        ORDER BY id""")),

    // ── q77: as-of snapshot read — the table's value per key at a
    //    point in time (time travel over the event history): latest
    //    (ts, id)-ordered value per user at the cutoff. One partial-agg
    //    max(struct) shuffle — no window sort, dedup-immune ────────────
    Q("q77_snapshot_asof",
      (s, dir) => {
        val cutoff = 1704067200L + 900000L
        Tables.events(s, dir)
          .where(col("ts_sec") <= cutoff)
          .groupBy("user_id")
          .agg(max(struct(col("ts_sec"), col("event_id"), col("value")))
            .as("_last"))
          .select(col("user_id"), col("_last.ts_sec").as("as_of_ts"),
            col("_last.event_id").as("as_of_event"),
            col("_last.value").as("as_of_value"))
          .orderBy("user_id")
      },
      Some(Tables.eventsCte + """,
        r AS (
          SELECT user_id, ts_sec, event_id, value,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts_sec DESC, event_id DESC) AS rk
          FROM e WHERE ts_sec <= 1704067200 + 900000)
        SELECT user_id, ts_sec AS as_of_ts, event_id AS as_of_event,
          value AS as_of_value
        FROM r WHERE rk = 1 ORDER BY user_id""")),

    // ── q78: time-weighted average — each value holds until the
    //    user's next event; the usage/billing statistic plain AVG gets
    //    wrong under irregular sampling. Decimal value×duration sums
    //    (q47 exactness), one user-key window shuffle ──────────────────
    Q("q78_time_weighted_avg",
      (s, dir) => graft.ops.EventOps.timeWeightedAvg(
        Tables.events(s, dir).select(col("user_id"), col("ts_sec"),
          col("event_id"), col("value")),
        "user_id", "ts_sec", "event_id", "value")
        .orderBy("user_id"),
      Some(Tables.eventsCte + """,
        l AS (
          SELECT user_id, ts_sec, value,
            LEAD(ts_sec) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) AS nxt
          FROM e),
        d AS (
          SELECT user_id,
            CAST(value AS DECIMAL(18,2)) * (nxt - ts_sec) AS vs,
            nxt - ts_sec AS dur
          FROM l WHERE nxt IS NOT NULL)
        SELECT user_id, CAST(SUM(dur) AS BIGINT) AS t_span,
          CAST(SUM(vs) AS DOUBLE) / CAST(SUM(dur) AS BIGINT)
            AS time_weighted_avg
        FROM d GROUP BY user_id ORDER BY user_id""")),

    // ── q79: per-type value trend — least-squares slope of value
    //    against time within each event type (the metric-drift
    //    monitor: is this signal rising?). t32's exact-moment recipe
    //    at group grain: x re-anchors to the group's min ts (two-pass
    //    broadcast-bounds, q72's shape) so decimal moments never
    //    overflow; value is exact 2-dp decimal; the closed form is
    //    fixed-order IEEE on the exact sums ─────────────────────────────
    Q("q79_trend_per_group",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("ts_sec"), col("value"))
        val anchors = ev.groupBy("event_type")
          .agg(min(col("ts_sec")).as("t0"))
        val pts = ev.join(broadcast(anchors), Seq("event_type"))
          .select(col("event_type"),
            (col("ts_sec") - col("t0")).cast("decimal(18,0)").as("x"),
            col("value").cast("decimal(18,2)").as("y"))
        val m = pts.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"))
        m.select(col("event_type"), col("n"),
          col("n").cast("double").as("nd"),
          col("sx").cast("double").as("sxd"),
          col("sy").cast("double").as("syd"),
          col("sxx").cast("double").as("sxxd"),
          col("sxy").cast("double").as("sxyd"))
          .select(col("event_type"), col("n"),
            ((col("nd") * col("sxyd") - col("sxd") * col("syd")) /
              (col("nd") * col("sxxd") - col("sxd") * col("sxd")))
              .as("slope"),
            col("nd"), col("sxd"), col("syd"))
          .select(col("event_type"), col("n"), col("slope"),
            ((col("syd") - col("slope") * col("sxd")) / col("nd"))
              .as("intercept"))
          .orderBy("event_type")
      },
      Some(Tables.eventsCte + """,
        a AS (SELECT event_type, MIN(ts_sec) AS t0 FROM e GROUP BY 1),
        p AS (
          SELECT e.event_type,
            CAST(e.ts_sec - a.t0 AS DECIMAL(18,0)) AS x,
            CAST(e.value AS DECIMAL(18,2)) AS y
          FROM e JOIN a USING (event_type)),
        m AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(COUNT(*) AS DOUBLE) AS nd,
            CAST(SUM(x) AS DOUBLE) AS sxd, CAST(SUM(y) AS DOUBLE) AS syd,
            CAST(SUM(x * x) AS DOUBLE) AS sxxd,
            CAST(SUM(x * y) AS DOUBLE) AS sxyd
          FROM p GROUP BY event_type),
        c AS (
          SELECT event_type, n, nd, sxd, syd,
            (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope
          FROM m)
        SELECT event_type, n, slope,
          (syd - slope * sxd) / nd AS intercept
        FROM c ORDER BY event_type""")),

    // ── q80: funnel step latency — the time-to-convert distribution
    //    between consecutive funnel steps (q60's step timestamps →
    //    per-pair count/median/p90/max): the "WHERE do users stall"
    //    report q60's conversion counts can't answer ───────────────────
    Q("q80_funnel_latency",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val f = graft.ops.EventOps.funnelSteps(
          ev.withColumn("ts_us", Tables.tsMicros(ev)),
          "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase"))
        val d1 = f.where(col("click_ts").isNotNull)
          .select(lit("1_view_to_click").as("step_pair"),
            (col("click_ts") - col("view_ts")).as("latency_us"))
        val d2 = f.where(col("purchase_ts").isNotNull)
          .select(lit("2_click_to_purchase").as("step_pair"),
            (col("purchase_ts") - col("click_ts")).as("latency_us"))
        d1.union(d2).groupBy("step_pair")
          .agg(count(lit(1)).as("n"),
            expr("percentile(latency_us, 0.5)").as("p50_us"),
            expr("percentile(latency_us, 0.9)").as("p90_us"),
            max(col("latency_us")).as("max_us"))
          .orderBy("step_pair")
      },
      Some("""WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        t1 AS (SELECT user_id, MIN(ts_us) AS view_ts FROM e
               WHERE event_type = 'view' GROUP BY 1),
        t2 AS (SELECT e.user_id, MIN(e.ts_us) AS click_ts
               FROM e JOIN t1 ON t1.user_id = e.user_id
               WHERE e.event_type = 'click' AND e.ts_us > t1.view_ts
               GROUP BY 1),
        t3 AS (SELECT e.user_id, MIN(e.ts_us) AS purchase_ts
               FROM e JOIN t2 ON t2.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts_us > t2.click_ts
               GROUP BY 1),
        d AS (
          SELECT '1_view_to_click' AS step_pair,
            t2.click_ts - t1.view_ts AS latency_us
          FROM t2 JOIN t1 USING (user_id)
          UNION ALL
          SELECT '2_click_to_purchase',
            t3.purchase_ts - t2.click_ts
          FROM t3 JOIN t2 USING (user_id))
        SELECT step_pair, CAST(COUNT(*) AS BIGINT) AS n,
          quantile_cont(latency_us, 0.5) AS p50_us,
          quantile_cont(latency_us, 0.9) AS p90_us,
          MAX(latency_us) AS max_us
        FROM d GROUP BY step_pair ORDER BY step_pair""")),

    // ── q81: session stats — the engagement report over q62's
    //    sessionization: session count, bounce rate (single-event
    //    sessions), exact total duration, mean events/duration. One
    //    global scalar rollup over the (user, session) frame ───────────
    Q("q81_session_stats",
      (s, dir) => {
        val sess = graft.ops.EventOps.sessionize(
          Tables.events(s, dir).select(col("user_id"), col("event_id"),
            col("ts_sec")),
          "user_id", "ts_sec", "event_id", gapSeconds = 43200L)
        sess.agg(count(lit(1)).as("n_sessions"),
          count(when(col("n_events") === 1, 1)).as("n_bounces"),
          sum(col("session_end") - col("session_start"))
            .as("total_duration"),
          sum(col("n_events")).as("total_events"))
          .select(col("n_sessions"), col("n_bounces"),
            (col("n_bounces").cast("double") / col("n_sessions"))
              .as("bounce_rate"),
            col("total_duration").cast("long").as("total_duration"),
            (col("total_duration").cast("double") / col("n_sessions"))
              .as("mean_duration_sec"),
            (col("total_events").cast("double") / col("n_sessions"))
              .as("mean_events"))
      },
      Some(Tables.eventsCte + """,
        l AS (SELECT user_id, event_id, ts_sec,
                LAG(ts_sec) OVER (PARTITION BY user_id
                  ORDER BY ts_sec, event_id) AS prev_ts
              FROM e),
        m AS (SELECT user_id, ts_sec,
                SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 43200
                  THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
                    ORDER BY ts_sec, event_id
                    ROWS UNBOUNDED PRECEDING) AS session_id
              FROM l),
        sess AS (
          SELECT user_id, session_id,
            MIN(ts_sec) AS session_start, MAX(ts_sec) AS session_end,
            COUNT(*) AS n_events
          FROM m GROUP BY user_id, session_id)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
          CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT)
            AS n_bounces,
          CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
            / COUNT(*) AS bounce_rate,
          CAST(SUM(session_end - session_start) AS BIGINT)
            AS total_duration,
          CAST(SUM(session_end - session_start) AS DOUBLE) / COUNT(*)
            AS mean_duration_sec,
          CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mean_events
        FROM sess""")),

    // ── q82: funnel drop-off table — per-step user counts with
    //    step-over-step and vs-entry conversion rates (the report
    //    q60's timestamps and q80's latencies bracket). One global
    //    rollup over the per-user funnel frame ──────────────────────────
    Q("q82_funnel_dropoff",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val f = graft.ops.EventOps.funnelSteps(
          ev.withColumn("ts_us", Tables.tsMicros(ev)),
          "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase"))
        f.agg(count(col("view_ts")).as("n1"),
            count(col("click_ts")).as("n2"),
            count(col("purchase_ts")).as("n3"))
          .select(explode(array(
            struct(lit(1).as("step_idx"), lit("view").as("step"),
              col("n1").as("n_users"),
              lit(1.0).as("rate_vs_prev"), lit(1.0).as("rate_vs_entry")),
            struct(lit(2).as("step_idx"), lit("click").as("step"),
              col("n2").as("n_users"),
              (col("n2").cast("double") / col("n1")).as("rate_vs_prev"),
              (col("n2").cast("double") / col("n1")).as("rate_vs_entry")),
            struct(lit(3).as("step_idx"), lit("purchase").as("step"),
              col("n3").as("n_users"),
              (col("n3").cast("double") / col("n2")).as("rate_vs_prev"),
              (col("n3").cast("double") / col("n1")).as("rate_vs_entry"))))
            .as("r"))
          .select(col("r.step_idx"), col("r.step"), col("r.n_users"),
            col("r.rate_vs_prev"), col("r.rate_vs_entry"))
          .orderBy("step_idx")
      },
      Some("""WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        t1 AS (SELECT user_id, MIN(ts_us) AS view_ts FROM e
               WHERE event_type = 'view' GROUP BY 1),
        t2 AS (SELECT e.user_id, MIN(e.ts_us) AS click_ts
               FROM e JOIN t1 ON t1.user_id = e.user_id
               WHERE e.event_type = 'click' AND e.ts_us > t1.view_ts
               GROUP BY 1),
        t3 AS (SELECT e.user_id, MIN(e.ts_us) AS purchase_ts
               FROM e JOIN t2 ON t2.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts_us > t2.click_ts
               GROUP BY 1),
        c AS (SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n1,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n2,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n3)
        SELECT 1 AS step_idx, 'view' AS step, n1 AS n_users,
          1.0 AS rate_vs_prev, 1.0 AS rate_vs_entry FROM c
        UNION ALL
        SELECT 2, 'click', n2,
          CAST(n2 AS DOUBLE) / n1, CAST(n2 AS DOUBLE) / n1 FROM c
        UNION ALL
        SELECT 3, 'purchase', n3,
          CAST(n3 AS DOUBLE) / n2, CAST(n3 AS DOUBLE) / n1 FROM c
        ORDER BY step_idx""")),

    // ── q83: share-of-total — each nation's revenue share within its
    //    region (percent-of-total via a windowed sum over the grouped
    //    frame). Sums are exact DECIMAL(18,2) so the share division is
    //    a fixed-order IEEE op on identical inputs in both engines;
    //    dims broadcast, one shuffle on the group keys ──────────────────
    Q("q83_share_of_total",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val rev = Tables.orders(s, dir)
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
        val w = Window.partitionBy("r_name")
        rev.select(col("r_name"), col("n_name"),
            col("revenue").cast("double").as("revenue"),
            (col("revenue").cast("double")
              / sum(col("revenue")).over(w).cast("double")).as("share"),
            rank().over(w.orderBy(col("revenue").desc, col("n_name")))
              .as("rk"))
          .orderBy("r_name", "rk", "n_name")
      },
      Some("""WITH rev AS (
          SELECT r_name, n_name,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name)
        SELECT r_name, n_name, CAST(revenue AS DOUBLE) AS revenue,
          CAST(revenue AS DOUBLE)
            / CAST(SUM(revenue) OVER (PARTITION BY r_name) AS DOUBLE)
            AS share,
          RANK() OVER (PARTITION BY r_name
            ORDER BY revenue DESC, n_name) AS rk
        FROM rev ORDER BY r_name, rk, n_name""")),

    // ── q84: period-over-period growth — daily value totals with lag
    //    and relative growth. The unpartitioned lag window runs over
    //    the ~30-row daily rollup, never the raw events ─────────────────
    Q("q84_growth_daily",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, dir)
          .groupBy(date_trunc("DAY", timestamp_seconds(col("ts_sec")))
            .cast("date").cast("string").as("day"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("total"),
            count(lit(1)).as("n_events"))
        val w = Window.orderBy("day")
        val prev = lag(col("total"), 1).over(w)
        daily.select(col("day"),
            col("total").cast("double").as("total"), col("n_events"),
            prev.cast("double").as("prev_total"),
            ((col("total") - prev).cast("double") / prev.cast("double"))
              .as("growth"))
          // first day has no predecessor: drop it rather than emit a
          // NULL double (engines disagree on NULL-vs-NaN round-trips)
          .where(col("prev_total").isNotNull)
          .orderBy("day")
      },
      Some("""WITH m AS (
          SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
              AS day,
            SUM(CAST(value AS DECIMAL(18,2))) AS total,
            COUNT(*) AS n_events
          FROM events GROUP BY 1),
        g AS (
          SELECT day, CAST(total AS DOUBLE) AS total, n_events,
            CAST(LAG(total) OVER (ORDER BY day) AS DOUBLE) AS prev_total,
            CAST(total - LAG(total) OVER (ORDER BY day) AS DOUBLE)
              / CAST(LAG(total) OVER (ORDER BY day) AS DOUBLE)
              AS growth
          FROM m)
        SELECT * FROM g WHERE prev_total IS NOT NULL ORDER BY day""")),

    // ── q85: equi-width histogram — 20 buckets over l_extendedprice.
    //    Global min/max is a 1-row scalar broadcast; the bucket math is
    //    identical double arithmetic in both engines, so floor() lands
    //    every row in the same bucket bit-for-bit ───────────────────────
    Q("q85_histogram",
      (s, dir) => {
        val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
        val mm = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        // degenerate all-equal column: width 0 would make floor(0/0)=NaN
        // and drop every row into a null bucket; width 1 puts them all
        // in bucket 0 instead (same CASE guard in the oracle)
        val width = when(col("hi") === col("lo"), lit(1.0))
          .otherwise((col("hi") - col("lo")) / lit(20.0))
        val bucket =
          least(floor((col("x") - col("lo")) / width), lit(19.0)).cast("int")
        val counts = li.crossJoin(broadcast(mm))
          .select(bucket.as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
        counts.crossJoin(broadcast(mm))
          .select(col("bucket"),
            (col("lo") + col("bucket") * width).as("bucket_lo"),
            (col("lo") + (col("bucket") + 1) * width).as("bucket_hi"),
            col("n"))
          .orderBy("bucket")
      },
      Some("""WITH mm AS (
          SELECT lo, hi,
            CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 20.0 END AS width
          FROM (SELECT MIN(l_extendedprice) AS lo,
                       MAX(l_extendedprice) AS hi
                FROM lineitem)),
        b AS (
          SELECT CAST(LEAST(FLOOR((l_extendedprice - lo)
              / width), 19.0) AS INT) AS bucket
          FROM lineitem CROSS JOIN mm),
        c AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket)
        SELECT bucket,
          lo + bucket * width AS bucket_lo,
          lo + (bucket + 1) * width AS bucket_hi,
          n
        FROM c CROSS JOIN mm ORDER BY bucket""")),

    // ── q86: top-k with ties — dense_rank ≤ 3 parts per brand by
    //    revenue. Revenue is an exact decimal product-sum so tie groups
    //    are identical across engines; part broadcasts ──────────────────
    Q("q86_topk_ties",
      (s, dir) => {
        import graft.ops.PrefixSum
        // rollup pinned (lazy): referenced by the distinct-grain
        // kernel ~4x AND the final join-back — see q96's comment on
        // the recompute compounding
        val rev = Pin(Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_name"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1.0).cast("decimal(18,2)")
              - col("l_discount").cast("decimal(18,2)"))).as("revenue")),
          eager = false)
        // dense_rank per brand ≡ row_number over the brand's DISTINCT
        // revenues, joined back on (brand, revenue) — and that rank
        // runs through the PrefixSum kernel (round 18): the rollup is
        // brand×part ENTITY grain, so the old per-brand window sorted
        // ~parts/25 rows through one task at 100 TB. Revenues are
        // exact decimals, so the join-back is an exact equi-join.
        // dist pinned too: the kernel + bucket stats reference IT ~4x,
        // and each reference would re-run the distinct shuffle
        val dist = Pin(rev.select(col("p_brand"), col("revenue")).distinct(),
          eager = false)
        val ranked = PrefixSum.groupedRowNumber(
          PrefixSum.uniformBucket(dist, col("revenue"), 4096, "__b86",
            descending = true),
          group = Seq("p_brand"),
          order = Seq(col("revenue").desc),
          bucket = col("__b86"), out = "rk")
          .where(col("rk") <= 3)
          .select(col("p_brand").as("__rb"), col("revenue").as("__rr"),
            col("rk").cast("int").as("rk"))
        rev.join(broadcast(ranked),
            col("p_brand") === col("__rb") && col("revenue") === col("__rr"))
          .select(col("p_brand"), col("p_name"),
            col("revenue").cast("double").as("revenue"), col("rk"))
          .orderBy("p_brand", "rk", "p_name")
      },
      Some("""WITH rev AS (
          SELECT p_brand, p_name,
            SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (CAST(1.0 AS DECIMAL(18,2))
                - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand, p_name),
        r AS (
          SELECT p_brand, p_name, revenue,
            DENSE_RANK() OVER (PARTITION BY p_brand
              ORDER BY revenue DESC) AS rk
          FROM rev)
        SELECT p_brand, p_name, CAST(revenue AS DOUBLE) AS revenue, rk
        FROM r WHERE rk <= 3 ORDER BY p_brand, rk, p_name""")),

    // ── q87: weighted quantiles — quantity-weighted p25/median/p75 of
    //    l_extendedprice per return flag. RANGE cumulative frames make
    //    the tie-run totals order-independent; weights are exact
    //    decimals so the threshold compare is deterministic ─────────────
    Q("q87_weighted_median",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables.lineitem(s, dir).select(
          col("l_returnflag").as("g"), col("l_extendedprice").as("x"),
          col("l_quantity").cast("decimal(18,2)").as("wt"))
        val wspec = Window.partitionBy("g").orderBy("x")
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = li.withColumn("cw", sum(col("wt")).over(wspec))
        val tot = li.groupBy("g").agg(sum(col("wt")).as("tw"))
        cum.join(broadcast(tot), "g")
          .select(col("g"), col("x"), col("cw").cast("double").as("cwd"),
            col("tw").cast("double").as("twd"))
          .groupBy(col("g"), col("twd"))
          .agg(
            min(when(col("cwd") >= col("twd") * 0.25, col("x"))).as("w_p25"),
            min(when(col("cwd") >= col("twd") * 0.5, col("x"))).as("w_median"),
            min(when(col("cwd") >= col("twd") * 0.75, col("x"))).as("w_p75"))
          .select(col("g"), col("twd").as("total_weight"),
            col("w_p25"), col("w_median"), col("w_p75"))
          .orderBy("g")
      },
      Some("""WITH li AS (
          SELECT l_returnflag AS g, l_extendedprice AS x,
            CAST(l_quantity AS DECIMAL(18,2)) AS wt
          FROM lineitem),
        cum AS (
          SELECT g, x,
            SUM(wt) OVER (PARTITION BY g ORDER BY x
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
          FROM li),
        tot AS (SELECT g, SUM(wt) AS tw FROM li GROUP BY g)
        SELECT cum.g, CAST(tw AS DOUBLE) AS total_weight,
          MIN(CASE WHEN CAST(cw AS DOUBLE) >= CAST(tw AS DOUBLE) * 0.25
            THEN x END) AS w_p25,
          MIN(CASE WHEN CAST(cw AS DOUBLE) >= CAST(tw AS DOUBLE) * 0.5
            THEN x END) AS w_median,
          MIN(CASE WHEN CAST(cw AS DOUBLE) >= CAST(tw AS DOUBLE) * 0.75
            THEN x END) AS w_p75
        FROM cum JOIN tot ON cum.g = tot.g
        GROUP BY cum.g, tw ORDER BY cum.g""")),

    // ── q88: value-concentration report — how many users cover
    //    50/80/90% of total value, and the share held by the top 10%
    //    (the Pareto/whale curve of product analytics). The rank and
    //    cumulative value run through the PrefixSum kernel under a
    //    data-adaptive 4096-way value cut (round 18): the per-user
    //    rollup is ENTITY grain — 10⁸–10⁹ rows at 100 TB — so the old
    //    unpartitioned window's one-task sort was the last scale
    //    cliff in this query's plan ──────────────────────────────────────
    Q("q88_value_concentration",
      (s, dir) => {
        import graft.ops.PrefixSum
        // pin the entity rollup (lazy): the kernel references its input
        // ~4x (bucket stats, subtotals, probe, census) — unpinned, each
        // reference recomputes the events rollup
        val per = Pin(Tables.events(s, dir).groupBy("user_id")
          .agg(sum(col("value").cast("decimal(18,2)")).as("v")), eager = false)
        val ranked = PrefixSum.groupedRunningSums(
          PrefixSum.uniformBucket(per, col("v"), 4096, "__b88",
            descending = true),
          group = Seq.empty,
          order = Seq(col("v").desc, col("user_id")),
          bucket = col("__b88"),
          values = Seq(lit(1L) -> "rk", col("v") -> "cum"))
          .select(col("user_id"), col("v"), col("rk"), col("cum"))
        val tot = per.agg(sum(col("v")).as("tv"), count(lit(1)).as("nu"))
        val cumD = col("cum").cast("double")
        val tvD = col("tv").cast("double")
        ranked.crossJoin(broadcast(tot))
          .agg(max(col("nu")).as("n_users"),
            round(max(tvD), 6).as("total_value"),
            min(when(cumD >= tvD * 0.5, col("rk"))).as("users_for_50pct"),
            min(when(cumD >= tvD * 0.8, col("rk"))).as("users_for_80pct"),
            min(when(cumD >= tvD * 0.9, col("rk"))).as("users_for_90pct"),
            round(max(when(col("rk") === greatest(lit(1L),
              floor(col("nu") * 0.1).cast("long")), cumD / tvD)), 6)
              .as("share_top_10pct"))
      },
      Some("""WITH per AS (
          SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS v
          FROM events GROUP BY user_id),
        r AS (
          SELECT user_id, v,
            ROW_NUMBER() OVER (ORDER BY v DESC, user_id) AS rk,
            SUM(v) OVER (ORDER BY v DESC, user_id
              ROWS UNBOUNDED PRECEDING) AS cum
          FROM per),
        t AS (SELECT SUM(v) AS tv, COUNT(*) AS nu FROM per)
        SELECT MAX(nu) AS n_users,
          ROUND(MAX(CAST(tv AS DOUBLE)), 6) AS total_value,
          MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(tv AS DOUBLE) * 0.5
            THEN rk END) AS users_for_50pct,
          MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(tv AS DOUBLE) * 0.8
            THEN rk END) AS users_for_80pct,
          MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(tv AS DOUBLE) * 0.9
            THEN rk END) AS users_for_90pct,
          ROUND(MAX(CASE WHEN rk = GREATEST(1,
              CAST(FLOOR(nu * 0.1) AS BIGINT))
            THEN CAST(cum AS DOUBLE) / CAST(tv AS DOUBLE) END), 6)
            AS share_top_10pct
        FROM r CROSS JOIN t""")),

    // ── q89: new-vs-returning daily actives — each day's users split
    //    by whether it is their first-seen day. first_day comes from a
    //    user-partitioned MIN window over the (user, day) distinct (no
    //    self-join); the day rollup is time-range-bounded ───────────────
    Q("q89_new_vs_returning",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val days = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_sec div 86400").as("day"))
          .distinct()
        days
          .withColumn("first_day",
            min(col("day")).over(Window.partitionBy("user_id")))
          .groupBy("day")
          .agg(count(lit(1)).as("active_users"),
            count(when(col("day") === col("first_day"), 1)).as("new_users"))
          .select(col("day"), col("active_users"), col("new_users"),
            (col("active_users") - col("new_users")).as("returning_users"))
          .orderBy("day")
      },
      Some(Tables.eventsCte + """,
        d AS (SELECT DISTINCT user_id, ts_sec // 86400 AS day FROM e),
        f AS (SELECT user_id, MIN(day) AS first_day FROM d GROUP BY user_id)
        SELECT day, CAST(COUNT(*) AS BIGINT) AS active_users,
          CAST(COUNT(CASE WHEN day = first_day THEN 1 END) AS BIGINT)
            AS new_users,
          CAST(COUNT(*) - COUNT(CASE WHEN day = first_day THEN 1 END)
            AS BIGINT) AS returning_users
        FROM d JOIN f USING (user_id) GROUP BY day ORDER BY day""")),

    // ── q90: cohort LTV matrix — cumulative value per user by signup
    //    cohort and age (the revenue companion of q68's retention
    //    counts). One user-key window for first_day; the cumulative
    //    runs on the periods²-bounded (cohort, age) rollup ──────────────
    Q("q90_cohort_ltv",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_sec div 86400").as("day"),
            col("value"))
          .withColumn("first_day",
            min(col("day")).over(Window.partitionBy("user_id")))
        val cohSize = ev.select("user_id", "first_day").distinct()
          .groupBy(col("first_day").as("cohort_day"))
          .agg(count(lit(1)).as("cohort_users"))
        val cell = ev.groupBy(col("first_day").as("cohort_day"),
            (col("day") - col("first_day")).as("age"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
        val wc = Window.partitionBy("cohort_day").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cell.withColumn("cum_rev", sum(col("rev")).over(wc))
          .join(broadcast(cohSize), Seq("cohort_day"))
          .select(col("cohort_day"), col("age"),
            col("rev").cast("double").as("rev"),
            col("cum_rev").cast("double").as("cum_rev"),
            col("cohort_users"),
            round(col("cum_rev").cast("double") / col("cohort_users"), 6)
              .as("ltv_per_user"))
          .orderBy("cohort_day", "age")
      },
      Some(Tables.eventsCte + """,
        b AS (
          SELECT user_id, ts_sec // 86400 AS day, value,
            MIN(ts_sec // 86400) OVER (PARTITION BY user_id) AS first_day
          FROM e),
        cs AS (
          SELECT first_day AS cohort_day,
            CAST(COUNT(*) AS BIGINT) AS cohort_users
          FROM (SELECT DISTINCT user_id, first_day FROM b)
          GROUP BY first_day),
        cell AS (
          SELECT first_day AS cohort_day, day - first_day AS age,
            SUM(CAST(value AS DECIMAL(18,2))) AS rev
          FROM b GROUP BY 1, 2),
        cum AS (
          SELECT cohort_day, age, rev,
            SUM(rev) OVER (PARTITION BY cohort_day ORDER BY age
              ROWS UNBOUNDED PRECEDING) AS cum_rev
          FROM cell)
        SELECT c.cohort_day, c.age,
          CAST(rev AS DOUBLE) AS rev,
          CAST(cum_rev AS DOUBLE) AS cum_rev,
          cohort_users,
          ROUND(CAST(cum_rev AS DOUBLE) / cohort_users, 6) AS ltv_per_user
        FROM cum c JOIN cs ON cs.cohort_day = c.cohort_day
        ORDER BY c.cohort_day, c.age""")),

    // ── q91: top session entry paths — the first 3 event types of
    //    every session, counted and top-k cut (journey openings; q75
    //    counts all pairwise steps). One user-key window shuffle;
    //    TakeOrderedAndProject top-k over the |types|³ path census ──────
    Q("q91_top_paths",
      (s, dir) => graft.ops.EventOps.sessionEntryPaths(
        Tables.events(s, dir), "user_id", "event_type", "ts_sec",
        "event_id", gapSeconds = 43200L, topK = 10)
        .orderBy(col("n_sessions").desc, col("path")),
      Some(Tables.eventsCte + """,
        l AS (
          SELECT user_id, event_type, ts_sec, event_id,
            LAG(ts_sec) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) AS prev_ts
          FROM e),
        m AS (
          SELECT user_id, event_type, ts_sec, event_id,
            CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 43200
              THEN 1 ELSE 0 END AS brk,
            SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 43200
              THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
                ORDER BY ts_sec, event_id ROWS UNBOUNDED PRECEDING) AS sess
          FROM l),
        g AS (
          SELECT user_id, event_type, brk, sess,
            CASE WHEN LEAD(sess, 1) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) = sess
              THEN LEAD(event_type, 1) OVER (PARTITION BY user_id
                ORDER BY ts_sec, event_id) END AS t2,
            CASE WHEN LEAD(sess, 2) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) = sess
              THEN LEAD(event_type, 2) OVER (PARTITION BY user_id
                ORDER BY ts_sec, event_id) END AS t3
          FROM m),
        p AS (
          SELECT concat_ws('>', event_type, t2, t3) AS path
          FROM g WHERE brk = 1),
        c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
              FROM p GROUP BY path)
        SELECT path, n_sessions FROM c
        ORDER BY n_sessions DESC, path LIMIT 10""")),

    // ── q92: SCD-2 dimension build — compress each user's event-type
    //    changelog into validity intervals (effective_from/to, current
    //    flag): the "changelog → slowly-changing dimension" warehouse
    //    primitive that q77's as-of reads consume. Change rows keep
    //    only transitions (type ≠ previous); both windows and the
    //    filter ride ONE user-key shuffle ───────────────────────────────
    Q("q92_scd2_build",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts_sec"),
            col("event_id"))
        graft.ops.EventOps.scd2Intervals(ev, "user_id", "event_type",
            "ts_sec", "event_id")
          .select(col("user_id"), col("state"), col("effective_from"),
            coalesce(col("effective_to"), lit(Long.MaxValue))
              .as("effective_to"),
            col("effective_to").isNull.cast("int").as("is_current"))
          .orderBy("user_id", "effective_from")
      },
      Some(Tables.eventsCte + """,
        l AS (
          SELECT user_id, event_type, ts_sec, event_id,
            LAG(event_type) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) AS prev_type
          FROM e),
        ch AS (
          SELECT user_id, event_type, ts_sec, event_id FROM l
          WHERE prev_type IS NULL OR prev_type <> event_type),
        iv AS (
          SELECT user_id, event_type AS state, ts_sec AS effective_from,
            LEAD(ts_sec) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) - 1 AS eff_to
          FROM ch)
        SELECT user_id, state, effective_from,
          COALESCE(eff_to, 9223372036854775807) AS effective_to,
          CAST(eff_to IS NULL AS INT) AS is_current
        FROM iv ORDER BY user_id, effective_from""")),

    // ── q93: data-quality gate — dbt-style declarative checks as ONE
    //    report: FK orphans (anti joins), key uniqueness, domain
    //    rules. Each check is a partial-agg count; the union is
    //    checks-many rows ────────────────────────────────────────────────
    Q("q93_dq_checks",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        def check(name: String, violations: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          violations.agg(count(lit(1)).as("n_violations"))
            .select(lit(name).as("check_name"), col("n_violations"),
              (col("n_violations") === 0).as("pass"))
        val orphanLi = li.join(o, col("l_orderkey") === col("o_orderkey"),
          "left_anti")
        val orphanOrders = o.join(c, col("o_custkey") === col("c_custkey"),
          "left_anti")
        val dupCust = c.groupBy("c_custkey").agg(count(lit(1)).as("n"))
          .where(col("n") > 1)
        val badQty = li.where(col("l_quantity").isNull
          || col("l_quantity") <= 0)
        val badDisc = li.where(col("l_discount") < 0 || col("l_discount") > 1)
        check("lineitem_orderkey_fk", orphanLi)
          .unionByName(check("orders_custkey_fk", orphanOrders))
          .unionByName(check("customer_custkey_unique", dupCust))
          .unionByName(check("lineitem_quantity_positive", badQty))
          .unionByName(check("lineitem_discount_domain", badDisc))
          .orderBy("check_name")
      },
      Some("""WITH checks AS (
          SELECT 'lineitem_orderkey_fk' AS check_name,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
              AS n_violations
          UNION ALL
          SELECT 'orders_custkey_fk',
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
          UNION ALL
          SELECT 'customer_custkey_unique',
            (SELECT CAST(COUNT(*) AS BIGINT) FROM (
              SELECT c_custkey FROM customer
              GROUP BY c_custkey HAVING COUNT(*) > 1))
          UNION ALL
          SELECT 'lineitem_quantity_positive',
            (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             WHERE l_quantity IS NULL OR l_quantity <= 0)
          UNION ALL
          SELECT 'lineitem_discount_domain',
            (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             WHERE l_discount < 0 OR l_discount > 1))
        SELECT check_name, n_violations, n_violations = 0 AS pass
        FROM checks ORDER BY check_name""")),

    // ── q94: point-in-time feature join — purchases pick up the
    //    engagement tier (an SCD-2 dimension built from click-value
    //    transitions) valid AT purchase time: the leak-free feature-
    //    store join (a probe can never see a later state). One
    //    equi-key shuffle join + residual range predicate ───────────────
    Q("q94_pit_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val tier = when(col("value") >= 300, lit("high"))
          .when(col("value") >= 100, lit("mid")).otherwise(lit("low"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), tier.as("tier"), col("ts_sec"),
            col("event_id"))
        val dim = graft.ops.EventOps.scd2Intervals(clicks, "user_id",
          "tier", "ts_sec", "event_id")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_sec"),
            col("value"))
        graft.ops.EventOps.pointInTimeJoin(purchases, dim,
            "user_id", "ts_sec")
          .select(col("event_id"), col("user_id"), col("ts_sec"),
            col("value"),
            coalesce(col("state"), lit("unknown")).as("tier_at_purchase"))
          .orderBy("event_id")
      },
      Some(Tables.eventsCte + """,
        cl AS (
          SELECT user_id,
            CASE WHEN value >= 300 THEN 'high'
                 WHEN value >= 100 THEN 'mid' ELSE 'low' END AS tier,
            ts_sec, event_id
          FROM e WHERE event_type = 'click'),
        l AS (
          SELECT user_id, tier, ts_sec, event_id,
            LAG(tier) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) AS prev_tier
          FROM cl),
        ch AS (
          SELECT user_id, tier, ts_sec, event_id FROM l
          WHERE prev_tier IS NULL OR prev_tier <> tier),
        iv AS (
          SELECT user_id, tier AS state, ts_sec AS effective_from,
            LEAD(ts_sec) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) - 1 AS effective_to
          FROM ch),
        pur AS (
          SELECT user_id, event_id, ts_sec, value FROM e
          WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, p.ts_sec, p.value,
          COALESCE(iv.state, 'unknown') AS tier_at_purchase
        FROM pur p LEFT JOIN iv
          ON iv.user_id = p.user_id
          AND p.ts_sec >= iv.effective_from
          AND (iv.effective_to IS NULL OR p.ts_sec <= iv.effective_to)
        ORDER BY p.event_id""")),

    // ── q95: seasonal decomposition — hourly volume split into trend
    //    (±12h centered moving average over the GAP-FILLED grid),
    //    hour-of-day seasonal means, and remainder (the classical
    //    additive decompose; q74's anomaly flags read the remainder).
    //    All windows run on the hours-range-bounded rollup ──────────────
    Q("q95_seasonal_decompose",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, dir)
          .groupBy(expr("ts_sec div 3600").as("hb"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("total"))
        val mm = hourly.agg(min(col("hb")).as("lo"), max(col("hb")).as("hi"))
        val grid = mm.select(explode(sequence(col("lo"), col("hi"))).as("hb"))
        val filled = grid.join(hourly, Seq("hb"), "left")
          .select(col("hb"),
            coalesce(col("total"), lit(0).cast("decimal(18,2)")).as("total"))
        val w = Window.orderBy("hb").rowsBetween(-12, 12)
        val trend = sum(col("total")).over(w).cast("double")
          .divide(count(lit(1)).over(w))
        val detr = filled
          .withColumn("trend", trend)
          .withColumn("detr", col("total").cast("double") - col("trend"))
        // hb-ordered sequential fold, NOT avg(): a plain double avg
        // sums in partition order and can flip the 6-dp snap between
        // runs (observed once at the …375 boundary) — the sorted fold
        // is bit-stable and the oracle replays the same order
        val seasonal = detr.groupBy((col("hb") % 24).as("hod"))
          .agg(round(
            aggregate(transform(
              sort_array(collect_list(struct(col("hb"), col("detr")))),
              s => s.getField("detr")), lit(0.0), (a, x) => a + x)
              / count(lit(1)), 6).as("seasonal"))
        detr.withColumn("hod", col("hb") % 24)
          .join(broadcast(seasonal), Seq("hod"))
          .select(col("hb"), col("hod"),
            col("total").cast("double").as("total"),
            round(col("trend"), 6).as("trend"),
            col("seasonal"),
            round(col("detr") - col("seasonal"), 6).as("remainder"))
          .orderBy("hb")
      },
      Some(Tables.eventsCte + """,
        hourly AS (
          SELECT ts_sec // 3600 AS hb,
            SUM(CAST(value AS DECIMAL(18,2))) AS total
          FROM e GROUP BY 1),
        mm AS (SELECT MIN(hb) AS lo, MAX(hb) AS hi FROM hourly),
        grid AS (
          SELECT UNNEST(range(lo, hi + 1)) AS hb FROM mm),
        filled AS (
          SELECT g.hb,
            COALESCE(h.total, CAST(0 AS DECIMAL(18,2))) AS total
          FROM grid g LEFT JOIN hourly h ON h.hb = g.hb),
        tr AS (
          SELECT hb, total,
            CAST(SUM(total) OVER (ORDER BY hb
              ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS DOUBLE)
              / COUNT(*) OVER (ORDER BY hb
                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend
          FROM filled),
        dt AS (
          SELECT hb, total, trend,
            CAST(total AS DOUBLE) - trend AS detr
          FROM tr),
        se AS (
          SELECT hb % 24 AS hod,
            ROUND(list_sum(list(detr ORDER BY hb)) / COUNT(*), 6)
              AS seasonal
          FROM dt GROUP BY 1)
        SELECT dt.hb, dt.hb % 24 AS hod,
          CAST(dt.total AS DOUBLE) AS total,
          ROUND(dt.trend, 6) AS trend,
          se.seasonal,
          ROUND(dt.detr - se.seasonal, 6) AS remainder
        FROM dt JOIN se ON se.hod = dt.hb % 24
        ORDER BY dt.hb""")),

    // ── q96: RFM segmentation — recency/frequency/monetary quintile
    //    scores + rule-based segment labels (the classic CRM cut).
    //    All three NTILEs run through PrefixSum.globalNtile
    //    (round 18): the rollup is per-USER — entity grain, so the
    //    old unpartitioned quintile windows each one-task-sorted
    //    10⁸⁺ rows at 100 TB; unique order keys make every tile
    //    stable, and the tile formula matches NTILE bit-for-bit ────────
    Q("q96_rfm_segments",
      (s, dir) => {
        import graft.ops.PrefixSum
        val ev = Tables.events(s, dir)
        val anchor = ev.agg(max(col("ts_sec")).as("now"))
        // each pass pinned (lazy): a globalNtile references its input
        // ~4x (bucket stats, subtotals, probe, census), so three
        // CHAINED passes compound ~4^3 input recomputations unpinned
        val rfm = Pin(ev.where(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(max(col("ts_sec")).as("last_ts"),
            count(lit(1)).as("frequency"),
            sum(col("value").cast("decimal(18,2)")).as("monetary"))
          .crossJoin(broadcast(anchor))
          .select(col("user_id"),
            expr("(now - last_ts) div 86400").as("recency_days"),
            col("frequency"), col("monetary")), eager = false)
        val tiled = PrefixSum.globalNtile(
          Pin(PrefixSum.globalNtile(
            Pin(PrefixSum.globalNtile(rfm,
              col("recency_days"), descending = true,
              tiebreak = col("user_id"), k = 5, out = "r_score"), eager = false),
            col("frequency"), descending = false,
            tiebreak = col("user_id"), k = 5, out = "f_score"), eager = false),
          col("monetary"), descending = false,
          tiebreak = col("user_id"), k = 5, out = "m_score")
        val scored = tiled.select(col("user_id"), col("recency_days"),
          col("frequency"), col("monetary").cast("double").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"))
        scored.withColumn("segment",
            when(col("r_score") >= 4 && col("f_score") >= 4
              && col("m_score") >= 4, "champion")
              .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
              .when(col("r_score") <= 2, "hibernating")
              .when(col("f_score") >= 4, "loyal")
              .when(col("m_score") >= 4, "big_spender")
              .otherwise("casual"))
          .orderBy("user_id")
      },
      Some("""WITH per AS (
          SELECT user_id,
            MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_ts,
            CAST(COUNT(*) AS BIGINT) AS frequency,
            SUM(CAST(value AS DECIMAL(18,2))) AS monetary
          FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        a AS (SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS now
              FROM events),
        rfm AS (
          SELECT user_id, (now - last_ts) // 86400 AS recency_days,
            frequency, monetary
          FROM per CROSS JOIN a),
        sc AS (
          SELECT user_id, recency_days, frequency,
            CAST(monetary AS DOUBLE) AS monetary,
            NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
            NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
            NTILE(5) OVER (ORDER BY monetary ASC, user_id) AS m_score
          FROM rfm)
        SELECT user_id, recency_days, frequency, monetary,
          r_score, f_score, m_score,
          CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                 THEN 'champion'
               WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
               WHEN r_score <= 2 THEN 'hibernating'
               WHEN f_score >= 4 THEN 'loyal'
               WHEN m_score >= 4 THEN 'big_spender'
               ELSE 'casual' END AS segment
        FROM sc ORDER BY user_id""")),

    // ── q97: late-shipment share per order priority — the TPC-H Q4
    //    shape: orders with at least one lineitem shipped > 30 days
    //    after the order date (EXISTS semi join on the fact pair),
    //    rolled to priorities-many rows ─────────────────────────────────
    Q("q97_late_shipment",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val li = Tables.lineitem(s, dir)
        val late = o.join(li,
          col("o_orderkey") === col("l_orderkey")
            && col("l_shipdate") > col("o_orderdate")
              + expr("INTERVAL 30 DAYS"),
          "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("late_orders"))
        val tot = o.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
        tot.join(late, Seq("o_orderpriority"), "left")
          .select(col("o_orderpriority"), col("n_orders"),
            coalesce(col("late_orders"), lit(0L)).as("late_orders"),
            round(coalesce(col("late_orders"), lit(0L)).cast("double")
              / col("n_orders"), 6).as("late_share"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH late AS (
          SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS late_orders
          FROM orders o
          WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
          GROUP BY o_orderpriority),
        tot AS (
          SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY o_orderpriority)
        SELECT t.o_orderpriority, n_orders,
          COALESCE(late_orders, 0) AS late_orders,
          ROUND(CAST(COALESCE(late_orders, 0) AS DOUBLE) / n_orders, 6)
            AS late_share
        FROM tot t LEFT JOIN late l
          ON l.o_orderpriority = t.o_orderpriority
        ORDER BY t.o_orderpriority""")),

    // ── q98: weekday×hour activity heatmap — the "when are users
    //    active" profile: counts + share of total per (dow, hod) cell.
    //    Day-of-week is pure epoch arithmetic ((days+3) % 7, 0=Monday)
    //    on BOTH engines — immune to their differing dayofweek
    //    conventions (the q40 lesson). 168-cell rollup + one scalar ─────
    Q("q98_weekday_profile",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val cells = ev.groupBy(
            expr("((ts_sec div 86400) + 3) % 7").as("dow"),
            expr("(ts_sec div 3600) % 24").as("hod"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).as("total_value"))
        val tot = cells.agg(sum(col("n_events")).as("n_total"))
        cells.crossJoin(broadcast(tot))
          .select(col("dow"), col("hod"), col("n_events"),
            col("total_value").cast("double").as("total_value"),
            round(col("n_events").cast("double") / col("n_total"), 6)
              .as("share"))
          .orderBy("dow", "hod")
      },
      Some(Tables.eventsCte + """,
        cells AS (
          SELECT ((ts_sec // 86400) + 3) % 7 AS dow,
            (ts_sec // 3600) % 24 AS hod,
            CAST(COUNT(*) AS BIGINT) AS n_events,
            SUM(CAST(value AS DECIMAL(18,2))) AS total_value
          FROM e GROUP BY 1, 2),
        t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n_total FROM cells)
        SELECT dow, hod, n_events,
          CAST(total_value AS DOUBLE) AS total_value,
          ROUND(CAST(n_events AS DOUBLE) / n_total, 6) AS share
        FROM cells CROSS JOIN t ORDER BY dow, hod""")),

    // ── q99: sliding-window distinct — "distinct users in the
    //    trailing 24 h, hourly" from MERGED HLL registers (register
    //    max = set union): registers build once per hour, the window
    //    fan touches calendar-bounded sketch rows only; the exact
    //    COUNT DISTINCT leg rides along as the error report and drops
    //    at 100 TB ──────────────────────────────────────────────────────
    Q("q99_sliding_distinct",
      (s, dir) => graft.ops.SketchOps.hllSlidingDistinct(
        Tables.events(s, dir)
          .withColumn("hour_bucket", expr("ts_sec div 3600")),
        "hour_bucket", "user_id", windowSize = 24, p = 8)
        .withColumnRenamed("bucket", "hour_bucket")
        .orderBy("hour_bucket"),
      Some(XxHashSql.hllSlidingWindowOracle("events",
        "(CAST(floor(epoch(ts)) AS BIGINT) // 3600)", "user_id",
        windowSize = 24, p = 8)
        .replace("AS bucket", "AS hour_bucket")
        .replace("ORDER BY bucket", "ORDER BY hour_bucket"))),

    // ── q101: attribution model comparison — the same conversions
    //    credited first-touch vs last-touch, side by side per channel
    //    (the report that shows how model choice moves budget; q70 is
    //    the last-touch half). Channel-bounded full outer join of the
    //    two rollups ────────────────────────────────────────────────────
    Q("q101_attribution_compare",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val last = graft.ops.EventOps.attributedRevenue(ev, "user_id",
          "event_type", "ts_sec", "event_id", "value", "purchase",
          Seq("click", "view"), 86400L)
          .select(col("channel"),
            col("n_conversions").as("last_n"),
            col("attributed_revenue").as("last_revenue"))
        val first = graft.ops.EventOps.firstTouchAttributedRevenue(ev,
          "user_id", "event_type", "ts_sec", "event_id", "value",
          "purchase", Seq("click", "view"), 86400L)
          .select(col("channel"),
            col("n_conversions").as("first_n"),
            col("attributed_revenue").as("first_revenue"))
        last.join(first, Seq("channel"), "full_outer")
          .select(col("channel"),
            coalesce(col("last_n"), lit(0L)).as("last_n"),
            coalesce(col("last_revenue"), lit(0.0)).as("last_revenue"),
            coalesce(col("first_n"), lit(0L)).as("first_n"),
            coalesce(col("first_revenue"), lit(0.0)).as("first_revenue"))
          .orderBy("channel")
      },
      Some(Tables.eventsCte + """,
        tch AS (
          SELECT user_id, ts_sec, event_id, event_type FROM e
          WHERE event_type IN ('click', 'view')),
        cnv AS (
          SELECT user_id, ts_sec AS cts, event_id AS cid,
            CAST(value AS DECIMAL(18,2)) AS v
          FROM e WHERE event_type = 'purchase'),
        lastj AS (
          SELECT c.cid, c.v, t.event_type, t.ts_sec, t.event_id,
            ROW_NUMBER() OVER (PARTITION BY c.cid
              ORDER BY t.ts_sec DESC, t.event_id DESC) AS rk
          FROM cnv c LEFT JOIN tch t
            ON t.user_id = c.user_id AND t.ts_sec <= c.cts
            AND t.ts_sec >= c.cts - 86400),
        lastc AS (
          SELECT COALESCE(event_type, '(none)') AS channel,
            CAST(COUNT(*) AS BIGINT) AS last_n,
            CAST(SUM(v) AS DOUBLE) AS last_revenue
          FROM lastj WHERE rk = 1 GROUP BY 1),
        firstj AS (
          SELECT c.cid, c.v, t.event_type, t.ts_sec, t.event_id,
            ROW_NUMBER() OVER (PARTITION BY c.cid
              ORDER BY t.ts_sec ASC, t.event_id ASC) AS rk
          FROM cnv c LEFT JOIN tch t
            ON t.user_id = c.user_id AND t.ts_sec <= c.cts
            AND t.ts_sec >= c.cts - 86400),
        firstc AS (
          SELECT COALESCE(event_type, '(none)') AS channel,
            CAST(COUNT(*) AS BIGINT) AS first_n,
            CAST(SUM(v) AS DOUBLE) AS first_revenue
          FROM firstj WHERE rk = 1 GROUP BY 1)
        SELECT COALESCE(l.channel, f.channel) AS channel,
          COALESCE(last_n, 0) AS last_n,
          COALESCE(last_revenue, 0.0) AS last_revenue,
          COALESCE(first_n, 0) AS first_n,
          COALESCE(first_revenue, 0.0) AS first_revenue
        FROM lastc l FULL OUTER JOIN firstc f ON f.channel = l.channel
        ORDER BY channel""")),

    // ── q102: order-to-ship latency — p50/p90 shipping delay days per
    //    priority over the fact pair (q80's latency lens on the
    //    warehouse tables). Priorities-many rollup ──────────────────────
    Q("q102_ship_latency",
      (s, dir) => Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          (unix_micros(col("l_shipdate").cast("timestamp"))
            - unix_micros(col("o_orderdate").cast("timestamp")))
            .divide(86400000000.0).as("lat_days"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lineitems"),
          round(expr("percentile(lat_days, 0.5)"), 6).as("p50_days"),
          round(expr("percentile(lat_days, 0.9)"), 6).as("p90_days"),
          round(max(col("lat_days")), 6).as("max_days"))
        .orderBy("o_orderpriority"),
      Some("""WITH j AS (
          SELECT o_orderpriority,
            (epoch_us(l_shipdate) - epoch_us(o_orderdate))
              / 86400000000.0 AS lat_days
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
        SELECT o_orderpriority,
          CAST(COUNT(*) AS BIGINT) AS n_lineitems,
          ROUND(quantile_cont(lat_days, 0.5), 6) AS p50_days,
          ROUND(quantile_cont(lat_days, 0.9), 6) AS p90_days,
          ROUND(MAX(lat_days), 6) AS max_days
        FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ── q103: conversion rate by entry path — which journey openings
    //    convert: per q91 entry path, the share of sessions containing
    //    a purchase (q91 counts openings, q60 one ordered funnel; this
    //    joins the two lenses). Path labeling, purchase flag, and the
    //    session rollup all ride ONE user-key window shuffle ────────────
    Q("q103_entry_path_conversion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
        val prev = lag(col("ts_sec"), 1).over(w)
        val brk = when(prev.isNull || col("ts_sec") - prev > 43200L, 1L)
          .otherwise(0L)
        val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withSess = ev.withColumn("__brk", brk)
          .withColumn("__sess", sum(col("__brk")).over(cum))
        val sess = col("__sess")
        val t2 = when(lead(sess, 1).over(w) === sess,
          lead(col("event_type"), 1).over(w))
        val t3 = when(lead(sess, 2).over(w) === sess,
          lead(col("event_type"), 2).over(w))
        val path = when(col("__brk") === 1L,
          concat_ws(">", col("event_type"), t2, t3))
        val perSession = withSess
          .withColumn("__path", path)
          .groupBy(col("user_id"), sess.as("__s"))
          .agg(max(col("__path")).as("path"), // exactly one non-null per session
            max((col("event_type") === "purchase").cast("int"))
              .as("converted"))
        perSession.groupBy("path")
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("converted")).as("n_converted"),
            round(sum(col("converted")).cast("double") / count(lit(1)), 6)
              .as("conversion_rate"))
          .orderBy(col("n_sessions").desc, col("path"))
          .limit(10)
      },
      Some(Tables.eventsCte + """,
        l AS (
          SELECT user_id, event_type, ts_sec, event_id,
            LAG(ts_sec) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) AS prev_ts
          FROM e),
        m AS (
          SELECT user_id, event_type, ts_sec, event_id,
            CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 43200
              THEN 1 ELSE 0 END AS brk,
            SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 43200
              THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
                ORDER BY ts_sec, event_id ROWS UNBOUNDED PRECEDING) AS sess
          FROM l),
        g AS (
          SELECT user_id, event_type, brk, sess,
            CASE WHEN brk = 1 THEN concat_ws('>', event_type,
              CASE WHEN LEAD(sess, 1) OVER (PARTITION BY user_id
                ORDER BY ts_sec, event_id) = sess
                THEN LEAD(event_type, 1) OVER (PARTITION BY user_id
                  ORDER BY ts_sec, event_id) END,
              CASE WHEN LEAD(sess, 2) OVER (PARTITION BY user_id
                ORDER BY ts_sec, event_id) = sess
                THEN LEAD(event_type, 2) OVER (PARTITION BY user_id
                  ORDER BY ts_sec, event_id) END) END AS path
          FROM m),
        ps AS (
          SELECT user_id, sess, MAX(path) AS path,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS converted
          FROM g GROUP BY user_id, sess)
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
          CAST(SUM(converted) AS BIGINT) AS n_converted,
          ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6)
            AS conversion_rate
        FROM ps GROUP BY path
        ORDER BY n_sessions DESC, path LIMIT 10""")),

    // ── q104: weekly movers — the biggest week-over-week changes per
    //    event type (the "what moved" report on the q84 lens at type
    //    grain): exact decimal deltas, top-10 by absolute change via
    //    TakeOrderedAndProject ──────────────────────────────────────────
    Q("q104_weekly_movers",
      (s, dir) => {
        // batch and the streaming twin share BOTH halves: the weekly
        // census agg (incremental under structured streaming, update
        // mode) and the read-time movers report over it
        val weekly = graft.ops.EventOps.weeklyTotalsStream(
          Tables.events(s, dir)
            .select(col("event_type"), col("ts_sec"), col("value")))
        graft.ops.EventOps.weeklyMoversFromTotals(weekly, 10)
      },
      Some(Tables.eventsCte + """,
        wk AS (
          SELECT event_type, ts_sec // 604800 AS week,
            SUM(CAST(value AS DECIMAL(18,2))) AS total
          FROM e GROUP BY 1, 2),
        l AS (
          SELECT event_type, week, total,
            LAG(total) OVER (PARTITION BY event_type ORDER BY week)
              AS prev_total
          FROM wk)
        SELECT event_type, week,
          CAST(total AS DOUBLE) AS total,
          CAST(prev_total AS DOUBLE) AS prev_total,
          CAST(total - prev_total AS DOUBLE) AS change,
          ROUND(CAST(total - prev_total AS DOUBLE)
            / CAST(prev_total AS DOUBLE), 6) AS pct_change
        FROM l WHERE prev_total IS NOT NULL
        ORDER BY ABS(CAST(total - prev_total AS DOUBLE)) DESC,
          event_type, week LIMIT 10""")),

    // ── q105: inter-event gap spectrum — log2-bucketed histogram of
    //    per-user gaps (the activity-cadence profile q27/q62's session
    //    gap threshold is calibrated FROM). One user-key window, then
    //    a ~32-bucket rollup ───────────────────────────────────────────
    Q("q105_gap_spectrum",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
        val gap = col("ts_sec") - lag(col("ts_sec"), 1).over(w)
        // integer log2 via binary length — floating log2 differs by an
        // ulp across engines exactly AT powers of two (the buckets'
        // own boundaries); the HLL rank uses the same trick
        val bucket = when(col("gap") <= 0, lit(-1))
          .otherwise((length(bin(col("gap"))) - 1).cast("int"))
        val gaps = Tables.events(s, dir)
          .withColumn("gap", gap)
          .where(col("gap").isNotNull)
        val tot = gaps.agg(count(lit(1)).as("n_total"))
        gaps.select(bucket.as("log2_bucket"), col("gap"))
          .groupBy("log2_bucket")
          .agg(count(lit(1)).as("n_gaps"), min(col("gap")).as("min_gap"),
            max(col("gap")).as("max_gap"))
          .crossJoin(broadcast(tot))
          .select(col("log2_bucket"), col("n_gaps"), col("min_gap"),
            col("max_gap"),
            round(col("n_gaps").cast("double") / col("n_total"), 6)
              .as("share"))
          .orderBy("log2_bucket")
      },
      Some(Tables.eventsCte + """,
        l AS (
          SELECT user_id, ts_sec,
            ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) AS gap
          FROM e),
        g AS (SELECT gap FROM l WHERE gap IS NOT NULL),
        b AS (
          SELECT CASE WHEN gap <= 0 THEN -1
            ELSE CAST(length(bin(gap)) - 1 AS INT) END AS log2_bucket,
            gap
          FROM g),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM b)
        SELECT log2_bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
          MIN(gap) AS min_gap, MAX(gap) AS max_gap,
          ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(n_total), 6) AS share
        FROM b CROSS JOIN t GROUP BY log2_bucket
        ORDER BY log2_bucket""")),

    // ── q106: lead–lag cross-correlation — Pearson correlation of the
    //    click and purchase HOURLY series at lags −6..+6 (does click
    //    volume LEAD purchases?). Counts are integers, so every moment
    //    is exact until the one final double formula; the lag join
    //    runs on the gap-filled hour grid (q95's fixture) ────────────────
    Q("q106_lag_correlation",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val mm = ev.agg(expr("min(ts_sec div 3600)").as("lo"),
          expr("max(ts_sec div 3600)").as("hi"))
        val grid = mm.select(explode(sequence(col("lo"), col("hi"))).as("hb"))
        def series(t: String, cn: String) = grid.join(
            ev.where(col("event_type") === t)
              .groupBy(expr("ts_sec div 3600").as("hb"))
              .agg(count(lit(1)).as(cn)),
            Seq("hb"), "left")
          .select(col("hb"), coalesce(col(cn), lit(0L)).as(cn))
        val a = series("click", "a")
        val b = series("purchase", "b")
          .select(col("hb").as("hb_b"), col("b"))
        val lagged = a.crossJoin(
            broadcast(Tables.events(s, dir).sparkSession.range(-6, 7)
              .select(col("id").as("lag"))))
          .join(b, col("hb_b") === col("hb") + col("lag"))
        // moments in decimal(38,0): Long products a*b would silently
        // overflow with production-scale hourly counts; the cross
        // products then run in double (identical IEEE math on both
        // engines) so they can never overflow either
        def d(c: Column) = c.cast("decimal(19,0)")
        val m = lagged.groupBy("lag")
          .agg(count(lit(1)).as("n"),
            sum(d(col("a"))).as("sa"), sum(d(col("b"))).as("sb"),
            sum(d(col("a")) * d(col("b"))).as("sab"),
            sum(d(col("a")) * d(col("a"))).as("sa2"),
            sum(d(col("b")) * d(col("b"))).as("sb2"))
        def dd(c: Column) = c.cast("double")
        m.select(col("lag"), col("n"),
            round((dd(col("n")) * dd(col("sab"))
                - dd(col("sa")) * dd(col("sb")))
              / sqrt((dd(col("n")) * dd(col("sa2"))
                  - dd(col("sa")) * dd(col("sa")))
                * (dd(col("n")) * dd(col("sb2"))
                  - dd(col("sb")) * dd(col("sb")))), 6).as("corr"))
          .orderBy("lag")
      },
      Some(Tables.eventsCte + """,
        mm AS (SELECT MIN(ts_sec // 3600) AS lo, MAX(ts_sec // 3600) AS hi
               FROM e),
        grid AS (SELECT UNNEST(range(lo, hi + 1)) AS hb FROM mm),
        ca AS (SELECT ts_sec // 3600 AS hb, CAST(COUNT(*) AS BIGINT) AS a
               FROM e WHERE event_type = 'click' GROUP BY 1),
        cb AS (SELECT ts_sec // 3600 AS hb, CAST(COUNT(*) AS BIGINT) AS b
               FROM e WHERE event_type = 'purchase' GROUP BY 1),
        sa AS (SELECT g.hb, COALESCE(ca.a, 0) AS a
               FROM grid g LEFT JOIN ca ON ca.hb = g.hb),
        sb AS (SELECT g.hb AS hb_b, COALESCE(cb.b, 0) AS b
               FROM grid g LEFT JOIN cb ON cb.hb = g.hb),
        lg AS (SELECT UNNEST(range(-6, 7)) AS lag),
        j AS (
          SELECT lg.lag, sa.a, sb.b
          FROM sa CROSS JOIN lg JOIN sb ON sb.hb_b = sa.hb + lg.lag),
        m AS (
          SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(a AS DECIMAL(19,0))) AS sa,
            SUM(CAST(b AS DECIMAL(19,0))) AS sb,
            SUM(CAST(a AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))) AS sab,
            SUM(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0))) AS sa2,
            SUM(CAST(b AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))) AS sb2
          FROM j GROUP BY lag)
        SELECT lag, n,
          ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
            / SQRT((CAST(n AS DOUBLE) * CAST(sa2 AS DOUBLE)
                - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sb2 AS DOUBLE)
                - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6) AS corr
        FROM m ORDER BY lag""")),

    // ── q107: local-supplier volume — the TPC-H Q5 shape: revenue
    //    from lineitems whose supplier sits in the CUSTOMER's nation,
    //    rolled per nation. The one fact-fact shuffle is
    //    lineitem⋈orders on orderkey; supplier/customer/nation/region
    //    all broadcast; the local-supplier constraint is a residual
    //    equality on the two nation keys ────────────────────────────────
    Q("q107_local_supplier_volume",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val su = Tables.supplier(s, dir)
        val n = Tables.nation(s, dir)
        val rev = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1.0).cast("decimal(18,2)")
            - col("l_discount").cast("decimal(18,2)"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey")
            && col("s_nationkey") === col("c_nationkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_lineitems"),
            sum(rev).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
          CAST(COUNT(*) AS BIGINT) AS n_lineitems,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1.0 AS DECIMAL(18,2))
              - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
          AND s_nationkey = c_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // ── q108: growth accounting — every active (user, day) classified
    //    new / retained / resurrected by the gap to the user's
    //    PREVIOUS active day (≤7 retained, >7 resurrected; q89 only
    //    splits new vs returning). One user-key window over the
    //    (user, day) distinct, day rollup bounded by the range ──────────
    Q("q108_growth_accounting",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val days = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_sec div 86400").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        val prev = lag(col("day"), 1).over(w)
        val cls = when(prev.isNull, lit("new"))
          .when(col("day") - prev <= 7, lit("retained"))
          .otherwise(lit("resurrected"))
        days.withColumn("category", cls)
          .groupBy("day")
          .agg(count(lit(1)).as("active_users"),
            count(when(col("category") === "new", 1)).as("new_users"),
            count(when(col("category") === "retained", 1))
              .as("retained_users"),
            count(when(col("category") === "resurrected", 1))
              .as("resurrected_users"))
          .orderBy("day")
      },
      Some(Tables.eventsCte + """,
        d AS (SELECT DISTINCT user_id, ts_sec // 86400 AS day FROM e),
        l AS (
          SELECT user_id, day,
            LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
          FROM d),
        c AS (
          SELECT day,
            CASE WHEN prev_day IS NULL THEN 'new'
                 WHEN day - prev_day <= 7 THEN 'retained'
                 ELSE 'resurrected' END AS category
          FROM l)
        SELECT day, CAST(COUNT(*) AS BIGINT) AS active_users,
          CAST(COUNT(CASE WHEN category = 'new' THEN 1 END) AS BIGINT)
            AS new_users,
          CAST(COUNT(CASE WHEN category = 'retained' THEN 1 END) AS BIGINT)
            AS retained_users,
          CAST(COUNT(CASE WHEN category = 'resurrected' THEN 1 END)
            AS BIGINT) AS resurrected_users
        FROM c GROUP BY day ORDER BY day""")),

    // ── q100: association rules — support/confidence/lift for
    //    event-type pairs co-occurring in a session (the market-basket
    //    classic; q75 counts ORDERED steps, this counts unordered
    //    co-presence). Baskets = q62's sessions; the pair space is
    //    types²-bounded; ratios are fixed-order divisions of exact
    //    counts ─────────────────────────────────────────────────────────
    Q("q100_assoc_rules",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
        val prev = lag(col("ts_sec"), 1).over(w)
        val brk = when(prev.isNull || col("ts_sec") - prev > 43200L, 1L)
          .otherwise(0L)
        val sess = ev
          .withColumn("__brk", brk)
          .withColumn("__sess", sum(col("__brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("user_id"), col("__sess"), col("event_type"))
          .distinct()
        val nb = sess.select("user_id", "__sess").distinct()
          .agg(count(lit(1)).as("n_baskets"))
        val itemSupp = sess.groupBy(col("event_type").as("item"))
          .agg(count(lit(1)).as("n_item"))
        val pairs = sess.as("a").join(sess.as("b"),
            col("a.user_id") === col("b.user_id")
              && col("a.__sess") === col("b.__sess")
              && col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("item_a"),
            col("b.event_type").as("item_b"))
          .agg(count(lit(1)).as("n_both"))
        pairs
          .join(broadcast(itemSupp.withColumnRenamed("item", "item_a")
            .withColumnRenamed("n_item", "n_a")), Seq("item_a"))
          .join(broadcast(itemSupp.withColumnRenamed("item", "item_b")
            .withColumnRenamed("n_item", "n_b")), Seq("item_b"))
          .crossJoin(broadcast(nb))
          .select(col("item_a"), col("item_b"), col("n_both"),
            col("n_a"), col("n_b"),
            round(col("n_both").cast("double") / col("n_baskets"), 6)
              .as("support"),
            round(col("n_both").cast("double") / col("n_a"), 6)
              .as("confidence_a_to_b"),
            round(col("n_both").cast("double") * col("n_baskets")
              / (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
          .orderBy("item_a", "item_b")
      },
      Some(Tables.eventsCte + """,
        l AS (
          SELECT user_id, event_type, ts_sec, event_id,
            LAG(ts_sec) OVER (PARTITION BY user_id
              ORDER BY ts_sec, event_id) AS prev_ts
          FROM e),
        m AS (
          SELECT user_id, event_type,
            SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 43200
              THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
                ORDER BY ts_sec, event_id ROWS UNBOUNDED PRECEDING) AS sess
          FROM l),
        sd AS (SELECT DISTINCT user_id, sess, event_type FROM m),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
               FROM (SELECT DISTINCT user_id, sess FROM sd)),
        it AS (SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n_item
               FROM sd GROUP BY event_type),
        pr AS (
          SELECT a.event_type AS item_a, b.event_type AS item_b,
            CAST(COUNT(*) AS BIGINT) AS n_both
          FROM sd a JOIN sd b
            ON a.user_id = b.user_id AND a.sess = b.sess
            AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT item_a, item_b, n_both,
          ia.n_item AS n_a, ib.n_item AS n_b,
          ROUND(CAST(n_both AS DOUBLE) / nb.n_baskets, 6) AS support,
          ROUND(CAST(n_both AS DOUBLE) / ia.n_item, 6)
            AS confidence_a_to_b,
          ROUND(CAST(n_both AS DOUBLE) * nb.n_baskets
            / CAST(ia.n_item * ib.n_item AS DOUBLE), 6) AS lift
        FROM pr
        JOIN it ia ON ia.item = item_a
        JOIN it ib ON ib.item = item_b
        CROSS JOIN nb
        ORDER BY item_a, item_b""")),

    // ── q109: small-quantity revenue — the TPC-H Q17 CORRELATED-
    //    AGGREGATE shape: lineitems whose quantity sits below 20% of
    //    their part's average, rolled per brand. Catalyst decorrelates
    //    this to one per-partkey partial agg + a fact⋈agg join
    //    CO-PARTITIONED on partkey (same shuffle key both sides — AQE
    //    may still broadcast the small agg side); part broadcasts. The
    //    threshold runs in integer cents (5·q·n < Σq ⟺ q < 0.2·avg)
    //    so no engine ever divides ─────────────────────────────────────
    Q("q109_small_qty_revenue",
      (s, dir) => {
        val qcents = (dec2(col("l_quantity")) * lit(100)).cast("long")
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_extendedprice"),
            qcents.as("qcents"))
        val pa = li.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("qcents")).as("sum_qcents"),
            count(lit(1)).as("n_li"))
        li.join(pa, col("l_partkey") === col("pk"))
          .where(lit(5) * col("qcents") * col("n_li") < col("sum_qcents"))
          .join(broadcast(Tables.part(s, dir)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg((sum(dec2(col("l_extendedprice"))).cast("double") / lit(7.0))
            .as("avg_yearly"),
            count(lit(1)).as("n_small"))
          .orderBy("p_brand")
      },
      Some("""WITH li AS (
          SELECT l_partkey, l_extendedprice,
            CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
              AS qcents
          FROM lineitem),
        pa AS (
          SELECT l_partkey AS pk,
            CAST(SUM(qcents) AS BIGINT) AS sum_qcents,
            CAST(COUNT(*) AS BIGINT) AS n_li
          FROM li GROUP BY 1)
        SELECT p_brand,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            / 7.0 AS avg_yearly,
          CAST(COUNT(*) AS BIGINT) AS n_small
        FROM li
        JOIN pa ON pk = l_partkey
        JOIN part ON p_partkey = l_partkey
        WHERE 5 * qcents * n_li < sum_qcents
        GROUP BY p_brand
        ORDER BY p_brand""")),

    // ── q113: price-volume bridge — the FP&A revenue-delta
    //    decomposition: Δrev per brand between two ship years split
    //    into a VOLUME effect ((q₂−q₁)·p₁) and a PRICE effect
    //    ((p₂−p₁)·q₂), which sum to the delta exactly (p = rev/qty).
    //    Exact decimal sums per (brand, year), part broadcasts, the
    //    bridge math is brands-many scalar rows ─────────────────────────
    Q("q113_price_volume_bridge",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val yr = year(col("l_shipdate"))
        val base = li.where(yr.isin(1997, 1998))
          .join(broadcast(Tables.part(s, dir)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), yr.as("yr"))
          .agg(sum(dec2(col("l_quantity"))).as("qty"),
            sum(revenueTerm).as("rev"))
        val prev = base.where(col("yr") === 1997)
          .select(col("p_brand"), col("qty").as("q1"), col("rev").as("r1"))
        val curr = base.where(col("yr") === 1998)
          .select(col("p_brand"), col("qty").as("q2"), col("rev").as("r2"))
        val p1 = col("r1").cast("double") / col("q1").cast("double")
        val p2 = col("r2").cast("double") / col("q2").cast("double")
        prev.join(curr, Seq("p_brand"))
          .select(col("p_brand"),
            col("r1").cast("double").as("rev_1997"),
            col("r2").cast("double").as("rev_1998"),
            round((col("r2") - col("r1")).cast("double"), 2).as("delta"),
            round((col("q2") - col("q1")).cast("double") * p1, 6)
              .as("volume_effect"),
            round((p2 - p1) * col("q2").cast("double"), 6)
              .as("price_effect"))
          .orderBy("p_brand")
      },
      Some(s"""WITH base AS (
          SELECT p_brand, EXTRACT(YEAR FROM l_shipdate) AS yr,
            SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
            SUM($revenueSql) AS rev
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE EXTRACT(YEAR FROM l_shipdate) IN (1997, 1998)
          GROUP BY 1, 2),
        pv AS (SELECT p_brand, qty AS q1, rev AS r1 FROM base
               WHERE yr = 1997),
        cu AS (SELECT p_brand, qty AS q2, rev AS r2 FROM base
               WHERE yr = 1998)
        SELECT pv.p_brand,
          CAST(r1 AS DOUBLE) AS rev_1997,
          CAST(r2 AS DOUBLE) AS rev_1998,
          ROUND(CAST(r2 - r1 AS DOUBLE), 2) AS delta,
          ROUND(CAST(q2 - q1 AS DOUBLE)
            * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)), 6)
            AS volume_effect,
          ROUND((CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE)
              - CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE))
            * CAST(q2 AS DOUBLE), 6) AS price_effect
        FROM pv JOIN cu ON cu.p_brand = pv.p_brand
        ORDER BY pv.p_brand""")),

    // ── q114: dormant high-balance customers — the TPC-H Q22 shape:
    //    scalar-subquery threshold (above the mean positive balance)
    //    composed with an anti-join (no RECENT order — the fixture's
    //    customers all ordered at some point, so dormancy is
    //    recency-based) and a nation rollup. The mean threshold
    //    compares bal·n > Σbal in exact decimals (no division); the
    //    date predicate pushes into the orders scan before the
    //    anti-join; nation broadcasts ────────────────────────────────────
    Q("q114_dormant_capital",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val pos = c.where(col("c_acctbal") > 0)
          .agg(sum(dec2(col("c_acctbal"))).as("sum_bal"),
            count(lit(1)).as("n_pos"))
        val dormant = c.crossJoin(broadcast(pos))
          .where(dec2(col("c_acctbal")) * col("n_pos") > col("sum_bal"))
          .join(Tables.orders(s, dir)
            .where(col("o_orderdate") >= lit("1999-06-01").cast("timestamp"))
            .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
        dormant.join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_custs"),
            sum(dec2(col("c_acctbal"))).cast("double").as("total_bal"))
          .orderBy("n_name")
      },
      Some("""WITH pos AS (
          SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal,
            CAST(COUNT(*) AS BIGINT) AS n_pos
          FROM customer WHERE c_acctbal > 0),
        dormant AS (
          SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
          FROM customer c CROSS JOIN pos
          WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > sum_bal
            AND NOT EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '1999-06-01'))
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_custs,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
            AS total_bal
        FROM dormant JOIN nation ON n_nationkey = c_nationkey
        GROUP BY n_name ORDER BY n_name""")),

    // ── q115: Gini concentration per nation — the inequality index
    //    over positive customer balances via the sorted-rank identity
    //    G = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx): q88's Pareto curve reduced to
    //    one number per group. The rank runs in a nation-partitioned
    //    window; the numerator is an EXACT decimal sum (integer rank
    //    weights × decimal balances), one final double division ─────────
    Q("q115_gini_by_nation",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val c = Tables.customer(s, dir).where(col("c_acctbal") > 0)
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("x"), col("c_custkey"))
        val ranked = c.select(col("c_nationkey"), col("c_custkey"),
            dec2(col("c_acctbal")).as("x"))
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy("c_nationkey")))
        val g = ranked.groupBy("c_nationkey")
          .agg(max(col("n")).as("n_custs"),
            sum(col("x")).as("sum_bal"),
            sum((lit(2) * col("i") - col("n") - 1) * col("x")).as("num"))
          .select(col("c_nationkey"), col("n_custs"),
            col("sum_bal").cast("double").as("total_bal"),
            round(col("num").cast("double")
              / (col("n_custs") * col("sum_bal")).cast("double"), 6)
              .as("gini"))
        g.join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .select("n_name", "n_custs", "total_bal", "gini")
          .orderBy("n_name")
      },
      Some("""WITH c AS (
          SELECT c_nationkey, c_custkey,
            CAST(c_acctbal AS DECIMAL(18,2)) AS x
          FROM customer WHERE c_acctbal > 0),
        r AS (
          SELECT c_nationkey, x,
            CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
              ORDER BY x, c_custkey) AS BIGINT) AS i,
            CAST(COUNT(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n
          FROM c),
        g AS (
          SELECT c_nationkey, MAX(n) AS n_custs,
            SUM(x) AS sum_bal,
            SUM((2 * i - n - 1) * x) AS num
          FROM r GROUP BY c_nationkey)
        SELECT n_name, n_custs,
          CAST(sum_bal AS DOUBLE) AS total_bal,
          ROUND(CAST(num AS DOUBLE)
            / CAST(n_custs * sum_bal AS DOUBLE), 6) AS gini
        FROM g JOIN nation ON n_nationkey = c_nationkey
        ORDER BY n_name""")),

    // ── q116: cheapest supplier per part — the TPC-H Q2 correlated-
    //    min shape on the available facts: each supplier's best unit
    //    price per part from their lineitems, then the per-part argmin
    //    via ONE partial-agg min(struct) (no window sort, no join-back
    //    subquery — the aggregate carries the winner's identity), dims
    //    broadcast. At 100 TB the (part, supp) rollup is the only
    //    corpus-sized shuffle ───────────────────────────────────────────
    Q("q116_min_cost_supplier",
      (s, dir) => {
        val unit = Tables.lineitem(s, dir)
          .where(col("l_quantity") > 0)
          .select(col("l_partkey"), col("l_suppkey"),
            (col("l_extendedprice").cast("double")
              * (lit(1.0) - col("l_discount").cast("double"))
              / col("l_quantity").cast("double")).as("u"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(min(col("u")).as("unit_cost"))
        val sup = Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        val best = unit.join(broadcast(sup),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("l_partkey")
          .agg(min(struct(col("unit_cost"), col("s_name"), col("n_name")))
            .as("w"))
          .select(col("l_partkey").as("p_partkey"),
            col("w.s_name").as("s_name"), col("w.n_name").as("n_name"),
            col("w.unit_cost").as("unit_cost"))
        best.join(broadcast(Tables.part(s, dir)), Seq("p_partkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"),
            col("n_name"), col("unit_cost"))
          .orderBy("p_partkey")
      },
      Some("""WITH unit AS (
          SELECT l_partkey, l_suppkey,
            MIN(CAST(l_extendedprice AS DOUBLE)
              * (1.0 - CAST(l_discount AS DOUBLE))
              / CAST(l_quantity AS DOUBLE)) AS unit_cost
          FROM lineitem WHERE l_quantity > 0
          GROUP BY 1, 2),
        ranked AS (
          SELECT u.l_partkey, s.s_name, n.n_name, u.unit_cost,
            ROW_NUMBER() OVER (PARTITION BY u.l_partkey
              ORDER BY u.unit_cost, s.s_name, n.n_name) AS rk
          FROM unit u
          JOIN supplier s ON s.s_suppkey = u.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey)
        SELECT r.l_partkey AS p_partkey, p.p_name, r.s_name, r.n_name,
          r.unit_cost
        FROM ranked r JOIN part p ON p.p_partkey = r.l_partkey
        WHERE rk = 1 ORDER BY p_partkey""")),

    // ── q122: rolling 7-day retention — per day, the share of active
    //    users who were ALSO active exactly 7 days earlier (the DAU
    //    quality metric next to q108's gap classes and q68's cohort
    //    triangle). One (user, day) distinct + a self-equi-join on
    //    the shifted day — both legs ride the same key ──────────────────
    Q("q122_rolling_retention",
      (s, dir) => {
        val days = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_sec div 86400").as("day"))
          .distinct()
        val prev = days.select(col("user_id"),
          (col("day") + 7).as("day"), lit(1).as("was_active"))
        days.join(prev, Seq("user_id", "day"), "left")
          .groupBy("day")
          .agg(count(lit(1)).as("active_users"),
            count(col("was_active")).as("retained_7d"),
            round(count(col("was_active")).cast("double")
              / count(lit(1)), 6).as("retention_7d"))
          .orderBy("day")
      },
      Some(Tables.eventsCte + """,
        d AS (SELECT DISTINCT user_id, ts_sec // 86400 AS day FROM e),
        p AS (SELECT user_id, day + 7 AS day, 1 AS was_active FROM d)
        SELECT d.day, CAST(COUNT(*) AS BIGINT) AS active_users,
          CAST(COUNT(p.was_active) AS BIGINT) AS retained_7d,
          ROUND(CAST(COUNT(p.was_active) AS DOUBLE) / COUNT(*), 6)
            AS retention_7d
        FROM d LEFT JOIN p ON p.user_id = d.user_id AND p.day = d.day
        GROUP BY d.day ORDER BY d.day""")),

    // ── q121: ABC inventory classification — parts ranked by revenue,
    //    classed A/B/C at the 80%/95% cumulative-share cuts (the
    //    Pareto warehouse classic, q88's curve folded to 3 classes).
    //    Cumulative sums and both threshold compares stay in EXACT
    //    decimals (cum·100 vs tot·80/95 — no division); the global
    //    rank runs on the per-PART rollup (parts ≪ lineitems). The
    //    byPart rollup is q121's streaming census
    //    (EventOps.partRevenueStream), the classing is the report at
    //    read time (abcFromPartRevenue, shared verbatim here) ──────────
    Q("q121_abc_classification",
      (s, dir) => {
        val byPart = Tables.lineitem(s, dir)
          .groupBy("l_partkey").agg(sum(revenueTerm).as("rev"))
        graft.ops.EventOps.abcFromPartRevenue(byPart)
      },
      Some(s"""WITH by_part AS (
          SELECT l_partkey, SUM($revenueSql) AS rev
          FROM lineitem GROUP BY 1),
        tot AS (SELECT SUM(rev) AS tv FROM by_part),
        ranked AS (
          SELECT l_partkey, rev,
            SUM(rev) OVER (ORDER BY rev DESC, l_partkey
              ROWS UNBOUNDED PRECEDING) AS cum
          FROM by_part),
        classed AS (
          SELECT l_partkey, rev,
            CASE WHEN cum * 100 <= tv * 80 THEN 'A'
                 WHEN cum * 100 <= tv * 95 THEN 'B'
                 ELSE 'C' END AS abc_class
          FROM ranked CROSS JOIN tot)
        SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
          CAST(SUM(rev) AS DOUBLE) AS class_revenue,
          ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(tv AS DOUBLE), 6)
            AS revenue_share
        FROM classed CROSS JOIN tot
        GROUP BY abc_class, tv ORDER BY abc_class""")),

    // ── q120: customer tier migration — the segment-churn matrix:
    //    spend quartiles in 1995–97 vs 1998–2001 cross-tabulated
    //    (tier 0 = absent from the period). The NTILE windows run on
    //    the per-CUSTOMER rollup (customers ≪ orders — q96's class);
    //    the matrix is ≤ 5×5 rows ───────────────────────────────────────
    Q("q120_tier_migration",
      (s, dir) => {
        import graft.ops.PrefixSum
        val o = Tables.orders(s, dir)
          .select(col("o_custkey"),
            dec2(col("o_totalprice")).as("v"),
            (year(col("o_orderdate")) <= 1997).as("p1"))
        // NTILE(4) through PrefixSum.globalNtile (round 18): the
        // rollup is per-CUSTOMER — entity grain, so the old
        // unpartitioned NTILE window one-task-sorted what is 10⁸⁺
        // rows at 100 TB; the distributed tile formula matches the
        // oracle's NTILE bit-for-bit.
        // period rollups pinned (lazy): the kernel references its
        // input ~4x — see q96's comment
        def tiers(df: DataFrame, out: String): DataFrame =
          PrefixSum.globalNtile(Pin(df, eager = false),
              col("spend"), descending = false,
              tiebreak = col("o_custkey"), k = 4, out = out)
            .select(col("o_custkey"), col(out))
        val t1 = tiers(o.where(col("p1")).groupBy("o_custkey")
          .agg(sum(col("v")).as("spend")), "tier_from")
        val t2 = tiers(o.where(!col("p1")).groupBy("o_custkey")
          .agg(sum(col("v")).as("spend")), "tier_to")
        t1.join(t2, Seq("o_custkey"), "full_outer")
          .select(coalesce(col("tier_from"), lit(0)).as("tier_from"),
            coalesce(col("tier_to"), lit(0)).as("tier_to"))
          .groupBy("tier_from", "tier_to")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("tier_from", "tier_to")
      },
      Some("""WITH o AS (
          SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
            EXTRACT(year FROM o_orderdate) <= 1997 AS p1
          FROM orders),
        s1 AS (SELECT o_custkey, SUM(v) AS spend FROM o WHERE p1 GROUP BY 1),
        s2 AS (SELECT o_custkey, SUM(v) AS spend FROM o WHERE NOT p1 GROUP BY 1),
        t1 AS (SELECT o_custkey,
            NTILE(4) OVER (ORDER BY spend, o_custkey) AS tier_from
          FROM s1),
        t2 AS (SELECT o_custkey,
            NTILE(4) OVER (ORDER BY spend, o_custkey) AS tier_to
          FROM s2)
        SELECT COALESCE(tier_from, 0) AS tier_from,
          COALESCE(tier_to, 0) AS tier_to,
          CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM t1 FULL OUTER JOIN t2 USING (o_custkey)
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── q119: important brands — the TPC-H Q11 group-vs-global
    //    threshold shape: brands whose revenue exceeds their pro-rata
    //    share of the corpus total (value·n_brands > total). The
    //    HAVING compare stays in EXACT decimals — no division — and
    //    the 1-row total broadcasts; only the reported share divides ────
    Q("q119_important_brands",
      (s, dir) => {
        val byBrand = Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(sum(revenueTerm).as("value"),
            count(lit(1)).as("n_lineitems"))
        val tot = byBrand.agg(sum(col("value")).as("tv"),
          count(lit(1)).as("nb"))
        byBrand.crossJoin(broadcast(tot))
          .where(col("value") * col("nb") > col("tv"))
          .select(col("p_brand"), col("n_lineitems"),
            col("value").cast("double").as("total_value"),
            round(col("value").cast("double") / col("tv").cast("double"), 6)
              .as("share"))
          .orderBy(col("total_value").desc, col("p_brand"))
      },
      Some(s"""WITH by_brand AS (
          SELECT p.p_brand, SUM($revenueSql) AS value,
            CAST(COUNT(*) AS BIGINT) AS n_lineitems
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          GROUP BY 1),
        tot AS (SELECT SUM(value) AS tv, COUNT(*) AS nb FROM by_brand)
        SELECT p_brand, n_lineitems,
          CAST(value AS DOUBLE) AS total_value,
          ROUND(CAST(value AS DOUBLE) / CAST(tv AS DOUBLE), 6) AS share
        FROM by_brand CROSS JOIN tot
        WHERE value * nb > tv
        ORDER BY total_value DESC, p_brand""")),

    // ── q117: sole-late supplier — the TPC-H Q21 exists/not-exists
    //    shape: suppliers who were the ONLY late shipper (q97's
    //    30-day rule) in a multi-supplier order, ranked by how often.
    //    Both correlated EXISTS collapse into ONE (order, supplier)
    //    rollup + one order-grain rollup — no per-row subqueries ───────
    Q("q117_sole_late_supplier",
      (s, dir) => {
        val li = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey").as("ok"), col("l_suppkey"),
            (col("l_shipdate") > col("o_orderdate")
              + expr("INTERVAL 30 DAYS")).cast("int").as("is_late"))
        val perSupp = li.groupBy("ok", "l_suppkey")
          .agg(max(col("is_late")).as("supp_late"))
        val perOrder = perSupp.groupBy("ok")
          .agg(count(lit(1)).as("n_supps"),
            sum(col("supp_late")).as("n_late_supps"))
        val waits = perSupp
          .join(perOrder, Seq("ok"))
          .where(col("supp_late") === 1 && col("n_supps") > 1
            && col("n_late_supps") === 1)
          .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
        waits.join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_name"), col("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
      },
      Some("""WITH li AS (
          SELECT o.o_orderkey AS ok, l.l_suppkey,
            CAST(l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY AS INT)
              AS is_late
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        per_supp AS (
          SELECT ok, l_suppkey, MAX(is_late) AS supp_late
          FROM li GROUP BY 1, 2),
        per_order AS (
          SELECT ok, COUNT(*) AS n_supps, SUM(supp_late) AS n_late_supps
          FROM per_supp GROUP BY 1),
        waits AS (
          SELECT ps.l_suppkey, COUNT(*) AS numwait
          FROM per_supp ps JOIN per_order po ON po.ok = ps.ok
          WHERE ps.supp_late = 1 AND po.n_supps > 1 AND po.n_late_supps = 1
          GROUP BY 1)
        SELECT s.s_name, CAST(w.numwait AS BIGINT) AS numwait
        FROM waits w JOIN supplier s ON s.s_suppkey = w.l_suppkey
        ORDER BY numwait DESC, s_name""")),

    // ── q118: cross-sell brand pairs — market-basket co-occurrence on
    //    the warehouse facts (q100 is the event-session twin): brands
    //    co-purchased in one order, with support and lift. The basket
    //    self-join runs WITHIN the order key (pair volume is bounded
    //    by baskets × brands-per-basket², linear in orders), per-brand
    //    counts broadcast back for the lift ─────────────────────────────
    Q("q118_cross_sell_pairs",
      (s, dir) => {
        // census→report split shared with the streaming twin: the
        // distinct (order, brand) incidence is the census (streamed as
        // EventOps.orderBrandsStream), the pair expansion is the report
        val ob = Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
          .distinct()
        val nOrders = Tables.orders(s, dir)
          .agg(countDistinct(col("o_orderkey")).as("n_orders"))
        graft.ops.EventOps.crossSellFromOrderBrands(ob, nOrders, 20)
      },
      Some("""WITH ob AS (
          SELECT DISTINCT l.l_orderkey AS ok, p.p_brand
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        n AS (SELECT COUNT(DISTINCT o_orderkey) AS n_orders FROM orders),
        bc AS (SELECT p_brand, COUNT(*) AS n_brand FROM ob GROUP BY 1),
        pairs AS (
          SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
            COUNT(*) AS n_both
          FROM ob a JOIN ob b ON a.ok = b.ok AND a.p_brand < b.p_brand
          GROUP BY 1, 2)
        SELECT p.brand_a, p.brand_b, CAST(p.n_both AS BIGINT) AS n_both,
          ROUND(CAST(p.n_both AS DOUBLE) / n.n_orders, 6) AS support,
          ROUND(CAST(p.n_both AS DOUBLE) * n.n_orders
            / (ca.n_brand * cb.n_brand), 6) AS lift
        FROM pairs p
        JOIN bc ca ON ca.p_brand = p.brand_a
        JOIN bc cb ON cb.p_brand = p.brand_b
        CROSS JOIN n
        ORDER BY n_both DESC, brand_a, brand_b LIMIT 20""")),

    // ── q110: window funnel — the ClickHouse windowFunnel semantics:
    //    each entrant's MAX ordered step depth where every later step
    //    lands within 1 day of the FIRST step, rolled into the depth
    //    histogram (the conversion report q82's unbounded dropoff
    //    can't express). Same user-key partial-agg chain as q60 with
    //    the horizon predicate anchored at step 1 ───────────────────────
    Q("q110_window_funnel",
      (s, dir) => {
        val f = graft.ops.EventOps.funnelSteps(Tables.events(s, dir),
          "user_id", "event_type", "ts_sec",
          Seq("view", "click", "purchase"), within = Some(86400L))
        val d = f.select(when(col("purchase_ts").isNotNull, 3)
          .when(col("click_ts").isNotNull, 2).otherwise(1).as("depth"))
        val tot = d.agg(count(lit(1)).as("n_total"))
        d.groupBy("depth").agg(count(lit(1)).as("n_users"))
          .crossJoin(broadcast(tot))
          .select(col("depth"), col("n_users"),
            round(col("n_users").cast("double") / col("n_total"), 6)
              .as("share"))
          .orderBy("depth")
      },
      Some(Tables.eventsCte + """,
        s1 AS (SELECT user_id AS u, MIN(ts_sec) AS ts1
               FROM e WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id AS u, MIN(e.ts_sec) AS ts2
               FROM e JOIN s1 ON s1.u = e.user_id
               WHERE e.event_type = 'click' AND e.ts_sec > s1.ts1
                 AND e.ts_sec <= s1.ts1 + 86400
               GROUP BY 1),
        s3 AS (SELECT e.user_id AS u, MIN(e.ts_sec) AS ts3
               FROM e JOIN s2 ON s2.u = e.user_id
               JOIN s1 ON s1.u = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts_sec > s2.ts2
                 AND e.ts_sec <= s1.ts1 + 86400
               GROUP BY 1),
        d AS (
          SELECT CASE WHEN s3.u IS NOT NULL THEN 3
            WHEN s2.u IS NOT NULL THEN 2 ELSE 1 END AS depth
          FROM s1 LEFT JOIN s2 ON s2.u = s1.u
          LEFT JOIN s3 ON s3.u = s1.u),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM d)
        SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_users,
          ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(n_total), 6) AS share
        FROM d CROSS JOIN t GROUP BY depth ORDER BY depth""")),

    // ── q111: KMV set-operation estimates — union / Jaccard /
    //    intersection of the click-user and view-user sets computed
    //    from two bottom-64 sketches ALONE (Beyer et al. 2007): the
    //    sides never co-shuffle, each reduces to 64 hashes
    //    independently and the set algebra runs on 128 rows — the
    //    mergeable companion to q65's HLL overlap ───────────────────────
    Q("q111_kmv_setops",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        graft.ops.SketchOps.kmvSetOps(
          ev.where(col("event_type") === "click").select("user_id"),
          ev.where(col("event_type") === "view").select("user_id"),
          "user_id", k = 64)
      },
      Some(Tables.eventsCte + """,
        ua AS (
          SELECT DISTINCT
            ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
              / 1152921504606846976.0 AS uh
          FROM e WHERE event_type = 'click'),
        ub AS (
          SELECT DISTINCT
            ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
              / 1152921504606846976.0 AS uh
          FROM e WHERE event_type = 'view'),
        ka AS (SELECT uh FROM ua ORDER BY uh LIMIT 64),
        kb AS (SELECT uh FROM ub ORDER BY uh LIMIT 64),
        kab AS (
          SELECT uh FROM (
            SELECT DISTINCT uh FROM (
              SELECT uh FROM ka UNION ALL SELECT uh FROM kb))
          ORDER BY uh LIMIT 64),
        bth AS (SELECT uh FROM ka WHERE uh IN (SELECT uh FROM kb)),
        ib AS (SELECT uh FROM kab WHERE uh IN (SELECT uh FROM bth)),
        a1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used, MAX(uh) AS m
               FROM kab),
        a2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM ib),
        f AS (
          SELECT k_used, n_both,
            CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE)
                 ELSE CAST(k_used - 1 AS DOUBLE) / m END AS u_raw
          FROM a1 CROSS JOIN a2)
        SELECT k_used, n_both, ROUND(u_raw, 6) AS union_est,
          ROUND(CAST(n_both AS DOUBLE) / k_used, 6) AS jaccard_est,
          ROUND(CAST(n_both AS DOUBLE) / k_used * u_raw, 6)
            AS intersect_est
        FROM f""")),

    // ── q112: A/B experiment readout — users hash-assigned to
    //    variants (rerun/append-stable, the SampleOps contract),
    //    purchase conversion per arm, lift, and the two-proportion
    //    pooled z-score the experimentation dashboard shows. Two
    //    user-key distinct aggs + a 2-row pivot; all counting until
    //    the final double formula ───────────────────────────────────────
    Q("q112_ab_test",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val users = ev.select("user_id").distinct()
          .withColumn("variant",
            when(graft.ops.SampleOps.unitHash(col("user_id"), "ab") < 0.5,
              "A").otherwise("B"))
        // conversion = completed the horizon-bounded funnel (q110's
        // depth 3) — every user "purchases eventually" on this
        // fixture, so the unbounded definition saturates at rate 1.0
        val conv = graft.ops.EventOps.funnelSteps(ev,
            "user_id", "event_type", "ts_sec",
            Seq("view", "click", "purchase"), within = Some(86400L))
          .where(col("purchase_ts").isNotNull)
          .select("user_id").withColumn("cv", lit(1L))
        val arms = users.join(conv, Seq("user_id"), "left")
          .groupBy("variant")
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("cv"), lit(0L))).as("conv"))
        val one = arms.agg(
          max(when(col("variant") === "A", col("n"))).as("n_a"),
          max(when(col("variant") === "A", col("conv"))).as("conv_a"),
          max(when(col("variant") === "B", col("n"))).as("n_b"),
          max(when(col("variant") === "B", col("conv"))).as("conv_b"))
        val ra = col("conv_a").cast("double") / col("n_a")
        val rb = col("conv_b").cast("double") / col("n_b")
        val pooled = (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b"))
        one.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          round(ra, 6).as("rate_a"), round(rb, 6).as("rate_b"),
          round(ra - rb, 6).as("lift"),
          // degenerate pools (0% or 100% conversion) have no sampling
          // variance — the z-statistic is undefined, emit null
          when(pooled === 0.0 || pooled === 1.0, lit(null).cast("double"))
            .otherwise(round((ra - rb) / sqrt(pooled * (lit(1.0) - pooled)
              * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
            .as("z_score"))
      },
      Some(Tables.eventsCte + """,
        u AS (
          SELECT user_id,
            CASE WHEN ('0x' || substr(md5('ab' || '#' || user_id::VARCHAR),
                1, 15))::BIGINT / 1152921504606846976.0 < 0.5
              THEN 'A' ELSE 'B' END AS variant
          FROM (SELECT DISTINCT user_id FROM e)),
        s1 AS (SELECT user_id AS fu, MIN(ts_sec) AS ts1
               FROM e WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id AS fu, MIN(e.ts_sec) AS ts2
               FROM e JOIN s1 ON s1.fu = e.user_id
               WHERE e.event_type = 'click' AND e.ts_sec > s1.ts1
                 AND e.ts_sec <= s1.ts1 + 86400
               GROUP BY 1),
        s3 AS (SELECT e.user_id AS fu, MIN(e.ts_sec) AS ts3
               FROM e JOIN s2 ON s2.fu = e.user_id
               JOIN s1 ON s1.fu = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts_sec > s2.ts2
                 AND e.ts_sec <= s1.ts1 + 86400
               GROUP BY 1),
        c AS (SELECT fu AS user_id, 1 AS cv FROM s3),
        arms AS (
          SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(COALESCE(cv, 0)) AS BIGINT) AS conv
          FROM u LEFT JOIN c USING (user_id) GROUP BY variant),
        one AS (
          SELECT
            MAX(CASE WHEN variant = 'A' THEN n END) AS n_a,
            MAX(CASE WHEN variant = 'A' THEN conv END) AS conv_a,
            MAX(CASE WHEN variant = 'B' THEN n END) AS n_b,
            MAX(CASE WHEN variant = 'B' THEN conv END) AS conv_b
          FROM arms)
        SELECT n_a, conv_a, n_b, conv_b,
          ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
          ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
          ROUND(CAST(conv_a AS DOUBLE) / n_a
            - CAST(conv_b AS DOUBLE) / n_b, 6) AS lift,
          CASE WHEN CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)
                 IN (0.0, 1.0) THEN NULL
            ELSE ROUND((CAST(conv_a AS DOUBLE) / n_a
                - CAST(conv_b AS DOUBLE) / n_b)
              / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_score
        FROM one""")),

    // ── q131: DAU/WAU/MAU stickiness — the engagement-quality ratios
    //    next to q122's rolling retention: per ACTIVE day, daily
    //    actives, trailing-7 and trailing-28 actives, and the
    //    DAU/WAU + DAU/MAU stickiness. Trailing windows come from a
    //    bounded forward explode (each active (user, day) contributes
    //    to the next w days — rows scale w×, never day²), distincts
    //    collapse per (day, user) map-side; the scale path for the
    //    distinct legs is q99's HLL register merge ──────────────────────
    Q("q131_stickiness",
      (s, dir) => {
        val d = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_sec div 86400").as("day"))
          .distinct()
        val active = d.select("day").distinct()
        val dau = d.groupBy("day").agg(count(lit(1)).as("dau"))
        def trailing(w: Int, name: String) = d
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + (w - 1))).as("day"))
          .join(active, Seq("day"), "left_semi")
          .groupBy("day").agg(countDistinct(col("user_id")).as(name))
        dau.join(trailing(7, "wau"), Seq("day"))
          .join(trailing(28, "mau"), Seq("day"))
          .select(col("day"), col("dau"), col("wau"), col("mau"),
            round(col("dau").cast("double") / col("wau"), 6)
              .as("stickiness_7"),
            round(col("dau").cast("double") / col("mau"), 6)
              .as("stickiness_28"))
          .orderBy("day")
      },
      Some(Tables.eventsCte + """,
        d AS (SELECT DISTINCT user_id, ts_sec // 86400 AS day FROM e),
        act AS (SELECT DISTINCT day FROM d),
        dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
                FROM d GROUP BY 1),
        w7 AS (SELECT x.day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
               FROM (SELECT user_id, day + g.g AS day
                     FROM d, generate_series(0, 6) AS g(g)) x
               JOIN act USING (day) GROUP BY 1),
        w28 AS (SELECT x.day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
                FROM (SELECT user_id, day + g.g AS day
                      FROM d, generate_series(0, 27) AS g(g)) x
                JOIN act USING (day) GROUP BY 1)
        SELECT day, dau, wau, mau,
          ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness_7,
          ROUND(CAST(dau AS DOUBLE) / mau, 6) AS stickiness_28
        FROM dau JOIN w7 USING (day) JOIN w28 USING (day)
        ORDER BY day""")),

    // ── q132: engagement depth (the L7 histogram) — per active day,
    //    how many users were active on exactly 1..7 of the trailing 7
    //    days: the depth distribution behind q131's single ratio (a
    //    shifting L7 histogram is the canonical engagement-health
    //    dashboard). Same bounded forward explode; the per-(day, user)
    //    depth count partial-aggs before the histogram rollup ──────────
    Q("q132_engagement_depth",
      (s, dir) => {
        val d = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_sec div 86400").as("day"))
          .distinct()
        val active = d.select("day").distinct()
        d.select(col("user_id"),
            explode(sequence(col("day"), col("day") + 6)).as("day"))
          .join(active, Seq("day"), "left_semi")
          .groupBy("day", "user_id")
          .agg(count(lit(1)).as("l_days"))
          .groupBy("day", "l_days")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("day", "l_days")
      },
      Some(Tables.eventsCte + """,
        d AS (SELECT DISTINCT user_id, ts_sec // 86400 AS day FROM e),
        act AS (SELECT DISTINCT day FROM d),
        x AS (SELECT user_id, day + g.g AS day
              FROM d, generate_series(0, 6) AS g(g)),
        c AS (SELECT x.day, user_id, CAST(COUNT(*) AS BIGINT) AS l_days
              FROM x JOIN act USING (day) GROUP BY 1, 2)
        SELECT day, l_days, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM c GROUP BY 1, 2 ORDER BY day, l_days""")),

    // ── q133: stickiness from HLL registers — q131's sketch twin and
    //    the live-serving path for the engagement family: per-day
    //    registers build in ONE corpus pass (partial-agg, ≤ days×2^p
    //    rows — the same register log a streaming query maintains in
    //    update mode), then DAU folds and trailing-7/28 register-MAX
    //    merges assemble the ratios from sketch rows only. q99's
    //    census→report split applied to q131; bit-reproducible fold ⇒
    //    hash-EXACT despite being approximate ───────────────────────────
    Q("q133_stickiness_sketch",
      (s, dir) => graft.ops.SketchOps.hllStickiness(
        Tables.events(s, dir).withColumn("day", expr("ts_sec div 86400")),
        "day", "user_id", p = 8),
      Some(XxHashSql.hllStickinessOracle("events",
        "(CAST(floor(epoch(ts)) AS BIGINT) // 86400)", "user_id", p = 8))),

    // ── q123: volume shipping — the TPC-H Q7 shape: cross-nation
    //    revenue by (supplier nation, customer nation, ship year) for
    //    1995–96. One fact-fact shuffle (lineitem⋈orders on orderkey);
    //    supplier/customer broadcast, nation broadcast TWICE under
    //    different roles; the year filter is a RAW range predicate
    //    (not year()-wrapped) so parquet min/max stats prune row
    //    groups — year() appears only in the grouping projection ───────
    Q("q123_volume_shipping",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        val n = Tables.nation(s, dir)
        val n1 = n.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))
        val n2 = n.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))
        li.join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.customer(s, dir)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("snk"))
          .join(broadcast(n2), col("c_nationkey") === col("cnk"))
          .where(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(revenueTerm).cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
          CAST(YEAR(l_shipdate) AS INT) AS l_year,
          CAST(SUM($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ── q124: market share — the TPC-H Q8 shape: NATION_3's share of
    //    PROMO-part revenue sold to ASIA-region customers, per order
    //    year. The share numerator is a conditional SUM over the same
    //    rows (no second scan); nation⋈region pre-reduces to a
    //    broadcast key list; exact decimals until the final division ────
    Q("q124_market_share",
      (s, dir) => {
        val asiaN = Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .where(col("r_name") === "ASIA")
          .select(col("n_nationkey").as("cnk"))
        val sn = Tables.nation(s, dir)
          .select(col("n_nationkey").as("snk"),
            col("n_name").as("supp_nation"))
        val natRev = sum(when(col("supp_nation") === "NATION_3",
          revenueTerm)).cast("double")
        val totRev = sum(revenueTerm).cast("double")
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)
              .where(col("p_type") === "PROMO")),
            col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, dir)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(asiaN), col("c_nationkey") === col("cnk"))
          .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(sn), col("s_nationkey") === col("snk"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(natRev.as("nation_revenue"), totRev.as("total_revenue"))
          // a year with zero NATION_3 rows sums to NULL, and engine
          // NULL/NaN float conventions differ — define both legs:
          // 0.0 revenue, 0.0 share (round-14 seed audit caught this
          // on seed 31415926; seed 42 never produced such a year)
          .select(col("o_year"),
            coalesce(col("nation_revenue"), lit(0.0)).as("nation_revenue"),
            col("total_revenue"),
            when(col("total_revenue") > 0,
              round(coalesce(col("nation_revenue"), lit(0.0))
                / col("total_revenue"), 6))
              .otherwise(lit(0.0)).as("mkt_share"))
          .orderBy("o_year")
      },
      Some(s"""SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
          COALESCE(CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
            THEN $revenueSql END) AS DOUBLE), 0.0) AS nation_revenue,
          CAST(SUM($revenueSql) AS DOUBLE) AS total_revenue,
          CASE WHEN CAST(SUM($revenueSql) AS DOUBLE) > 0 THEN
            ROUND(COALESCE(CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                THEN $revenueSql END) AS DOUBLE), 0.0)
              / CAST(SUM($revenueSql) AS DOUBLE), 6)
          ELSE 0.0 END AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY 1 ORDER BY 1""")),

    // ── q125: product-type profit — the TPC-H Q9 shape with this
    //    schema's cost proxy (no partsupp table: cost = qty ×
    //    p_retailprice × 0.5): per (supplier nation, order year) profit.
    //    All three decimal legs stay exact until the final cast;
    //    part/supplier/nation broadcast; ONE fact-fact shuffle ──────────
    Q("q125_product_profit",
      (s, dir) => {
        val sn = Tables.nation(s, dir)
          .select(col("n_nationkey").as("snk"),
            col("n_name").as("supp_nation"))
        val cost = dec2(col("l_quantity")) * dec2(col("p_retailprice")) *
          lit(0.5).cast("decimal(18,2)")
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)),
            col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(sn), col("s_nationkey") === col("snk"))
          .groupBy(col("supp_nation"), year(col("o_orderdate")).as("o_year"))
          .agg(count(lit(1)).as("n_lines"),
            sum(revenueTerm - cost).cast("double").as("profit"))
          .orderBy("supp_nation", "o_year")
      },
      Some(s"""SELECT sn.n_name AS supp_nation,
          CAST(YEAR(o_orderdate) AS INT) AS o_year,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM($revenueSql
            - CAST(l_quantity AS DECIMAL(18,2))
              * CAST(p_retailprice AS DECIMAL(18,2))
              * CAST(0.5 AS DECIMAL(18,2))) AS DOUBLE) AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── q126: returned-item revenue — the TPC-H Q10 shape: top-20
    //    customers by revenue lost to returns (l_returnflag = 'R') on
    //    orders placed in 1996H1. The returnflag + date filters prune
    //    BOTH scan sides before the one orderkey shuffle; customer and
    //    nation broadcast; deterministic tie-break on custkey ───────────
    Q("q126_returned_revenue",
      (s, dir) => {
        Tables.lineitem(s, dir).where(col("l_returnflag") === "R")
          .join(Tables.orders(s, dir)
              .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
                && col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, dir)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(count(lit(1)).as("n_lines"),
            sum(revenueTerm).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ── q127: promo revenue share — the TPC-H Q14 shape: PROMO parts'
    //    percentage of September-1996 shipped revenue. The month filter
    //    prunes the fact scan; part broadcasts; the CASE numerator
    //    rides the same aggregate — one scan, one 1-row result ──────────
    Q("q127_promo_share",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .where(col("l_shipdate") >= lit("1996-09-01").cast("timestamp")
            && col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
          .join(broadcast(Tables.part(s, dir)),
            col("l_partkey") === col("p_partkey"))
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("p_type") === "PROMO", revenueTerm))
              .cast("double").as("promo_revenue"),
            sum(revenueTerm).cast("double").as("total_revenue"))
          .select(col("n_lines"), col("promo_revenue"),
            col("total_revenue"),
            round(col("promo_revenue") * 100 / col("total_revenue"), 6)
              .as("promo_share_pct"))
      },
      Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(CASE WHEN p_type = 'PROMO'
            THEN $revenueSql END) AS DOUBLE) AS promo_revenue,
          CAST(SUM($revenueSql) AS DOUBLE) AS total_revenue,
          ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO'
              THEN $revenueSql END) AS DOUBLE) * 100
            / CAST(SUM($revenueSql) AS DOUBLE), 6) AS promo_share_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'""")),

    // ── q128: large-volume orders — the TPC-H Q18 shape: orders whose
    //    total quantity tops 300 (p99 ≈ 262 on this corpus), with their
    //    customer. The HAVING rollup runs FIRST (orders ≪ lineitems
    //    survive), then joins orders on the same orderkey partitioning;
    //    customer broadcasts. Quantities are integral doubles — sums
    //    are FP-exact at any scale factor ───────────────────────────────
    Q("q128_large_orders",
      (s, dir) => {
        val big = Tables.lineitem(s, dir)
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).as("sum_qty"))
          .where(col("sum_qty") > 300)
        big.join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, dir)),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
        FROM (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
              FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300) big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // ── q129: disjunctive-predicate revenue — the TPC-H Q19 shape:
    //    three (brand, size-range, quantity-range) OR-branches as ONE
    //    residual predicate after the broadcast part join — no union,
    //    no second scan; the 1-row answer stays exact decimal until
    //    the cast ───────────────────────────────────────────────────────
    Q("q129_disjunctive_revenue",
      (s, dir) => {
        val branch = (col("p_brand") === "Brand#1"
            && col("p_size").between(1, 5)
            && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#12"
            && col("p_size").between(1, 10)
            && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#20"
            && col("p_size").between(1, 15)
            && col("l_quantity").between(20, 30))
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)),
            col("l_partkey") === col("p_partkey"))
          .where(branch)
          .agg(count(lit(1)).as("n_lines"),
            sum(revenueTerm).cast("double").as("revenue"))
      },
      Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
            AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 20 AND 30)""")),

    // ── q134: recent-concentration suppliers — the TPC-H Q20 shape
    //    (semi-join through a correlated-aggregate threshold), adapted
    //    to this schema (no partsupp): for ECONOMY parts, keep
    //    (supplier, part) pairs with ≥3 lines whose 2001+ shipped
    //    quantity exceeds half their all-time quantity, then semi-join
    //    suppliers and name them. ONE conditional-sum pass computes both legs (no
    //    second scan); the part filter broadcasts; the threshold
    //    compare is integer-exact (quantities ×100 in cents-style) ─────
    Q("q134_recent_concentration",
      (s, dir) => {
        val econ = Tables.part(s, dir).where(col("p_type") === "ECONOMY")
          .select("p_partkey")
        val q100 = round(col("l_quantity") * 100).cast("long")
        val pairs = Tables.lineitem(s, dir)
          .join(broadcast(econ), col("l_partkey") === col("p_partkey"))
          .groupBy("l_suppkey", "l_partkey")
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"),
              q100).otherwise(lit(0L))).as("recent_q"),
            sum(q100).as("total_q"))
          .where(col("n_lines") >= 3 && col("recent_q") * 2 > col("total_q"))
        Tables.supplier(s, dir)
          .join(pairs.select(col("l_suppkey")).distinct(),
            col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_name", "n_name")
          .orderBy("s_name")
      },
      Some("""WITH pairs AS (
          SELECT l_suppkey, COUNT(*) AS n_lines,
            SUM(CASE WHEN l_shipdate >= TIMESTAMP '2001-01-01'
                THEN CAST(ROUND(l_quantity * 100) AS BIGINT) ELSE 0 END)
              AS recent_q,
            SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS total_q
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'ECONOMY'
          GROUP BY l_suppkey, l_partkey)
        SELECT s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (SELECT l_suppkey FROM pairs
                            WHERE n_lines >= 3 AND recent_q * 2 > total_q)
        ORDER BY s_name""")),

    // ── q135: sole-late-shipper census — the TPC-H Q21 shape (the
    //    same fact joined three ways: base + EXISTS + NOT EXISTS),
    //    adapted to this schema (no commit/receipt dates): a line is
    //    LATE when it ships > 90 days after its order date; count per
    //    supplier the multi-supplier orders where it was the ONLY
    //    late shipper. All three legs shuffle on l_orderkey — the
    //    exchange is planned once and reused; supplier names
    //    broadcast at the end ────────────────────────────────────────────
    Q("q135_sole_late_shipper",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
        val late = li
          .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .select("l_orderkey", "l_suppkey").distinct()
        val others = li.select(col("l_orderkey").as("o2"),
          col("l_suppkey").as("s2"))
        val lateOthers = late.select(col("l_orderkey").as("o3"),
          col("l_suppkey").as("s3"))
        late
          .join(others, col("l_orderkey") === col("o2")
            && col("l_suppkey") =!= col("s2"), "left_semi")
          .join(lateOthers, col("l_orderkey") === col("o3")
            && col("l_suppkey") =!= col("s3"), "left_anti")
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("numwait"))
          .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_name"), col("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
      },
      Some("""WITH late AS (
          SELECT DISTINCT l_orderkey, l_suppkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY)
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name""")),

    // ── q136: dormant rich customers — the TPC-H Q22 shape (scalar
    //    subquery threshold + anti join), adapted to this schema (no
    //    phone country codes → custkey mod-7 segments; every customer
    //    has SOME order → "dormant" = no order in the last year):
    //    above-average balance (integer-cents compare: bal·n > total,
    //    exact in both engines — no avg-rounding parity risk), no
    //    order since 2000-08-01, rolled up per segment. The threshold
    //    is a 1-row broadcast; the anti join prunes to the recent
    //    orders slice before shuffling ──────────────────────────────────
    Q("q136_dormant_rich",
      (s, dir) => {
        val cents = round(col("c_acctbal") * 100).cast("long")
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), cents.as("bal_cents"))
        val thresh = cust.where(col("bal_cents") > 0)
          .agg(sum("bal_cents").as("tot"), count(lit(1)).as("n"))
        val recent = Tables.orders(s, dir)
          .where(col("o_orderdate") >= lit("2000-08-01").cast("timestamp"))
          .select("o_custkey")
        cust.crossJoin(broadcast(thresh))
          .where(col("bal_cents") * col("n") > col("tot"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy((col("c_custkey") % 7).as("segment"))
          .agg(count(lit(1)).as("numcust"),
            (sum(col("bal_cents")).cast("double") / 100.0).as("totacctbal"))
          .orderBy("segment")
      },
      Some("""WITH cust AS (
          SELECT c_custkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM customer),
        t AS (SELECT SUM(bal_cents) AS tot, COUNT(*) AS n
              FROM cust WHERE bal_cents > 0)
        SELECT c_custkey % 7 AS segment,
          CAST(COUNT(*) AS BIGINT) AS numcust,
          CAST(SUM(bal_cents) AS DOUBLE) / 100.0 AS totacctbal
        FROM cust CROSS JOIN t
        WHERE bal_cents * n > tot
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-08-01')
        GROUP BY 1 ORDER BY 1""")),

    // ── q137: CDC merge apply — the warehouse MERGE INTO semantics
    //    ChangelogSink's upsert-only compaction doesn't express: an
    //    op-coded (I/U/D) change batch replays per key in (ts, id)
    //    order, last op wins, a last D deletes the key (the faust
    //    tombstone contract as a batch merge). One key shuffle; the
    //    replay is a window rank, never a driver loop ──────────────────
    Q("q137_cdc_merge",
      (s, dir) => {
        val ops = Tables.events(s, dir)
          .select(col("user_id"), col("ts_sec"), col("event_id"),
            when(col("event_type") === "purchase", lit("D"))
              .when(col("event_type") === "click", lit("U"))
              .otherwise(lit("I")).as("op"),
            col("value"))
        graft.ops.EventOps.cdcApply(ops, Seq("user_id"),
            Seq("ts_sec", "event_id"), "op", Seq("value"))
          .orderBy("user_id")
      },
      Some(Tables.eventsCte + """,
        ops AS (
          SELECT user_id, ts_sec, event_id,
            CASE event_type WHEN 'purchase' THEN 'D'
                            WHEN 'click' THEN 'U' ELSE 'I' END AS op,
            value
          FROM e),
        r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts_sec DESC, event_id DESC) AS rk,
            COUNT(*) OVER (PARTITION BY user_id) AS n_ops
          FROM ops)
        SELECT user_id, value, CAST(n_ops AS BIGINT) AS n_ops,
          ts_sec AS last_seq
        FROM r WHERE rk = 1 AND op <> 'D'
        ORDER BY user_id""")),

    // ── q130: Z-order skipping report — would an OPTIMIZE-ZORDER
    //    rewrite pay off for (user, time) predicates? Events grid to
    //    16-bit coords (exact integer div), 256 Z-prefix chunks vs 256
    //    time-prefix chunks, min/max-box pruning against a fixed
    //    user×time rectangle — parquet row-group semantics exactly.
    //    All integers until the final amplification ratio ───────────────
    Q("q130_zorder_skipping",
      (s, dir) => graft.ops.Layout.zorderSkippingReport(
        Tables.events(s, dir).select("user_id", "ts_sec"),
        "user_id", "ts_sec",
        xLo = 10L, xHi = 30L, yLo = 1704844800L, yHi = 1705103999L),
      Some {
        val morton = (0 until 16).map(i =>
          s"(((bx >> $i) & 1) << ${2 * i}) + (((by >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        Tables.eventsCte + s""",
        b AS (SELECT MIN(user_id) AS minx, MAX(user_id) AS maxx,
                MIN(ts_sec) AS miny, MAX(ts_sec) AS maxy FROM e),
        g AS (SELECT user_id AS xv, ts_sec AS yv,
                ((user_id - minx) * 65535)
                  // (CASE WHEN maxx > minx THEN maxx - minx ELSE 1 END) AS bx,
                ((ts_sec - miny) * 65535)
                  // (CASE WHEN maxy > miny THEN maxy - miny ELSE 1 END) AS by
              FROM e CROSS JOIN b),
        m AS (SELECT xv, yv, by, ($morton) AS morton FROM g),
        u AS (
          SELECT 'zorder' AS layout, morton >> 24 AS chunk, xv, yv FROM m
          UNION ALL
          SELECT 'linear' AS layout, by >> 8 AS chunk, xv, yv FROM m),
        pc AS (SELECT layout, chunk, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 MIN(xv) AS min_x, MAX(xv) AS max_x,
                 MIN(yv) AS min_y, MAX(yv) AS max_y
               FROM u GROUP BY 1, 2),
        sc AS (SELECT layout, chunk, n_rows,
                 CASE WHEN max_x >= 10 AND min_x <= 30
                       AND max_y >= 1704844800 AND min_y <= 1705103999
                   THEN 1 ELSE 0 END AS scanned
               FROM pc),
        mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_matching FROM e
               WHERE user_id BETWEEN 10 AND 30
                 AND ts_sec BETWEEN 1704844800 AND 1705103999)
        SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(scanned) AS BIGINT) AS chunks_scanned,
          CAST(SUM(n_rows) AS BIGINT) AS rows_total,
          CAST(SUM(scanned * n_rows) AS BIGINT) AS rows_scanned,
          rows_matching,
          CASE WHEN rows_matching > 0 THEN
            ROUND(CAST(SUM(scanned * n_rows) AS DOUBLE) / rows_matching, 6)
          END AS scan_amplification
        FROM sc CROSS JOIN mt
        GROUP BY layout, rows_matching ORDER BY layout"""
      })
  )
}
