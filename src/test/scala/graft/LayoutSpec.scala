package graft

import org.apache.spark.sql.functions._

import graft.ops.Layout

class LayoutSpec extends SparkTestBase {

  import spark.implicits._

  test("bucketed-bucketed equi-join plans without a shuffle exchange") {
    // warehouse dir is a static conf — default ./spark-warehouse under
    // the build dir is fine for the test tables; clear stale locations
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    Layout.writeBucketed(Tables.orders(spark, sf), "orders_b", "o_orderkey", 8)
    Layout.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 8)
    // at dim-sized data the planner rightly prefers broadcast; turn it
    // off to expose the bucketed (big-big) join path this test is about
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), "o_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not reshuffle:\n$plan")
      // and the result is correct
      assert(joined.count() == Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("groupBy on the bucket key aggregates without a shuffle exchange") {
    // bucketed scans report hash distribution on the bucket column, so
    // a groupBy on it needs only the final (in-place) aggregation —
    // the repeated-agg counterpart of the co-located join story
    spark.sql("DROP TABLE IF EXISTS orders_agg_b")
    val loc = new java.io.File("spark-warehouse/orders_agg_b")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    Layout.writeBucketed(Tables.orders(spark, sf), "orders_agg_b", "o_custkey", 8)
    val agg = spark.table("orders_agg_b")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed groupBy must not reshuffle:\n$plan")
    // same result as the unbucketed plan
    val expect = Tables.orders(spark, sf).groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
    assert(agg.except(expect).isEmpty && expect.except(agg).isEmpty)
  }

  test("native as-of join on bucketed layout plans without exchanges") {
    Seq("ev_left_b", "ev_right_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val e = Tables.events(spark, sf)
    Layout.writeBucketed(
      e.where($"event_type" === "purchase")
        .select($"user_id", $"ts_sec", $"event_id"),
      "ev_left_b", "user_id", 8)
    Layout.writeBucketed(
      e.where($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts_sec".as("c_ts"),
          $"event_id".as("c_id")),
      "ev_right_b", "c_user", 8)
    val joined = graft.ops.AsOfJoin.joinNative(
      spark.table("ev_left_b"), spark.table("ev_right_b"),
      "user_id", "ts_sec", "c_user", "c_ts")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), plan)
    // ClusteredDistribution is satisfied by the bucket layout: sorts
    // remain (ts ordering), but no shuffle on either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed as-of join must not reshuffle:\n$plan")
    assert(joined.count() == spark.table("ev_left_b").count())
  }

  test("partitioned layout: predicate prunes partitions at planning time") {
    val dir = Sessions.tempDir("graft-part").toString
    Layout.writePartitioned(Tables.documents(spark, sf), dir, Seq("source"))
    val pruned = spark.read.parquet(dir).where($"source" === "src3")
    // the partition filter appears in the scan node, not as a data filter
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("source"), scan)
    // and it actually reads fewer files than the full scan
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().map(_.metrics)
        .flatMap(_.get("numFiles").map(_.value)).sum
    }
    val full = filesRead(spark.read.parquet(dir))
    val one = filesRead(spark.read.parquet(dir).where($"source" === "src3"))
    assert(one < full, s"pruned scan read $one of $full files")
    // correctness: same rows as a post-scan filter on the flat table
    val expect = Tables.documents(spark, sf).where($"source" === "src3")
      .select("doc_id").as[Long].collect().toSet
    val got = pruned.select("doc_id").as[Long].collect().toSet
    assert(got == expect)
  }

  test("salted join matches unsalted join results") {
    val big = Tables.events(spark, sf).select($"user_id", $"event_id", $"value")
    val small = Tables.events(spark, sf).groupBy($"user_id")
      .agg(count(lit(1)).as("user_total"))
    val plain = big.join(small, Seq("user_id"))
      .select($"event_id", $"user_total").as[(Long, Long)].collect().toSet
    val salted = Layout.saltedJoin(big, small, "user_id", "event_id", 4)
      .select($"event_id", $"user_total").as[(Long, Long)].collect().toSet
    assert(salted == plain)
  }

  test("salting spreads a hot key across partitions (skew evidence)") {
    // 90%-skewed key: partitioning on the raw key puts ~all rows in
    // one shuffle partition; partitioning on (key, salt) spreads them
    val n = 10000
    val skewed = spark.range(n)
      .select(when($"id" % 10 === 0, $"id" % 100).otherwise(lit(7L)).as("k"),
        $"id".as("rid"))
    def maxShare(df: org.apache.spark.sql.DataFrame): Double = {
      val counts = df.groupBy(spark_partition_id().as("p"))
        .agg(count(lit(1)).as("c"))
        .select("c").as[Long].collect()
      counts.max.toDouble / counts.sum
    }
    val plainShare = maxShare(skewed.repartition(8, $"k"))
    val saltFactor = 8
    val saltedShare = maxShare(skewed
      .withColumn("_salt", pmod(xxhash64($"rid"), lit(saltFactor)).cast("int"))
      .repartition(8, $"k", $"_salt"))
    assert(plainShare > 0.85, s"fixture must be skewed: $plainShare")
    assert(saltedShare < plainShare / 2,
      s"salting must halve the hottest partition: $saltedShare vs $plainShare")
  }

  test("skewReport: flags the hot key, top-k via TakeOrderedAndProject") {
    // 90 rows of "hot", 10 singletons → 11 keys, mean ≈ 9.09
    val df = (Seq.fill(90)("hot") ++ (1 to 10).map(i => s"k$i")).toDF("key")
    val report = Layout.skewReport(df, "key", k = 3)
    val rows = report.collect()
    assert(rows.length == 3 && rows.head.getString(0) == "hot")
    assert(rows.head.getLong(1) == 90)
    assert(math.abs(rows.head.getDouble(2) - 0.9) < 1e-6)        // share
    assert(math.abs(rows.head.getDouble(3) - 9.9) < 1e-6)        // 90/(100/11)
    // top-k must plan as TakeOrderedAndProject (k rows per partition),
    // never a global Sort
    val plan = report.queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
