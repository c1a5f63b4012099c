package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.ops.{GraphOps, TextOps}

/** Pin lifetimes, read off the shared session's persistent-RDD table:
  * every case compares the set of persisted RDD ids with its value
  * before the scope under test. Each test body already runs inside the
  * test base's own scope, so "outside any scope" is a fresh thread.
  */
class PinSpec extends SparkTestBase {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def edges: DataFrame =
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("u", "v")

  test("labelPropagation keeps only the result's pin") {
    val weighted = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0), (4L, 5L, 2.0))
      .toDF("u", "v", "w")
    val before = persisted
    assert(GraphOps.labelPropagation(weighted, rounds = 3).count() == 5)
    assert((persisted -- before).size == 1, persisted -- before)
  }

  test("a scope around clusterRepresentatives ends where it started") {
    val docs = Tables.documents(spark, sf)
    val before = persisted
    val n = Pin.scope {
      TextOps.clusterRepresentatives(docs, "doc_id", "text", Seq("the", "a", "of"))
        .count()
    }
    assert(n > 0)
    assert(persisted == before)
  }

  test("a scope around connectedComponents ends where it started") {
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val before = persisted
    val labels = Pin.scope {
      GraphOps.connectedComponents(edges, nodes).as[(Long, Long)].collect().toMap
    }
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    assert(persisted == before)
  }

  // q96 pins lazily; the rest run iterative ops (BPE merge rounds, MMR
  // selection rounds, graph power iteration) that pin per round
  test("a scope around a lazily pinned query ends where it started") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // start from an empty CacheManager, whatever earlier suites left
    spark.catalog.clearCache()
    val leaks = Seq("q96_rfm_segments", "t22_bpe_segment",
        "t44_tokenizer_fertility", "s27_mmr_rerank", "u06_domain_pagerank",
        "u07_hits", "u12_domain_communities", "u13_triangle_census").flatMap { name =>
      val before = persisted
      assert(Pin.scope(SparkEntry.queries(name)(spark, sf).count()) > 0, name)
      val after = persisted
      val cached = !cacheManager.isEmpty
      spark.catalog.clearCache()
      if (after == before && !cached) None
      else Some(s"$name: ${(after -- before).size} persisted RDD(s) left, CacheManager " +
        (if (cached) "not empty" else "empty"))
    }
    if (leaks.nonEmpty) fail(leaks.mkString("; "))
  }

  test("every cache and checkpoint in src/main goes through Pin") {
    val banned = """\.persist\(|\.cache\(\)|StorageLevel|localCheckpoint\(""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val hits = try files.iterator().asScala
        .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Pin.scala")
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if banned.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
          }
        }.toList
      finally files.close()
    if (hits.nonEmpty) fail(hits.mkString("\n"))
  }

  test("a body that throws still releases its pins") {
    val before = persisted
    intercept[IllegalStateException] {
      Pin.scope {
        assert(Pin(spark.range(10).toDF("id")).count() == 10)
        assert(persisted != before)
        throw new IllegalStateException("boom")
      }
    }
    assert(persisted == before)
  }

  test("a nested scope releases only its own pins") {
    val before = persisted
    Pin.scope {
      val outer = Pin(spark.range(100).toDF("id"))
      val withOuter = persisted
      assert(withOuter.size == before.size + 1)
      Pin.scope(assert(Pin(outer.where($"id" < 50)).count() == 50))
      assert(persisted == withOuter)
      assert(outer.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == 4950)
    }
    assert(persisted == before)
  }

  test("a pin made outside any scope is not released") {
    val before = persisted
    var unscoped: DataFrame = null
    val t = new Thread(() => {
      unscoped = Pin(spark.range(30).toDF("id"))
      Pin.scope(Pin(spark.range(5).toDF("id")).count())
    })
    t.start(); t.join()
    val left = persisted -- before
    assert(left.size == 1, left)
    assert(unscoped.count() == 30)
    Pin.release(unscoped)
    assert(persisted == before)
  }

  test("Pin.release drops a renamed pin's blocks, and refuses a non-pin") {
    val before = persisted
    val renamed = Pin(Seq((1L, "a"), (2L, "b")).toDF("id", "s")).toDF("id_a", "s_a")
    assert(renamed.count() == 2)
    assert((persisted -- before).size == 1)
    Pin.release(renamed)
    assert(persisted == before)
    intercept[IllegalArgumentException](Pin.release(Tables.nation(spark, sf)))
  }
}
