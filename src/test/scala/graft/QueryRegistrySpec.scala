package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry]] as the one list of queries: Bench's entries derived
  * from it, and the one name lookup every main uses. No Spark session.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val registry = SparkEntry.allQueries.map(_.name)

  test("bench entries: 349 distinct names, the registry minus NotBenched plus the scenarios") {
    assert(Bench.entryNames.size == 349)
    assert(Bench.entryNames.distinct == Bench.entryNames)
    assert(Bench.NotBenched.size == 3)
    Bench.NotBenched.foreach { case (name, reason) =>
      assert(registry.contains(name), s"$name is not a registered query")
      assert(!Bench.entryNames.contains(name), s"$name is benched")
      assert(reason.nonEmpty)
    }
    assert(Bench.Scenarios == Seq("b01_consume_baseline", "b02_forward",
      "b03_stream_windowed", "b04_bucketed_multi_join", "b05_point_lookups",
      "b06_sharded_lookups"))
    assert(Bench.entryNames.takeRight(6) == Bench.Scenarios)
    assert(Bench.entryNames.dropRight(6) == registry.filterNot(Bench.NotBenched.contains))
  }

  test("select: None is every query in registry order") {
    assert(SparkEntry.select(None).map(_.name) == registry)
  }

  test("select: trims, drops empty items, keeps registry order") {
    val picked = SparkEntry.select(Some(" q02_agg_table , ,q01_filter_project,"))
    assert(picked.map(_.name) == Seq("q01_filter_project", "q02_agg_table"))
  }

  test("select: an unknown name fails and is named in the message") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_filter_projec,q02_agg_table")))
    assert(e.getMessage.contains("q01_filter_projec"))
    assert(!e.getMessage.contains("q02_agg_table"))
  }

  test("select: a list that names nothing fails") {
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
  }

  test("selectFrom over bench entries admits scenarios, rejects NotBenched") {
    val picked = SparkEntry.selectFrom(
      Some("b05_point_lookups,d21_cluster_representative,q01_filter_project"),
      Bench.entryNames)(identity)
    assert(picked == Seq("q01_filter_project", "d21_cluster_representative",
      "b05_point_lookups"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectFrom(Some("d02_dedup_jaccard"), Bench.entryNames)(identity))
    assert(e.getMessage.contains("d02_dedup_jaccard"))
  }
}
