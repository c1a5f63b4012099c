package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CoreQueries, PipelineQueries, Q, SourceQueries, TextQueries, VectorQueries, WebQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the
  * dedup/similarity/text-analysis extension surface) is exposed as a
  * named query; `oracleSql` carries the DuckDB-equivalent SQL for the
  * driver's correctness gate where the op is SQL-expressible.
  *
  * [[allQueries]] is the one list of queries: [[queries]],
  * [[oracleSql]], [[Bench]] and every tool read it, and pick from it by
  * name through [[select]].
  */
object SparkEntry {

  val allQueries: Seq[Q] =
    CoreQueries.all ++ TextQueries.all ++ VectorQueries.all ++
      PipelineQueries.all ++ WebQueries.all ++ SourceQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allQueries.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The queries named in `csv`, a comma-separated list, in registry
    * order; every query when `csv` is None.
    */
  def select(csv: Option[String]): Seq[Q] = selectFrom(csv, allQueries)(_.name)

  /** The items of `among` named in `csv`, in `among`'s order; all of
    * them when `csv` is None. Names are trimmed and empty ones dropped.
    * A name not in `among`, or a list that names nothing, throws an
    * IllegalArgumentException that lists the offending names, so a
    * typo fails the run instead of selecting nothing.
    */
  def selectFrom[A](csv: Option[String], among: Seq[A])(name: A => String): Seq[A] =
    csv.fold(among) { s =>
      val picked = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = picked -- among.map(name)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      if (picked.isEmpty) throw new IllegalArgumentException(
        s"the selection '$s' names nothing")
      among.filter(a => picked(name(a)))
    }
}
