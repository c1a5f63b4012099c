package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.core.WindowSpec
import graft.streaming.WindowedStream

/** The faust `Table` surface (`/root/reference/faust/tables/table.py`,
  * `tables/base.py`) re-expressed declaratively: a table is the
  * aggregation of a keyed stream, not a mutable dict. The changelog
  * topic, RocksDB store, standbys and recovery
  * (`tables/base.py:253-345`, `tables/recovery.py`) are replaced by
  * Spark state stores + checkpointing; external queryability comes
  * from [[graft.streaming.ChangelogSink]].
  *
  * `default=`-style zero values (`table.py:49-52`) live in the fold's
  * zero; arbitrary folds (`table.py:57-61`) in [[GTable.fold]];
  * algebraic aggs should use [[GTable.agg]] (partial aggregation =
  * map-side combine, the scale path).
  */
object GTable {

  /** Declarative aggregation table: `table[k] = f(table[k], v)` where
    * f is algebraic — lowers to groupBy(...).agg(...) with map-side
    * partial aggregation. THE preferred form at 100 TB.
    */
  def agg(stream: GStream[_], keyCols: Seq[Column], aggs: Seq[Column]): DataFrame =
    stream.ds.toDF().groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)

  /** Arbitrary-fold table for non-algebraic per-key state
    * (list-append, custom structs — `examples/windowed_aggregation.py:63-67`).
    * Events are folded in `orderOf` order within each key, matching
    * the reference's per-partition arrival-order fold. Shuffles once
    * on the key.
    *
    * Spill note: `mapGroups` buffers each key's GROUP in memory to
    * sort it (the fold RESULT mirrors the reference's per-key value
    * and must fit regardless). Skewed keys with huge groups should
    * use [[foldSorted]], which pushes the ordering into Spark's
    * spillable shuffle sort and streams each group through the fold.
    */
  def fold[T, K: Encoder, V](stream: GStream[T])(key: T => K, orderOf: T => Long)
                            (zero: V)(op: (V, T) => V)
                            (implicit kvEnc: Encoder[(K, V)]): Dataset[(K, V)] =
    stream.ds.groupByKey(key).mapGroups { (k, it) =>
      val sorted = it.toVector.sortBy(orderOf)
      k -> sorted.foldLeft(zero)(op)
    }

  /** [[fold]] via secondary sort — the spill-safe variant: repartition
    * on the key, `sortWithinPartitions(key, order)` (Spark's external
    * sorter spills, so a key's group never has to fit in memory), then
    * stream consecutive same-key runs through the fold with an
    * iterator. Same contract and result as [[fold]]; per-key memory is
    * O(fold state), not O(group).
    */
  def foldSorted[T, K, V](stream: GStream[T])(key: T => K, orderOf: T => Long)
                         (zero: V)(op: (V, T) => V)
                         (implicit ktEnc: Encoder[(K, Long, T)],
                          kvEnc: Encoder[(K, V)]): Dataset[(K, V)] = {
    val keyed = stream.ds.map(t => (key(t), orderOf(t), t))
    keyed.repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(K, V)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (K, V) = {
            val k = buf.head._1
            var acc = zero
            while (buf.hasNext && buf.head._1 == k) {
              acc = op(acc, buf.next()._3)
            }
            k -> acc
          }
        }
      }
  }

  /** Typed Aggregator bridge: register-and-use a custom
    * `Aggregator[IN, BUF, OUT]` as a column (faust's arbitrary fold
    * with algebraic merge — keeps map-side combine).
    */
  def aggregatorColumn[IN: Encoder, BUF, OUT](agg: Aggregator[IN, BUF, OUT]): Column =
    agg.toColumn.asInstanceOf[Column]

  /** Windowed-table wrapper factory (faust `table.tumbling/...`,
    * `tables/table.py:31-47`). Sets no watermark, whatever
    * `spec.expires` says; [[graft.streaming.WindowedStream.windowedAgg]]
    * is the watermarked form.
    */
  def windowed(stream: GStream[_], spec: WindowSpec, tsCol: Column,
               keyCols: Seq[Column], aggs: Seq[Column]): DataFrame =
    stream.ds.toDF()
      .groupBy(WindowedStream.windowColumn(spec, tsCol).as("window") +: keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Point lookup on a table snapshot (the serving path replacing
    * faust's `table[k]` / `@table_route`, `faust/app/router.py:25-77`).
    * Predicate-pushdown makes this a pruned scan, not a full read.
    */
  def lookup(snapshot: DataFrame, keyCol: String, key: Any): Array[org.apache.spark.sql.Row] =
    snapshot.where(col(keyCol) === lit(key)).collect()
}

/** GlobalTable (`/root/reference/faust/app/base.py:1135-1216`): a
  * table replicated to every worker. On Spark: broadcast the snapshot
  * — every executor gets the full copy, exactly the reference's
  * standby-on-all-partitions semantics without the changelog tailing.
  */
object GlobalTable {
  /** Broadcast-join a stream against a global table snapshot.
    *
    * The replicate-everywhere contract only makes sense for snapshots
    * that fit on every executor, so the row guard is part of the
    * contract: a snapshot past `maxRows` fails fast with a pointer to
    * the scale path (plain shuffle join, or `Layout` bucketing for
    * repeated co-located joins) instead of OOMing mid-broadcast. The
    * probe is a column-pruned `limit(maxRows+1)` count — it never
    * scans more than maxRows+1 rows.
    */
  def join(stream: GStream[_], snapshot: DataFrame, joinCols: Seq[String],
           joinType: String = "inner", maxRows: Long = 10000000L): DataFrame = {
    val probe = snapshot.select(joinCols.map(col): _*)
      .limit((maxRows + 1).min(Int.MaxValue).toInt).count()
    require(probe <= maxRows,
      s"GlobalTable snapshot exceeds $maxRows rows — a table this size " +
        "should not be replicated to every executor; use a plain " +
        "(shuffle) join or graft.ops.Layout bucketing for co-location")
    stream.ds.toDF().join(broadcast(snapshot), joinCols, joinType)
  }
}

/** SetTable (`/root/reference/faust/tables/sets.py:69-314`): per-key
  * exact sets. ADD/DISCARD deltas become rows with an `op` column;
  * the materialized set is an aggregation. Cardinality-only readers
  * should use approx_count_distinct (HLL++) at scale.
  */
object SetTable {

  val OpAdd = "ADD"
  val OpDiscard = "DISCARD"

  /** Materialize per-key sets from an (key, member, op) delta stream:
    * a member is present iff its last delta (by `orderCol`) is ADD —
    * matching the reference's set-manager semantics
    * (`sets.py:136-267`) declaratively.
    */
  def materialize(deltas: DataFrame, keyCol: String, memberCol: String,
                  opCol: String, orderCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol), col(memberCol)).orderBy(col(orderCol).desc)
    deltas.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1 && col(opCol) === OpAdd)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_set(col(memberCol))).as("members"),
        count(lit(1)).as("cardinality"))
  }

  /** Plain add-only set table: groupBy + collect_set. */
  def fromStream(stream: GStream[_], keyCol: Column, memberCol: Column): DataFrame =
    stream.ds.toDF().groupBy(keyCol)
      .agg(sort_array(collect_set(memberCol)).as("members"),
        countDistinct(memberCol).as("cardinality"))
}
