package graft.serving

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Row}

/** Refreshable in-memory point-lookup index over a table snapshot —
  * the worker-local-store parity the reference gets from RocksDB
  * (`/root/reference/faust/stores/rocksdb.py:135-478`) plus the
  * router's "the owning worker answers from local state"
  * (`faust/app/router.py:25-77`), collapsed to one driver-local map
  * because local-mode serving has exactly one worker. A real cluster
  * deployment would hold one such index per serving replica, each
  * refreshed from the same compacted changelog — the contract (serve
  * `table[k]` from memory, refresh per batch) is identical.
  *
  * `refresh()` re-runs the loader (typically
  * [[graft.streaming.ChangelogSink.readCompacted]]), collects the
  * snapshot into a `Map[keyString -> pre-rendered JSON body]`, and
  * atomically swaps it in — readers never see a partial index and
  * lookups between refreshes serve a consistent as-of view.
  * Staleness is bounded by the refresh cadence: wire `refresh()` into
  * the changelog writer's `foreachBatch` and the bound is one
  * micro-batch.
  *
  * The replicate-into-memory contract only makes sense for snapshots
  * that fit, so the row guard is part of the contract (the
  * [[graft.api.GlobalTable]] posture): a column-pruned probe counts
  * `limit(maxRows + 1)` rows FIRST and fails fast with a pointer to
  * the cold tier instead of OOMing mid-collect.
  */
final class SnapshotIndex(loader: () => DataFrame, keyCol: String,
                          maxRows: Long = 2_000_000L) extends HotIndex {

  // (key -> JSON array of row objects, version, refreshedAtMillis)
  private val state =
    new AtomicReference[(Map[String, String], Long, Long)]((Map.empty, 0L, 0L))

  /** Rebuild the index from the loader; returns the new version.
    * Synchronized: concurrent refreshes would interleave the
    * read-bump-set version sequence (lookups stay lock-free on the
    * atomic reference).
    */
  def refresh(): Long = synchronized {
    val snap = loader()
    // ONE action guards and collects: a probe-count followed by a
    // separate collect() would race a changelog batch landing between
    // the two (the collect could then exceed the guard). limit(cap)
    // bounds driver memory to maxRows+1 rows no matter how large the
    // snapshot grew; maxRows is clamped BEFORE the +1 so
    // maxRows = Long.MaxValue (the natural guard-off value) can't
    // wrap the cap to 0 and install a silently empty index
    val probeCap = (math.min(maxRows, Int.MaxValue - 1L) + 1).toInt
    val collected = snap.limit(probeCap).collect()
    require(collected.length <= maxRows,
      s"SnapshotIndex($keyCol): snapshot exceeds $maxRows rows — " +
        "serve it from the pruned-scan cold tier (TableServer without " +
        "hot=true) or shard the serving layer (TableServer.serveTableSharded)")
    val keyIdx = snap.schema.fieldIndex(keyCol)
    // NULL keys are NOT indexed: the cold tier's equality predicate
    // never matches NULL, and stringifying would conflate a NULL key
    // with a real "null" string key — the two tiers must agree
    val grouped = collected.filter(!_.isNullAt(keyIdx))
      .groupBy(_.get(keyIdx).toString)
    val m = grouped.map { case (k, rows) => k -> JsonRows.render(rows) }
    val (_, v0, _) = state.get()
    val v = v0 + 1
    state.set((m, v, System.currentTimeMillis()))
    v
  }

  /** Pure map hit — no Spark work on the request path. NULL keys are
    * never indexed (cold-tier equality parity), so they always miss.
    */
  def lookup(key: Any): Option[String] =
    if (key == null) None else state.get()._1.get(key.toString)

  /** Lookup + the (version, refreshedAtMillis) of the SAME snapshot
    * the body came from — one atomic read, so a concurrent refresh
    * can't label an old body with the new version.
    */
  def lookupWithMeta(key: Any): Option[(String, Long, Long)] = {
    if (key == null) return None
    val (m, v, at) = state.get()
    m.get(key.toString).map((_, v, at))
  }

  def version: Long = state.get()._2
  def refreshedAtMillis: Long = state.get()._3
  def size: Int = state.get()._1.size
}

/** The hot-tier contract [[graft.serving.TableServer]] serves from:
  * one in-memory index ([[SnapshotIndex]]) or a consistent-hash
  * router over several ([[ShardedSnapshotIndex]]).
  */
trait HotIndex {
  /** Rebuild from the loader(s); returns the new version. */
  def refresh(): Long
  /** Body + (version, refreshedAtMillis) of the SAME snapshot the
    * body came from, read atomically.
    */
  def lookupWithMeta(key: Any): Option[(String, Long, Long)]
  def size: Int
  /** Which shard would own this key (always 0 for a single index) —
    * the faust `table_route`/router surface: callers can learn key
    * placement without fetching the row (`faust/app/router.py:25-77`
    * routes a web request to the partition's owning worker the same
    * way).
    */
  def shardOf(key: Any): Int = 0
}

/** Key → shard routing that reproduces Spark's `xxhash64` driver-side
  * (spark-catalyst's XXH64, seed 42), so the router and the per-shard
  * snapshot slices — filtered with `pmod(xxhash64(key), nShards)` in
  * the Spark plan — can NEVER disagree about ownership. Numeric keys
  * hash as LongType, everything else as its UTF-8 string rendering;
  * the slice expression casts the key column the same way
  * (spec-asserted against Spark's own evaluation in ServingSpec).
  */
object ShardRouting {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.types.UTF8String

  def sparkXxHash64(key: Any): Long = key match {
    case l: java.lang.Long => XXH64.hashLong(l, 42L)
    case i: java.lang.Integer => XXH64.hashLong(i.longValue(), 42L)
    case s => // string rendering — the slice casts non-long keys to string
      val u = UTF8String.fromString(s.toString)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
  }

  /** `pmod(xxhash64(key), n)` — Spark's positive-modulus semantics. */
  def shardOf(key: Any, n: Int): Int = {
    val m = (sparkXxHash64(key) % n).toInt
    if (m < 0) m + n else m
  }
}

/** Consistent-hash router over N [[SnapshotIndex]] shards — the
  * faust partition-ownership model (`faust/app/router.py:25-77`
  * routes key lookups to the worker owning the key's partition;
  * here each "worker" is one shard's in-memory map), and the scale
  * path past one index's row guard: a table of `N × maxRowsPerShard`
  * rows serves hot with each shard holding only its slice. Each
  * shard's loader filters the snapshot to
  * `pmod(xxhash64(key), nShards) == i` — in a real cluster each
  * serving replica would run exactly that filtered read of the
  * shared compacted changelog (or read only the changelog partitions
  * it owns), so the local model and the deployed model are the same
  * plan per replica.
  *
  * Lookups route driver-side with [[ShardRouting]] (bit-identical to
  * the Spark-side slice hash) and hit one shard's map — still zero
  * Spark work on the request path. Version/age metadata come from
  * the OWNING shard's snapshot (shards refresh independently in
  * production; staleness is per-shard, as it is per-worker in the
  * reference).
  */
final class ShardedSnapshotIndex(loader: () => DataFrame, keyCol: String,
                                 nShards: Int, numericKey: Boolean,
                                 maxRowsPerShard: Long = 2_000_000L)
    extends HotIndex {
  require(nShards >= 1, s"nShards must be >= 1, got $nShards")

  private def slice(i: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val df = loader()
    // cast pins the hash input type to what ShardRouting replays:
    // LongType for numeric keys, StringType otherwise
    val keyExpr =
      if (numericKey) col(keyCol).cast("long") else col(keyCol).cast("string")
    df.filter(pmod(xxhash64(keyExpr), lit(nShards)) === lit(i))
  }

  private val shards: Array[SnapshotIndex] = Array.tabulate(nShards) { i =>
    new SnapshotIndex(() => slice(i), keyCol, maxRowsPerShard)
  }

  override def shardOf(key: Any): Int =
    if (key == null) 0
    else ShardRouting.shardOf(
      if (numericKey) Long.box(key.toString.toLong) else key.toString, nShards)

  def refresh(): Long = { shards.foreach(_.refresh()); shards.map(_.version).min }

  /** Refresh ONE shard (production wires each replica's refresh to
    * its own changelog partitions; the others keep serving their
    * current snapshots untouched).
    */
  def refreshShard(i: Int): Long = shards(i).refresh()

  def lookupWithMeta(key: Any): Option[(String, Long, Long)] =
    if (key == null) None else shards(shardOf(key)).lookupWithMeta(key)

  def size: Int = shards.map(_.size).sum
  def shardSizes: Seq[Int] = shards.map(_.size).toSeq
}

/** Row → JSON rendering shared by the hot index (render-at-refresh)
  * and the cold pruned-scan tier (render-per-request); [[escape]] is
  * also the escaper of Verify's oracle_sql.json.
  */
private[graft] object JsonRows {
  /** RFC 8259 string escape: backslash, quote, and EVERY control
    * char < 0x20 (named escapes for \b \t \n \f \r, \u00XX for the
    * rest) — a value containing a newline must not produce an
    * invalid body on either tier.
    */
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def render(rows: Array[Row]): String = {
    if (rows.isEmpty) return "[]"
    val fields = rows.head.schema.fieldNames
    rows.map { r =>
      fields.zipWithIndex.map { case (f, i) =>
        val v = r.get(i) match {
          case null => "null"
          case n: Number => n.toString
          case b: Boolean => b.toString
          case other => "\"" + escape(other.toString) + "\""
        }
        s""""$f":$v"""
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
  }
}
