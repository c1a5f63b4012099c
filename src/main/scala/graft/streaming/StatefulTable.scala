package graft.streaming

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions.{struct, timestamp_seconds}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming keyed state — the faust Table write path
  * (`faust/tables/table.py:60-87`,
  * `tables/base.py:253-345`) on Spark's keyed-state machinery.
  *
  * Every keyed store in the engine goes through [[keyed]]: it owns the
  * one `flatMapGroupsWithState` call, the timeout mode, the expiry
  * branch and the deadline clamp, so a store's own code is only its
  * pure per-key step (old state + batch → new state, rows, deadline).
  * Expiry is faust's `_clean_data`/`_del_old_keys`
  * (`tables/base.py:347-403`) in one place. State lives in the
  * configured state store (RocksDB in production:
  * `spark.sql.streaming.stateStore.providerClass`); recovery is
  * checkpoint restore — the entire `tables/recovery.py` machinery is
  * deleted.
  */
object StatefulTable {

  /** When a key's state expires. */
  sealed trait Expiry
  object Expiry {
    /** State lives until the step frees it. */
    case object Never extends Expiry

    /** A key expires once the watermark passes the deadline its step
      * returned. `eventSeconds` is each input row's event time in epoch
      * seconds, over the input's encoder field names (`_1`, `_2`, … for
      * a tuple); the watermark on it has no delay.
      */
    final case class EventTime(eventSeconds: Column) extends Expiry

    /** A key expires `ttl` of processing time after its last update. */
    final case class ProcessingTime(ttl: java.time.Duration) extends Expiry

    /** [[EventTime]] when there is a horizon to expire against, else
      * [[Never]].
      */
    def eventTime(horizon: Option[Long], eventSeconds: => Column): Expiry =
      if (horizon.isDefined) EventTime(eventSeconds) else Never
  }

  /** One key's step over one batch: its next state (`None` frees the
    * slot), the rows to emit and, under [[Expiry.EventTime]], the epoch
    * second at which the key expires.
    */
  final case class Next[S, O](state: Option[S], rows: Iterator[O],
                              expiresAt: Option[Long] = None)

  /** One keyed store. Groups `ds` by `key` and runs `step` on
    * each key's state and batch (the batch is an iterator: a step may
    * fold it without materializing the group). A key that expires
    * emits `expired(key, state)`, then its state is removed. An
    * event-time deadline never lands at or behind the watermark: it is
    * clamped to one millisecond past it.
    */
  def keyed[I, K: Encoder, S: Encoder, O: Encoder](
      ds: Dataset[I], key: I => K, mode: OutputMode,
      expiry: Expiry = Expiry.Never)(
      step: (K, Option[S], Iterator[I]) => Next[S, O],
      expired: (K, S) => Iterator[O] = (_: K, _: S) => Iterator.empty)
      : Dataset[O] = {
    val eventTime = expiry.isInstanceOf[Expiry.EventTime]
    val ttlMs = expiry match {
      case Expiry.ProcessingTime(ttl) => Some(ttl.toMillis)
      case _ => None
    }
    val timeout = expiry match {
      case Expiry.Never => GroupStateTimeout.NoTimeout
      case _: Expiry.EventTime => GroupStateTimeout.EventTimeTimeout
      case _: Expiry.ProcessingTime => GroupStateTimeout.ProcessingTimeTimeout
    }
    def run(k: K, rows: Iterator[I], state: GroupState[S]): Iterator[O] =
      if (state.hasTimedOut) {
        val out = expired(k, state.get)
        state.remove()
        out
      } else {
        val next = step(k, state.getOption, rows)
        next.state match {
          case Some(s) =>
            state.update(s)
            ttlMs.foreach(state.setTimeoutDuration)
            if (eventTime) next.expiresAt.foreach { sec =>
              state.setTimeoutTimestamp(
                math.max(sec * 1000L, state.getCurrentWatermarkMs() + 1L))
            }
          case None => state.remove()
        }
        next.rows
      }
    def drive[X](grouped: KeyValueGroupedDataset[K, X])(
        rows: Iterator[X] => Iterator[I]): Dataset[O] =
      grouped.flatMapGroupsWithState[S, O](mode, timeout) { (k, xs, state) =>
        run(k, rows(xs), state)
      }
    expiry match {
      case Expiry.EventTime(eventSeconds) =>
        // the watermarked column must stay in the grouped plan's output,
        // so each row travels as (row, event_time)
        val fields = ds.encoder.schema.fieldNames.toIndexedSeq
        val named = ds.toDF(fields: _*)
        val timed = named
          .select(struct(fields.map(named.col): _*).as("row"),
            timestamp_seconds(eventSeconds).as("event_time"))
          .withWatermark("event_time", "0 seconds")
          .as(Encoders.tuple(ds.encoder, Encoders.TIMESTAMP))
        drive(timed.groupByKey(r => key(r._1)))(_.map(_._1))
      case _ =>
        drive(ds.groupByKey(key))(xs => xs)
    }
  }

  /** Running fold over a keyed stream. Emits `(key, newState)` for
    * every key touched in the batch.
    *
    * @param ttl optional state expiry (processing-time), the analog of
    *            table `expires` cleanup (`tables/base.py:347-403`)
    */
  def runningFold[T, K: Encoder, V: Encoder](
      ds: Dataset[T], key: T => K)(zero: V)(op: (V, T) => V)
      (ttl: Option[java.time.Duration] = None)
      (implicit kvEnc: Encoder[(K, V)]): Dataset[(K, V)] =
    keyed(ds, key, OutputMode.Update(),
        ttl.fold[Expiry](Expiry.Never)(Expiry.ProcessingTime)) {
      (k: K, st: Option[V], events: Iterator[T]) =>
        val next = events.foldLeft(st.getOrElse(zero))(op)
        Next(Some(next), Iterator.single(k -> next))
    }
}
