package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.OutputMode

/** `delta(d)` / `relative_to` point reads over windowed tables — the
  * reference's `WindowSet.delta` (`faust/tables/wrappers.py:234-237`)
  * and the lookback reads SURVEY §4 lists as custom piece #3.
  *
  * Keeps the last `maxWindows` closed-window values per key in keyed
  * state, emitting for every update the current value together with
  * the value `deltaWindows` back — so a streaming consumer can compute
  * rate-of-change without a self-join. Bounded state: at most
  * `maxWindows` entries per key, pruned on every update.
  */
object WindowDeltaStore {

  /** One update of a windowed aggregate: (key, windowStart, value). */
  final case class WindowUpdate[K, V](key: K, windowStart: Long, value: V)

  /** Output: current window value + the value `deltaWindows` earlier
    * (None while insufficient history).
    */
  final case class DeltaView[K, V](key: K, windowStart: Long, value: V,
                                   deltaStart: Long, delta: Option[V])

  def deltaView[K: Encoder, V: Encoder](
      updates: Dataset[WindowUpdate[K, V]],
      windowSizeMs: Long, deltaWindows: Int, maxWindows: Int = 16)
      (implicit outEnc: Encoder[DeltaView[K, V]],
       stateEnc: Encoder[Map[Long, V]]): Dataset[DeltaView[K, V]] = {
    require(deltaWindows > 0 && maxWindows > deltaWindows)
    StatefulTable.keyed(updates, (u: WindowUpdate[K, V]) => u.key, OutputMode.Append()) {
      (key: K, st: Option[Map[Long, V]], batch: Iterator[WindowUpdate[K, V]]) =>
        var hist = st.getOrElse(Map.empty[Long, V])
        val out = batch.toSeq.sortBy(_.windowStart).map { u =>
          hist = hist.updated(u.windowStart, u.value)
          if (hist.size > maxWindows)
            hist = hist.toSeq.sortBy(-_._1).take(maxWindows).toMap
          val deltaStart = u.windowStart - deltaWindows * windowSizeMs
          DeltaView(key, u.windowStart, u.value, deltaStart, hist.get(deltaStart))
        }
        StatefulTable.Next(Some(hist), out.iterator)
    }
  }
}
