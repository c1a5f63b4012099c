package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{HoppingWindow, SlidingWindow, TumblingWindow, WindowSpec}

/** Structured-Streaming windowed aggregation with faust's windowed
  * table semantics (`/root/reference/faust/tables/wrappers.py`,
  * `tables/base.py:347-403`):
  *
  *  - window assignment per [[graft.core.WindowSpec]] (tumbling /
  *    hopping), identical ranges to the reference modulo the
  *    half-open-end normalization;
  *  - `expires` → `withWatermark`: late events within expiry still
  *    update their (old) windows — the same contract as the
  *    reference's `ranges()`-regardless-of-lateness + TTL cleanup
  *    (`tables/base.py:385-393`);
  *  - `on_window_close` (`tables/base.py:377-379`) → **append** output
  *    mode: a window's single final row is emitted exactly when the
  *    watermark passes its end. Firing *time* differs from the
  *    reference (global watermark vs per-partition stream time) but
  *    final values match — which is what the consistency oracle
  *    compares (SURVEY §7.5.3).
  */
object WindowedStream {

  /** Build the windowed groupBy for a (possibly streaming) frame. */
  def windowedAgg(df: DataFrame, tsCol: String, spec: WindowSpec,
                  keyCols: Seq[Column], aggs: Seq[Column]): DataFrame = {
    val base = spec.expires match {
      case Some(exp) => df.withWatermark(tsCol, s"$exp milliseconds")
      case None      => df
    }
    base.groupBy(windowColumn(spec, col(tsCol)).as("window") +: keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The one lowering of a tumbling or hopping spec to `window(ts, …)`. */
  def windowColumn(spec: WindowSpec, ts: Column): Column = spec match {
    case TumblingWindow(size, _) => window(ts, s"$size milliseconds")
    case HoppingWindow(size, step, _) =>
      window(ts, s"$size milliseconds", s"$step milliseconds")
    case SlidingWindow(_, _, _) =>
      throw new IllegalArgumentException(
        "sliding windows are record-relative: use an interval self-join " +
          "(see CoreQueries q09_interval_join) or session_window")
  }

  /** `on_window_close` view (`tables/base.py:377-379`): the same
    * aggregation with the output mode ENFORCED in code — returns a
    * writer already set to `append`, so rows appear once, final,
    * after the watermark passes window end; a caller can't
    * accidentally consume it in update mode. Requires `spec.expires`
    * (the watermark delay — append mode needs a watermark to ever
    * emit). For the per-mutation changelog view (update mode), use
    * [[windowedAgg]] directly and pick `outputMode("update")` at the
    * writer.
    */
  def onWindowClose(df: DataFrame, tsCol: String, spec: WindowSpec,
                    keyCols: Seq[Column], aggs: Seq[Column])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(spec.expires.isDefined,
      "on_window_close needs expires (watermark delay)")
    windowedAgg(df, tsCol, spec, keyCols, aggs)
      .writeStream.outputMode("append")
  }
}
