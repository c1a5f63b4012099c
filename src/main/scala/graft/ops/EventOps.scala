package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Pin
import graft.streaming.StatefulTable
import graft.streaming.StatefulTable.{Expiry, Next}

/** Event-sequence analytics over the events stream — the funnel /
  * conversion-path operators a product-analytics pipeline runs on the
  * same engine the training pipeline does.
  *
  * Reference behavior: faust has no funnel operator — its apps
  * hand-roll the shape with a per-key Table incremented by an agent
  * (the pageviews playbook pattern,
  * `docs/playbooks/pageviews.rst:76-92`: `app.Table` + an agent
  * folding each event into per-key state). [[funnelSteps]] is that
  * semantics as one declarative batch plan; [[funnelStepsStream]] is
  * the literal stateful-table analog on Structured Streaming.
  */
object EventOps {

  /** Ordered-funnel timestamps per user: for `steps = Seq(a, b, c)`,
    * each user's earliest `a`, then the earliest `b` STRICTLY AFTER
    * that `a`, then the earliest `c` strictly after that `b` — the
    * standard conversion-funnel semantics (a click before the view
    * does not convert; re-orderings never count backwards in time).
    * Output: one row per user who entered the funnel (has step 1),
    * with `<step>_ts` columns, null where the user never reached the
    * step.
    *
    * Scale shape: one bounded groupBy per step on the SAME user key —
    * every shuffle is hash-partitioned on `userCol`, so the planner
    * reuses the exchange, and each step's input is pre-filtered to
    * one event type and semi-bounded by the previous step's
    * survivors. No windows, no per-user sorted state — at 100 TB the
    * cost is `steps` narrow-key partial aggs, not an event sort.
    */
  def funnelSteps(df: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, steps: Seq[String],
                  within: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    require(within.forall(_ > 0), "conversion window must be positive")
    val firstCol = s"${steps.head}_ts"
    val first = df.where(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as(firstCol))
    steps.drop(1).foldLeft((first, firstCol)) {
      case ((acc, prev), st) =>
        // conversion window (when set) is anchored at the FIRST step —
        // the standard "converted within N of entering" semantics
        val inWindow = within.map(w => col(tsCol) <= col(firstCol) + w)
          .getOrElse(lit(true))
        val carry = (Seq(userCol, firstCol) ++
          (if (prev == firstCol) Nil else Seq(prev))).map(col)
        val nxt = df.where(col(typeCol) === st)
          .join(acc.select(carry: _*), Seq(userCol))
          .where(col(tsCol) > col(prev) && inWindow)
          .groupBy(col(userCol)).agg(min(col(tsCol)).as(s"${st}_ts"))
        (acc.join(nxt, Seq(userCol), "left"), s"${st}_ts")
    }._1
  }

  /** Batch sessionization — gap-based session assignment over
    * HISTORICAL events: a session breaks where the per-user gap
    * exceeds `gapSeconds` (`session_window`'s semantics — q27's
    * streaming flavor — replayed over bounded data, which the
    * streaming operator cannot do for a backfill). One row per
    * (user, session) with bounds and event count.
    *
    * Scale shape: both windows partition by `userCol` and share ONE
    * shuffle + sort (same partitioning and ordering); per-user data
    * is small by construction, so the sort never sees a partition
    * bigger than one user's history. The final groupBy partial-aggs
    * on (user, session).
    */
  def sessionize(df: DataFrame, userCol: String, tsCol: String,
                 idCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, "gap must be positive")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val prev = lag(col(tsCol), 1).over(w)
    val brk = when(prev.isNull || col(tsCol) - prev > gapSeconds, 1L)
      .otherwise(0L)
    df.withColumn("__graft_sess_brk", brk)
      .withColumn("session_id", sum(col("__graft_sess_brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_id"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Top session ENTRY paths — the first 3 event types of every
    * session (the "how do journeys start" report; [[transitionMatrix]]
    * counts all pairwise steps, this counts the opening sequences).
    * Sessions use [[sessionize]]'s gap rule. Shorter sessions yield
    * shorter paths (concat_ws skips the missing steps on both
    * engines).
    *
    * Scale shape: ONE user-key window shuffle — the session id, the
    * break flag, and the same-session-guarded leads all ride the same
    * (user)(ts, id) window spec; the path census is ≤ |types|^depth
    * rows and the top-k cut plans as TakeOrderedAndProject.
    */
  def sessionEntryPaths(df: DataFrame, userCol: String, typeCol: String,
                        tsCol: String, idCol: String, gapSeconds: Long,
                        topK: Int = 10): DataFrame = {
    require(gapSeconds > 0 && topK > 0, "positive gap/topK")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val prev = lag(col(tsCol), 1).over(w)
    val brk = when(prev.isNull || col(tsCol) - prev > gapSeconds, 1L)
      .otherwise(0L)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSess = df.withColumn("__graft_path_brk", brk)
      .withColumn("__graft_path_sess",
        sum(col("__graft_path_brk")).over(cum))
    val sess = col("__graft_path_sess")
    val t2 = when(lead(sess, 1).over(w) === sess,
      lead(col(typeCol), 1).over(w))
    val t3 = when(lead(sess, 2).over(w) === sess,
      lead(col(typeCol), 2).over(w))
    withSess
      .withColumn("__graft_path_t2", t2)
      .withColumn("__graft_path_t3", t3)
      .where(col("__graft_path_brk") === 1L)
      .select(concat_ws(">", col(typeCol), col("__graft_path_t2"),
        col("__graft_path_t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Within-session transition matrix — the Markov path-analysis
    * report next to [[sessionize]]: for every consecutive event pair
    * of the same user with gap ≤ `gapSeconds` (the same session-break
    * rule as sessionize), count (prev_type → next_type) transitions
    * and the per-source transition probability. Feeds journey/sankey
    * views and drop-off analysis; the q60 funnel counts ONE ordered
    * path, this counts them all.
    *
    * Scale shape: ONE user-key window shuffle (lag over (ts, id) —
    * the sessionize order), then a types²-bounded pair groupBy and a
    * #types-row totals broadcast for the probabilities. Probabilities
    * are single fixed-order divisions of exact counts.
    */
  def transitionMatrix(df: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, idCol: String,
                       gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, "gap must be positive")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = df
      .withColumn("__graft_prev_type", lag(col(typeCol), 1).over(w))
      .withColumn("__graft_prev_ts", lag(col(tsCol), 1).over(w))
      .where(col("__graft_prev_type").isNotNull &&
        col(tsCol) - col("__graft_prev_ts") <= gapSeconds)
      .groupBy(col("__graft_prev_type").as("prev_type"),
        col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val totals = pairs.groupBy("prev_type")
      .agg(sum(col("n_transitions")).as("__graft_total"))
    pairs.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("__graft_total"))
          .as("p_transition"))
  }

  /** Time-weighted average value per key — the usage/billing
    * statistic over a step function: each event's `value` holds until
    * the key's next event, and the average weights each value by how
    * long it held. Plain AVG answers "average of the readings";
    * this answers "average of the SIGNAL" — the difference whenever
    * sampling is irregular (exactly the metering/price-feed case).
    * Keys with a single event have zero observed span and are
    * dropped (no duration to weight over).
    *
    * Exactness: `value` is 2-dp — the value×duration products and
    * their sums run in DECIMAL (exact at any summation order, the
    * q47 contract); the final divide is one IEEE op. Scale shape: one
    * user-key window shuffle (lead over (ts, id)), then a per-key
    * partial agg.
    */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
                      idCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    df.withColumn("__graft_twa_next", lead(col(tsCol), 1).over(w))
      .where(col("__graft_twa_next").isNotNull)
      .withColumn("__graft_twa_dur", col("__graft_twa_next") - col(tsCol))
      .groupBy(col(keyCol))
      .agg(sum(col(valueCol).cast("decimal(18,2)") * col("__graft_twa_dur"))
        .as("__graft_twa_vs"),
        sum(col("__graft_twa_dur")).as("t_span"))
      .select(col(keyCol), col("t_span"),
        (col("__graft_twa_vs").cast("double") / col("t_span"))
          .as("time_weighted_avg"))
  }

  /** Cohort retention matrix — the third classic event-sequence
    * report next to [[funnelSteps]] and [[sessionize]]: users are
    * cohorted by the period (`periodSeconds` bucket of `tsCol`) of
    * their FIRST event, and each (cohort, periods-since-cohort) cell
    * counts the distinct users from that cohort active in that later
    * period. `retention` divides by the cohort's size (its offset-0
    * cell — every user is active in their own cohort period by
    * construction, so offset 0 always exists and equals the cohort
    * size).
    *
    * Reference behavior: faust apps hand-roll this with a per-user
    * first-seen Table plus a per-(cohort, bucket) counter Table (the
    * same playbook pattern as the funnel); here it is one declarative
    * plan.
    *
    * Scale shape: ONE user-key partial-agg shuffle builds each user's
    * (cohort, distinct-period set) — per-user state is bounded by the
    * number of periods in the data's time range, not by event volume
    * (a year of daily periods is 366 longs). The exploded offsets then
    * partial-agg on (cohort, offset) — a matrix bounded by periods²
    * rows regardless of input size — and the cohort-size window runs
    * over that tiny matrix only.
    */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
                      periodSeconds: Long): DataFrame = {
    require(periodSeconds > 0, "period must be positive")
    val period = expr(s"$tsCol div $periodSeconds")
    val perUser = df.select(col(userCol), period.as("__graft_period"))
      .groupBy(col(userCol))
      .agg(min(col("__graft_period")).as("cohort_period"),
        collect_set(col("__graft_period")).as("__graft_periods"))
    val cells = perUser
      .select(col("cohort_period"),
        explode(col("__graft_periods")).as("__graft_p"))
      .select(col("cohort_period"),
        (col("__graft_p") - col("cohort_period")).as("period_offset"))
      .groupBy(col("cohort_period"), col("period_offset"))
      .agg(count(lit(1)).as("n_users"))
    val byCohort = Window.partitionBy(col("cohort_period"))
    cells
      .withColumn("cohort_size",
        max(when(col("period_offset") === 0L, col("n_users"))).over(byCohort))
      .withColumn("retention",
        col("n_users").cast("double") / col("cohort_size"))
  }

  /** Fixed-bucket time-series resample with GAP FILL — the "events →
    * dense per-user series" step every rate/trend model needs (a gap
    * is a zero datapoint, not a missing row; downstream diffs/moving
    * averages are wrong without it). Buckets are `tsCol div
    * bucketSeconds`; each user's series is densified between their
    * own first and last active bucket.
    *
    * Reference behavior: a faust app materializes this as a tumbling-
    * window Table keyed by (user, window) and reads gaps as the
    * table's default zero (`faust/tables` relative-to-stream
    * semantics); this is that contract over history as one plan.
    *
    * Scale shape: one (user, bucket) partial-agg shuffle, then one
    * user-key shuffle that folds each user's buckets into a map and
    * explodes the dense `sequence(min, max)` against it — the gap
    * rows are GENERATED, never shuffled, and per-user state is
    * bounded by the series length (range/bucketSeconds), not event
    * volume. Money sums ride as DECIMAL(18,2) and surface as DOUBLE
    * (exact cross-engine, the q30 contract).
    */
  def resampleEvents(df: DataFrame, userCol: String, tsCol: String,
                     valueCol: String, bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucket must be positive")
    val bucket = expr(s"$tsCol div $bucketSeconds")
    val perBucket = df
      .select(col(userCol), bucket.as("bucket"),
        col(valueCol).cast("decimal(18,2)").as("__graft_v"))
      .groupBy(col(userCol), col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__graft_v")).cast("double").as("total_value"))
    perBucket
      .groupBy(col(userCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"),
          struct(col("n_events"), col("total_value"))))).as("__graft_m"),
        min(col("bucket")).as("__graft_mn"),
        max(col("bucket")).as("__graft_mx"))
      .select(col(userCol),
        explode(sequence(col("__graft_mn"), col("__graft_mx"))).as("bucket"),
        col("__graft_m"))
      .select(col(userCol), col("bucket"),
        coalesce(col("__graft_m")(col("bucket")).getField("n_events"),
          lit(0L)).as("n_events"),
        coalesce(col("__graft_m")(col("bucket")).getField("total_value"),
          lit(0.0)).as("total_value"))
  }

  /** Last-touch attribution report — purchase-style conversions
    * credited to the latest preceding touch event (click/view/…)
    * within an attribution window, revenue summed per touch CHANNEL:
    * the standard marketing-attribution query, here a pure
    * COMPOSITION of the engine's own operators ([[AsOfJoin.join]]'s
    * union-and-carry backward as-of + its tolerance post-filter +
    * one channel groupBy). Conversions with no in-window touch land
    * in the `(none)` channel, so revenue totals reconcile.
    *
    * Scale shape: the as-of join is ONE user-key shuffle (no event
    * sort beyond the per-user window); the conversion's value column
    * rides a second co-keyed join on the conversion id; the report
    * groupBy is bounded by channel count. DECIMAL(18,2) money sums
    * (the q30 contract).
    */
  def attributedRevenue(df: DataFrame, userCol: String, typeCol: String,
                        tsCol: String, idCol: String, valueCol: String,
                        convType: String, touchTypes: Seq[String],
                        windowSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty, "at least one touch type")
    require(!touchTypes.contains(convType), "conversion is not a touch")
    require(windowSeconds > 0, "attribution window must be positive")
    val touches = AsOfJoin.dedupRight(
      df.where(col(typeCol).isin(touchTypes.map(lit): _*))
        .select(col(userCol), col(tsCol), col(idCol), col(typeCol)),
      userCol, tsCol, idCol)
    val conv = df.where(col(typeCol) === convType)
      .select(col(userCol), col(tsCol), col(idCol))
    val joined = AsOfJoin.withTolerance(
      AsOfJoin.join(conv, touches, userCol, tsCol, idCol, idCol,
        payload = Seq(typeCol)),
      tsCol, windowSeconds, payload = Seq(typeCol))
    val values = df.where(col(typeCol) === convType)
      .select(col(idCol), col(valueCol).cast("decimal(18,2)").as("__graft_v"))
    joined
      .join(values, Seq(idCol))
      .select(coalesce(col(s"asof_$typeCol"), lit("(none)")).as("channel"),
        col("__graft_v"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("__graft_v")).cast("double").as("attributed_revenue"))
  }

  /** First-touch attribution — [[attributedRevenue]]'s complement:
    * each conversion credits the EARLIEST qualifying touch inside the
    * window (the brand-awareness lens where last-touch is the
    * closing-channel lens). One user-key equi join with the residual
    * window predicate, then a per-conversion `min(struct)` pick —
    * partial-aggregated, no per-user sort. Untouched conversions land
    * in `(none)` so totals reconcile with the last-touch report.
    */
  def firstTouchAttributedRevenue(df: DataFrame, userCol: String,
                                  typeCol: String, tsCol: String,
                                  idCol: String, valueCol: String,
                                  convType: String, touchTypes: Seq[String],
                                  windowSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty, "at least one touch type")
    require(!touchTypes.contains(convType), "conversion is not a touch")
    require(windowSeconds > 0, "attribution window must be positive")
    val touches = df.where(col(typeCol).isin(touchTypes.map(lit): _*))
      .select(col(userCol).as("__tuser"), col(tsCol).as("__tts"),
        col(idCol).as("__tid"), col(typeCol).as("__ttype"))
    val conv = df.where(col(typeCol) === convType)
      .select(col(userCol), col(tsCol).as("__cts"), col(idCol).as("__cid"),
        col(valueCol).cast("decimal(18,2)").as("__v"))
    conv.join(touches,
        col(userCol) === col("__tuser")
          && col("__tts") <= col("__cts")
          && col("__tts") >= col("__cts") - windowSeconds,
        "left")
      .groupBy(col("__cid"))
      .agg(min(struct(col("__tts"), col("__tid"), col("__ttype"))).as("__f"),
        max(col("__v")).as("__v")) // constant per conversion
      .select(coalesce(col("__f.__ttype"), lit("(none)")).as("channel"),
        col("__v"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("__v")).cast("double").as("attributed_revenue"))
  }

  /** Streaming twin of [[funnelSteps]] — the per-key stateful funnel
    * a faust app would build from a Table of "last reached step"
    * state, as `flatMapGroupsWithState`: state is one timestamp per
    * step (-1 = not reached), each micro-batch advances it greedily
    * and emits the key's current row (update mode).
    *
    * Delivery contract: per-key TIMESTAMP-ORDERED arrival across
    * micro-batches — Kafka's per-partition ordering, the reference's
    * execution model (out-of-order WITHIN a batch is fine: the
    * handler sorts its iterator). Under that contract greedy
    * first-match IS the batch semantics ("earliest step k strictly
    * after step k-1"), and the spec proves streamed ≡ batch on the
    * same events. State is `steps.length` longs per live user; the
    * state bound below caps how many users hold it.
    *
    * Rows: `(user_id, step_ts)` with `step_ts(i)` the i-th step's
    * timestamp or -1; filled slots never change, so the FINAL row per
    * user is the per-column max across emitted rows.
    *
    * State bound: with `within` (or an explicit `stateTtl`) set, state
    * expires on an EVENT-TIME timeout at `anchor + horizon` past the
    * watermark (anchor = funnel entry ts, or the user's latest event if
    * they never entered): the final row is emitted once more on expiry
    * and the key's state is removed — a long-running 100 TB stream
    * holds state only for users inside their conversion window, not
    * every user ever seen. With neither set there is no horizon to
    * expire against and state is unbounded (documented NoTimeout mode).
    */
  def funnelStepsStream(events: Dataset[(Long, String, Long)],
                        steps: Seq[String],
                        within: Option[Long] = None,
                        stateTtl: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step")
    require(within.forall(_ > 0), "conversion window must be positive")
    require(stateTtl.forall(_ > 0), "state TTL must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val n = steps.size
    val stepIdx = steps.zipWithIndex.toMap
    val horizon = stateTtl.orElse(within)
    // Greedy per-event advance. Under per-key ts-ordered delivery this
    // IS the batch semantics.
    def advance(cur: Array[Long], tpe: String, ts: Long): Unit =
      stepIdx.get(tpe).foreach { i =>
        if (cur(i) == -1L &&
            (i == 0 || (cur(i - 1) != -1L && ts > cur(i - 1) &&
              within.forall(w => ts <= cur(0) + w))))
          cur(i) = ts
      }
    StatefulTable.keyed(events, (e: (Long, String, Long)) => e._1,
        OutputMode.Update(), Expiry.eventTime(horizon, col("_3")))(
      (user: Long, st: Option[Array[Long]], evs: Iterator[(Long, String, Long)]) => {
        val cur = st.getOrElse(Array.fill(n)(-1L))
        val sorted = evs.toSeq.sortBy(e => (e._3, e._2))
        sorted.foreach { case (_, tpe, ts) => advance(cur, tpe, ts) }
        val anchor = if (cur(0) != -1L) cur(0) else sorted.last._3
        Next(Some(cur), Iterator.single(user -> cur.toSeq), horizon.map(anchor + _))
      },
      // final row on expiry
      expired = (user: Long, cur: Array[Long]) => Iterator.single(user -> cur.toSeq)
    ).toDF("user_id", "step_ts")
  }

  /** Streaming twin of [[transitionMatrix]]'s pair-generation stage:
    * per-user state holds ONLY the last event (type, ts, id); each
    * arriving event emits its (prev_type, next_type) pair when the
    * gap rule admits it and replaces the state. Downstream counting
    * is an ordinary streaming aggregation over the emitted pairs.
    *
    * State is one tiny row per ACTIVE user: with `stateTtl` set, a
    * key expires on an event-time timeout `last_ts + ttl` past the
    * watermark and is removed (an expiring user emits nothing — a
    * transition needs a next event, and any later event would have
    * broken the gap rule anyway whenever ttl ≥ gapSeconds).
    *
    * Under per-key ts-ordered delivery this IS the batch semantics
    * (spec-pinned); within a micro-batch events sort by (ts, id).
    */
  def transitionPairsStream(events: Dataset[(Long, String, Long, Long)],
                            gapSeconds: Long,
                            stateTtl: Option[Long] = None): DataFrame = {
    require(gapSeconds > 0, "gap must be positive")
    require(stateTtl.forall(_ >= gapSeconds),
      "stateTtl below gapSeconds would drop still-admissible pairs")
    val spark = events.sparkSession
    import spark.implicits._
    // state: (last_type, last_ts)
    def chain(st: Option[(String, Long)], evs: Seq[(String, Long, Long)])
        : (Option[(String, Long)], Seq[(String, String)]) = {
      var cur = st
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      evs.foreach { case (tpe, ts, _) =>
        cur.foreach { case (pt, pts) =>
          if (ts - pts <= gapSeconds) out += (pt -> tpe)
        }
        cur = Some((tpe, ts))
      }
      (cur, out.toSeq)
    }
    StatefulTable.keyed(events, (e: (Long, String, Long, Long)) => e._1,
        OutputMode.Append(), Expiry.eventTime(stateTtl, col("_3"))) {
      (_: Long, st: Option[(String, Long)], evs: Iterator[(Long, String, Long, Long)]) =>
        val (next, pairs) = chain(st,
          evs.toSeq.sortBy(e => (e._3, e._4)).map(e => (e._2, e._3, e._4)))
        Next(next, pairs.iterator, for (t <- stateTtl; s <- next) yield s._2 + t)
    }.toDF("prev_type", "next_type")
  }

  /** SCD-2 interval build — compress a keyed changelog into validity
    * intervals: one row per state RUN with `effective_from` and a
    * nullable `effective_to` (null = still current). q92 formats this
    * directly; [[pointInTimeJoin]] probes it. Change detection (lag)
    * and interval close (lead) ride ONE key shuffle.
    */
  def scd2Intervals(df: DataFrame, keyCol: String, stateCol: String,
                    tsCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    df.withColumn("__graft_scd_prev", lag(col(stateCol), 1).over(w))
      .where(col("__graft_scd_prev").isNull
        || col("__graft_scd_prev") =!= col(stateCol))
      .withColumn("effective_to", lead(col(tsCol), 1).over(w) - 1)
      .select(col(keyCol), col(stateCol).as("state"),
        col(tsCol).as("effective_from"), col("effective_to"))
  }

  /** Point-in-time correct feature join — the feature-store primitive:
    * each probe row picks up the dimension state whose validity
    * interval contains its timestamp (left join: probes before the
    * key's first state get NULL). Leak-free by construction — a probe
    * can never see a state that starts after it.
    *
    * Scale shape: one equi-key shuffle join with a residual range
    * predicate; per-key interval counts are change counts (small), so
    * the per-key probe×interval work stays bounded. For high-churn
    * dimensions use the as-of join (q26/q37) — same semantics at
    * to = ∞, merge-pass execution.
    */
  def pointInTimeJoin(probes: DataFrame, intervals: DataFrame,
                      keyCol: String, tsCol: String): DataFrame = {
    // rename the interval key: probe and dimension often share lineage
    // (both derived from one events scan), and dataframe-qualified
    // column refs mis-bind under Spark's self-join disambiguation
    val iv = intervals.withColumnRenamed(keyCol, "__graft_pit_key")
    probes.join(iv,
      col(keyCol) === col("__graft_pit_key")
        && col(tsCol) >= col("effective_from")
        && (col("effective_to").isNull
          || col(tsCol) <= col("effective_to")),
      "left")
      .drop("__graft_pit_key")
  }

  /** Streaming twin of q92's SCD-2 build: per-user state is the open
    * interval (state, effective_from); a type CHANGE closes it —
    * emitting (user, state, effective_from, change_ts - 1) — and
    * opens the next. Append mode carries exactly the CLOSED intervals
    * (q92's is_current = 0 rows under per-key ts-ordered delivery,
    * spec-pinned); the open interval per user lives in state and is
    * servable from the state store.
    *
    * State sizing: one (state, from) pair per key with NO timeout by
    * default — deliberately. The state IS the current dimension row,
    * so its cardinality equals the dimension's (#entities), exactly
    * what any SCD-2 table stores; evicting it would forget an
    * entity's current truth, not reclaim leaked memory.
    *
    * `stateTtl` (seconds, event time) is the retirement flavor for
    * 100 TB keyspaces where entities genuinely churn: a key idle past
    * `last_event_ts + ttl` under the watermark is evicted, and its
    * OPEN interval flushes once as a final row with `effective_to =
    * Long.MaxValue` (q92's current-row sentinel) — the dimension's
    * retirement record. A resurrected entity restarts its history
    * (first post-expiry event opens a fresh interval), the same
    * activity-window semantics as [[newVsReturningStream]]'s TTL.
    */
  def scd2Stream(events: Dataset[(Long, String, Long, Long)],
                 stateTtl: Option[Long] = None): DataFrame = {
    require(stateTtl.forall(_ > 0), "state TTL must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    // state: (open_state, effective_from); emit closed intervals
    def chain(st: Option[(String, Long)], evs: Seq[(String, Long, Long)])
        : (Option[(String, Long)], Seq[(String, Long, Long)]) = {
      var cur = st
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      evs.foreach { case (tpe, ts, _) =>
        cur match {
          case None => cur = Some((tpe, ts))
          case Some((pt, pfrom)) if pt != tpe =>
            out += ((pt, pfrom, ts - 1)); cur = Some((tpe, ts))
          case _ => () // same state continues the open interval
        }
      }
      (cur, out.toSeq)
    }
    // the TTL flavor's state gains last_ts: the timeout anchors on the
    // last EVENT, not the interval start — an entity active in one
    // state for years must not retire while events still arrive
    def run[S: Encoder](open: S => (String, Long), keep: ((String, Long), Long) => S) =
      StatefulTable.keyed(events, (e: (Long, String, Long, Long)) => e._1,
          OutputMode.Append(), Expiry.eventTime(stateTtl, col("_3")))(
        (user: Long, st: Option[S], evs: Iterator[(Long, String, Long, Long)]) => {
          val sorted = evs.toSeq.sortBy(e => (e._3, e._4))
          val (next, closed) = chain(st.map(open), sorted.map(e => (e._2, e._3, e._4)))
          val lastTs = sorted.last._3
          Next(next.map(keep(_, lastTs)),
            closed.iterator.map { case (s, from, to) => (user, s, from, to) },
            stateTtl.map(lastTs + _))
        },
        // retirement record: the open interval, q92's current-row sentinel
        expired = (user: Long, s: S) => {
          val (st, from) = open(s)
          Iterator.single((user, st, from, Long.MaxValue))
        })
    (if (stateTtl.isEmpty) run[(String, Long)](identity, (s, _) => s)
     else run[(String, Long, Long)](s => (s._1, s._2), (s, ts) => (s._1, s._2, ts)))
      .toDF("user_id", "state", "effective_from", "effective_to")
  }

  /** Streaming twin of q89's new-vs-returning classification: per-user
    * state is two longs (first day, max emitted day); each arriving
    * event emits (day, is_new) ONCE per unseen (user, day) — a
    * downstream day rollup in update mode gives the daily actives
    * split. Under per-key day-ordered delivery this equals the batch
    * query (spec-pinned); a day arriving below the user's max after a
    * gap day is treated as already counted.
    *
    * `stateTtl` (seconds) bounds state by event-time timeout AND
    * shifts the semantics the standard way: a user idle past the TTL
    * is evicted and counts as NEW again on return — "new = first seen
    * within the activity window", the resurrection definition product
    * analytics actually uses for long-running streams.
    */
  def newVsReturningStream(events: Dataset[(Long, Long)],
                           stateTtl: Option[Long] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // state: (first_day, max_day); emissions: (day, is_new)
    def chain(st: Option[(Long, Long)], days: Seq[Long])
        : (Option[(Long, Long)], Seq[(Long, Boolean)]) = {
      var cur = st
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      days.distinct.sorted.foreach { d =>
        cur match {
          case None =>
            out += (d -> true); cur = Some((d, d))
          case Some((fd, mx)) if d > mx =>
            out += (d -> false); cur = Some((fd, d))
          case _ => () // already-counted (or below-max) day
        }
      }
      (cur, out.toSeq)
    }
    StatefulTable.keyed(events, (e: (Long, Long)) => e._1, OutputMode.Append(),
        Expiry.eventTime(stateTtl, col("_2") * 86400L)) {
      (_: Long, st: Option[(Long, Long)], evs: Iterator[(Long, Long)]) =>
        val (next, rows) = chain(st, evs.map(_._2).toSeq)
        Next(next, rows.iterator,
          for (t <- stateTtl; s <- next) yield s._2 * 86400L + t)
    }.toDF("day", "is_new")
  }

  /** Streaming twin of q108's growth accounting: per-user state is
    * the last counted active day; each unseen (user, day) emits
    * (day, category) ONCE — `new` (no prior day), `retained` (gap ≤
    * `retainDays`), `resurrected` (gap > `retainDays`) — and a
    * day-grain rollup in update mode gives q108's report. Same
    * per-key day-ordered delivery contract as
    * [[newVsReturningStream]] (a day below the user's max after a gap
    * is treated as already counted); `stateTtl` (seconds) mirrors its
    * activity-window semantics — an evicted user classifies as `new`
    * on return, which also reclassifies what batch would call
    * `resurrected`, the documented trade for bounded state.
    */
  def growthAccountingStream(events: Dataset[(Long, Long)],
                             retainDays: Long = 7L,
                             stateTtl: Option[Long] = None): DataFrame = {
    require(retainDays > 0, "retention window must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    // state: last counted day; emissions: (day, category)
    def chain(st: Option[Long], days: Seq[Long])
        : (Option[Long], Seq[(Long, String)]) = {
      var cur = st
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      days.distinct.sorted.foreach { d =>
        cur match {
          case None =>
            out += (d -> "new"); cur = Some(d)
          case Some(prev) if d > prev =>
            out += (d -> (if (d - prev <= retainDays) "retained"
                          else "resurrected"))
            cur = Some(d)
          case _ => () // already-counted (or below-max) day
        }
      }
      (cur, out.toSeq)
    }
    StatefulTable.keyed(events, (e: (Long, Long)) => e._1, OutputMode.Append(),
        Expiry.eventTime(stateTtl, col("_2") * 86400L)) {
      (_: Long, st: Option[Long], evs: Iterator[(Long, Long)]) =>
        val (next, rows) = chain(st, evs.map(_._2).toSeq)
        Next(next, rows.iterator,
          for (t <- stateTtl; d <- next) yield d * 86400L + t)
    }.toDF("day", "category")
  }

  /** Streaming twin of q101's attribution comparison: per CONVERSION,
    * resolve the first AND last touch within `lookback` seconds in
    * one pass and emit (first_channel, last_channel, value) — the
    * update-mode per-channel rollups of either column are q70/q101's
    * reports. Per-user state is ONLY the touch buffer inside the
    * trailing lookback window (pruned against the newest event seen),
    * so state is bounded by touch rate × lookback, never all history
    * — the same horizon discipline as the funnel's `within`.
    *
    * Delivery contract: per-key ts-ordered, with same-timestamp ties
    * co-delivered in one micro-batch (a tie split across batches can
    * drop that touch for the earlier conversion — spec-pinned).
    *
    * `stateTtl` (seconds, event time; must be ≥ `lookback`) bounds
    * the KEYSPACE the way the sibling twins' TTLs do: a user idle
    * past `last_event_ts + ttl` under the watermark is evicted.
    * Because eviction requires idleness beyond the lookback, every
    * dropped touch was already outside any future conversion's
    * window — the TTL is purely a state bound, never a semantic
    * shift (unlike the resurrection-flavored twins). Without it the
    * per-key buffer is bounded but the key COUNT grows with
    * lifetime-distinct users.
    */
  def attributionPairsStream(events: Dataset[(Long, String, Long, Long, Double)],
                             convType: String, touchTypes: Seq[String],
                             lookback: Long,
                             stateTtl: Option[Long] = None): DataFrame = {
    require(lookback > 0, "lookback must be positive")
    require(stateTtl.forall(_ >= lookback),
      "stateTtl below lookback would drop still-attributable touches")
    val spark = events.sparkSession
    import spark.implicits._
    val touchSet = touchTypes.toSet
    // state: (max_ts_seen, touches within the trailing lookback)
    def chain(st: Option[(Long, Seq[(String, Long, Long)])],
              batch: Seq[(Long, String, Long, Long, Double)])
        : ((Long, Seq[(String, Long, Long)]), Seq[(String, String, Double)]) = {
      val (prevMax, buf) = st.getOrElse((Long.MinValue, Seq.empty))
      // conversions see EVERY touch with ts <= cts, including
      // same-ts touches later in event_id order (batch ties on ts
      // only) — so resolve against the merged buffer, not a scan
      val touches = buf ++ batch.collect {
        case (_, tpe, ts, id, _) if touchSet(tpe) => (tpe, ts, id)
      }
      val out = batch.collect { case (_, tpe, cts, _, v) if tpe == convType =>
        val inWin = touches.filter(t => t._2 <= cts && t._2 >= cts - lookback)
        val first = if (inWin.isEmpty) "(none)"
          else inWin.minBy(t => (t._2, t._3))._1
        val last = if (inWin.isEmpty) "(none)"
          else inWin.maxBy(t => (t._2, t._3))._1
        (first, last, v)
      }
      val maxTs = batch.foldLeft(prevMax)((m, e) => math.max(m, e._3))
      ((maxTs, touches.filter(_._2 >= maxTs - lookback)), out)
    }
    StatefulTable.keyed(events, (e: (Long, String, Long, Long, Double)) => e._1,
        OutputMode.Append(), Expiry.eventTime(stateTtl, col("_3"))) {
      (_: Long, st: Option[(Long, Seq[(String, Long, Long)])],
       evs: Iterator[(Long, String, Long, Long, Double)]) =>
        val (next, out) = chain(st, evs.toSeq.sortBy(e => (e._3, e._4)))
        Next(Some(next), out.iterator, stateTtl.map(next._1 + _))
    }.toDF("first_channel", "last_channel", "value")
  }

  /** Streaming twin of q122's rolling 7-day retention: per-user state
    * is the active-day set inside the trailing `window` days — the
    * inclusive range [d - window, d], at most `window` + 1 longs per
    * user (the boundary day must stay for the exact-gap check);
    * each unseen
    * (user, day) emits (day, was_active_window_ago) ONCE, and the
    * day-grain rollup in update mode is q122's report. Same per-key
    * day-ordered delivery contract as [[growthAccountingStream]].
    */
  def rollingRetentionStream(events: Dataset[(Long, Long)],
                             window: Long = 7L): DataFrame = {
    require(window > 0, "window must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    // state: (max counted day, recent active days within the window)
    def chain(st: Option[(Long, Seq[Long])], days: Seq[Long])
        : (Option[(Long, Seq[Long])], Seq[(Long, Boolean)]) = {
      var (maxDay, recent) = st.getOrElse((Long.MinValue, Seq.empty[Long]))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      days.distinct.sorted.foreach { d =>
        if (maxDay == Long.MinValue || d > maxDay) {
          out += (d -> recent.contains(d - window))
          maxDay = d
          recent = (recent :+ d).filter(_ >= d - window)
        }
      }
      (Some((maxDay, recent)), out.toSeq)
    }
    StatefulTable.keyed(events, (e: (Long, Long)) => e._1, OutputMode.Append()) {
      (_: Long, st: Option[(Long, Seq[Long])], evs: Iterator[(Long, Long)]) =>
        val (next, rows) = chain(st, evs.map(_._2).toSeq)
        Next(next, rows.iterator)
    }.toDF("day", "retained")
  }

  /** Streaming half of q104's weekly movers: the maintained state is
    * ONLY the (event_type, week) decimal totals — one commutative
    * streaming agg, update mode, bounded by types × weeks. The movers
    * report itself ([[weeklyMoversFromTotals]]) folds at READ time
    * over that small census, the census→report split used by the
    * anomaly monitor and the sketch stores.
    */
  def weeklyTotalsStream(events: DataFrame): DataFrame =
    events
      // FLOOR week bucketing (pmod-corrected integer division) — `div`
      // truncates toward zero, which would disagree with the oracle's
      // floor `//` for pre-epoch timestamps (negative ts_sec)
      .groupBy(col("event_type"),
        expr("(ts_sec - pmod(ts_sec, 604800)) div 604800").as("week"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("total"))

  /** q104's report over a weekly-totals census (streamed snapshot or
    * batch rollup — both engines produce identical movers because the
    * totals are exact decimals): week-over-week deltas per type,
    * top-`k` by absolute change.
    */
  def weeklyMoversFromTotals(totals: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("week")
    totals
      .withColumn("prev_total", lag(col("total"), 1).over(w))
      .where(col("prev_total").isNotNull)
      .select(col("event_type"), col("week"),
        col("total").cast("double").as("total"),
        col("prev_total").cast("double").as("prev_total"),
        (col("total") - col("prev_total")).cast("double").as("change"),
        round((col("total") - col("prev_total")).cast("double")
          / col("prev_total").cast("double"), 6).as("pct_change"))
      .orderBy(abs(col("change")).desc, col("event_type"), col("week"))
      .limit(k)
  }

  /** q110's report over a funnel census ([[funnelStepsStream]]'s
    * `(user_id, step_ts)` snapshot, -1 = step never reached): funnel
    * depth histogram with share-of-entered. Only users who entered
    * the funnel (step 1 reached) count — the same population
    * [[funnelSteps]] returns in batch. The census→report split: the
    * maintained state is one tiny step-timestamp array per active
    * user; the histogram folds at read time.
    */
  def funnelDepthReport(census: DataFrame, nSteps: Int): DataFrame = {
    require(nSteps >= 1, "need at least one funnel step")
    // deepest reached step: COALESCE over descending prefix checks
    val depth = coalesce(
      ((nSteps to 2 by -1).map(i =>
        when(col("step_ts").getItem(i - 1) =!= -1L, lit(i))) :+
        lit(1)): _*)
    val entered = census.where(col("step_ts").getItem(0) =!= -1L)
      .select(depth.as("depth"))
    val tot = entered.agg(count(lit(1)).as("n_total"))
    entered.groupBy("depth").agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .select(col("depth"), col("n_users"),
        round(col("n_users").cast("double") / col("n_total"), 6)
          .as("share"))
      .orderBy("depth")
  }

  /** Streaming census for q118's cross-sell pairs: the distinct
    * (order, brand) incidence stream. State is Spark's built-in
    * streaming-dedup store — one key per distinct (order, brand),
    * bounded by live orders × brands; pass a watermarked frame and
    * use `withinWatermark = true` to TTL closed orders out of state
    * (an order whose event time has passed the watermark can gain no
    * new lines under the delivery contract shared with
    * [[growthAccountingStream]]). The quadratic-per-order pair
    * expansion lives in [[crossSellFromOrderBrands]] at read time,
    * NOT in the maintained state.
    */
  def orderBrandsStream(lines: DataFrame,
                        withinWatermark: Boolean = false): DataFrame =
    if (withinWatermark) lines.dropDuplicatesWithinWatermark("ok", "brand")
    else lines.dropDuplicates("ok", "brand")

  /** q118's report over an (ok, brand) census snapshot: brand
    * co-occurrence counts with support and lift, top-`k` by n_both.
    * `nOrders` is the 1-row denominator frame (`n_orders`) — batch
    * passes the orders-table count, streaming passes its own
    * distinct-order census count.
    */
  def crossSellFromOrderBrands(orderBrands: DataFrame, nOrders: DataFrame,
                               k: Int = 20): DataFrame = {
    val ob = orderBrands.select(col("ok"), col("brand").as("p_brand"))
    val brandCnt = ob.groupBy("p_brand").agg(count(lit(1)).as("n_brand"))
    val pairs = ob.select(col("ok"), col("p_brand").as("brand_a"))
      .join(ob.select(col("ok"), col("p_brand").as("brand_b")), Seq("ok"))
      .where(col("brand_a") < col("brand_b"))
      .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(brandCnt.select(col("p_brand").as("brand_a"),
        col("n_brand").as("n_a"))), Seq("brand_a"))
      .join(broadcast(brandCnt.select(col("p_brand").as("brand_b"),
        col("n_brand").as("n_b"))), Seq("brand_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("n_both"),
        round(col("n_both").cast("double") / col("n_orders"), 6)
          .as("support"),
        round(col("n_both").cast("double") * col("n_orders")
          / (col("n_a") * col("n_b")), 6).as("lift"))
      .orderBy(col("n_both").desc, col("brand_a"), col("brand_b"))
      .limit(k)
  }

  /** Streaming census for q121's ABC classification: per-part revenue
    * totals — one commutative streaming sum keyed by part (update or
    * complete mode), state bounded by #parts (the same byPart rollup
    * the batch query builds; parts ≪ lineitems, so the snapshot is the
    * cheap side). The Pareto ranking and A/B/C classing live in
    * [[abcFromPartRevenue]] at read time, NOT in the maintained
    * state — the census→report split shared with
    * [[weeklyTotalsStream]] / [[orderBrandsStream]]. `rev` must arrive
    * as the exact-decimal revenue term so streamed totals are
    * bit-identical to the batch rollup.
    */
  def partRevenueStream(lines: DataFrame): DataFrame =
    lines.groupBy(col("l_partkey")).agg(sum(col("rev")).as("rev"))

  /** q121's report over a per-part revenue census (streamed snapshot
    * or batch rollup — identical classes because the totals are exact
    * decimals): parts ranked by revenue, classed A/B/C at the 80%/95%
    * cumulative-share cuts. Cumulative sums and both threshold
    * compares stay in EXACT decimals (cum·100 vs tv·80/95 — no
    * division). The cumulative sum runs through the PrefixSum kernel
    * under a data-adaptive revenue cut (round 18): parts are ENTITY
    * grain — 10⁸⁺ rows at 100 TB — so the old unpartitioned window's
    * one-task sort was this report's scale cliff.
    */
  def abcFromPartRevenue(byPart: DataFrame): DataFrame = {
    // census pinned (lazy): referenced by the total, the bucket stats,
    // and the kernel's subtotal+probe sides — unpinned, each reference
    // recomputes the upstream rollup
    val pinned = Pin(byPart, eager = false)
    val tot = pinned.agg(sum(col("rev")).as("tv"))
    val withCum = PrefixSum.groupedRunningSum(
      PrefixSum.uniformBucket(pinned, col("rev"), 4096, "__babc",
        descending = true),
      group = Seq.empty,
      order = Seq(col("rev").desc, col("l_partkey")),
      bucket = col("__babc"),
      value = col("rev"), out = "cum")
      .drop("__babc")
    withCum
      .crossJoin(broadcast(tot))
      .select(col("l_partkey"),
        when(col("cum") * 100 <= col("tv") * 80, lit("A"))
          .when(col("cum") * 100 <= col("tv") * 95, lit("B"))
          .otherwise(lit("C")).as("abc_class"),
        col("rev"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev")).cast("double").as("class_revenue"))
      .crossJoin(broadcast(tot))
      .select(col("abc_class"), col("n_parts"), col("class_revenue"),
        round(col("class_revenue") / col("tv").cast("double"), 6)
          .as("revenue_share"))
      .orderBy("abc_class")
  }

  /** Apply an op-coded CDC batch (Debezium-style I/U/D rows) to
    * produce the post-merge snapshot — the warehouse MERGE INTO
    * semantics [[graft.streaming.ChangelogSink]]'s upsert-only
    * compaction doesn't express: per key, ops replay in `seqCols`
    * order; the LAST op wins; a last op of `D` removes the key
    * entirely (the faust tombstone contract — `tables/base.py`
    * deletes on None values — as a batch merge).
    *
    * Emits one row per surviving key: the key columns, the last op's
    * `valueCols`, plus `n_ops` (total ops replayed for the key,
    * deletes included) and `last_seq`. One hash shuffle on the key;
    * the per-key replay is a window rank, never a driver loop. The
    * seq order must be total per key (pass a tiebreaker column, e.g.
    * an offset) — ties would make last-op-wins nondeterministic.
    */
  def cdcApply(ops: DataFrame, keyCols: Seq[String], seqCols: Seq[String],
               opCol: String, valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(seqCols.map(c => col(c).desc): _*)
    ops
      .withColumn("_rk", row_number().over(w))
      .withColumn("_n_ops", count(lit(1)).over(
        Window.partitionBy(keyCols.map(col): _*)))
      .where(col("_rk") === 1 && col(opCol) =!= "D")
      .select(keyCols.map(col) ++ valueCols.map(col) ++ Seq(
        col("_n_ops").as("n_ops"),
        col(seqCols.head).as("last_seq")): _*)
  }

  /** [[cdcApply]]'s streaming twin — a keyed last-op-wins store with
    * REAL tombstone deletes (the faust `del table[k]` /
    * value-None-deletes contract, `tables/base.py` — the one keyed
    * mutation the engine's other stateful tables don't exercise:
    * `state.remove()` actually frees the slot, so state stays
    * proportional to LIVE keys, not ever-seen keys). Ops arrive as
    * (key, seq, sub, op, value); within a micro-batch they replay in
    * (seq, sub) order, across batches the store keeps the newest
    * applied (seq, sub) and drops stale arrivals (out-of-order
    * replays converge to the batch answer). Update-mode emission: one
    * row per touched key per batch — (key, value, n_ops, last_seq,
    * present); `present = false` is the downstream tombstone (value
    * and last_seq then describe the delete op). Final snapshot
    * (latest emission per key, `present` only) matches batch
    * [[cdcApply]] on (key, value, last_seq) for ANY batch split —
    * spec-pinned. The one documented divergence — the CONTRACT,
    * spec-asserted both ways in StreamingSemanticsSpec: because a delete FREES
    * the slot, `n_ops` restarts when a key is deleted in one batch
    * and re-inserted in a later one (ops since the last
    * resurrection); within-batch delete+re-insert keeps the full
    * count. Nothing is lost: the tombstone emission carries the
    * pre-delete prefix, so `tombstone.n_ops + resurrected.n_ops`
    * reconstructs the batch total downstream (asserted). That is the
    * price of state ∝ live keys — the flag-only alternative never
    * shrinks.
    */
  def cdcApplyStream(ops: Dataset[(Long, Long, Long, String, Double)])
      : DataFrame = {
    val spark = ops.sparkSession
    import spark.implicits._
    StatefulTable.keyed(ops, (o: (Long, Long, Long, String, Double)) => o._1,
        OutputMode.Update()) {
      (key: Long,
       st: Option[(Long, Long, Double, Long, Boolean)], // lastSeq, lastSub, value, nOps, present
       it: Iterator[(Long, Long, Long, String, Double)]) =>
        val batch = it.toSeq.sortBy(t => (t._2, t._3))
        var (ls, lb, v, n, present) =
          st.getOrElse((Long.MinValue, Long.MinValue, 0.0, 0L, false))
        batch.foreach { case (_, seq, sub, op, value) =>
          n += 1
          if (seq > ls || (seq == ls && sub > lb)) {
            ls = seq; lb = sub
            if (op == "D") { v = value; present = false }
            else { v = value; present = true }
          }
        }
        // a real delete: the slot is FREED, not flagged — but the op
        // total must survive, so tombstoned keys that get re-inserted
        // later resume their count from the emission the reader keeps
        // (state itself restarts at the re-insert)
        Next(if (present) Some((ls, lb, v, n, present)) else None,
          Iterator((key, v, n, ls, present)))
    }.toDF("k", "value", "n_ops", "last_seq", "present")
  }
}
