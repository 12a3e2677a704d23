package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral event analytics — funnel conversion, Markov transition
  * counts, and cohort retention over an append-only event log. The
  * reference pipeline stops at attendance/grade aggregates; these are
  * the product-analytics operators the same event-shaped data feeds in
  * a large-scale pipeline.
  *
  * Scale shape (the design constraint for all three): the event log is
  * the 100 TB side, users are the key. Every operator here does its
  * heavy lifting inside ONE hash partitioning on the user column —
  * window functions and the per-user aggregate reuse the same exchange
  * (Catalyst keeps the child's hash partitioning, so the
  * window → groupBy(user) pair plans a single shuffle). What leaves
  * that partitioning is per-user or per-(small-cardinality-key) rows:
  * step counts, k² transition cells, cohort×offset cells — all tiny
  * next to the input, so the second exchange moves nothing. PlanSpec
  * asserts the single-hash(user)-exchange shape on the executed plans.
  *
  * Measured (BehaviorScaleProbe, sf0.1 → 10× the users =
  * 100k → 1M events, local[32]): funnel 0.81 → 0.90 s (1.1×),
  * transitions 0.47 → 0.67 s (1.4×), retention 0.36 → 0.65 s (1.8×) —
  * fixed stage setup dominates; the per-row work is one partitioned
  * window pass.
  *
  * Skew note (measured): a per-user window serializes WITHIN a user,
  * so the family's hot-key risk is one user holding an outsized share
  * of the log — a straggler task no partitioning can split (the
  * semantics are per-user-sequential; salting does not apply). The
  * probe's zipf stress (one user owning 10% of a 1M-row log) measures
  * ratio ≈ 0.9–1.0 vs uniform on local[32] — the hot task (~3× the
  * average) still hides inside the slot envelope. The effect surfaces
  * when hotShare × |log| exceeds |log| / slots; the mitigation is
  * upstream per-user history capping (keep the most recent N events
  * per user — a windowed filter on the same exchange), not salting.
  */
object Behavior {

  /** Per-user funnel step times: for an ordered step sequence
    * (e.g. view → click → purchase), each user's earliest time of
    * completing step k AFTER their step-(k-1) time — the standard
    * ordered-funnel semantics (step k only counts once steps 1..k-1
    * happened, in order). `withinUs` bounds the whole funnel to a
    * conversion window starting at the user's step-0 time.
    *
    * Chained conditional window-mins over one partitioning of the
    * user column: t0 = min ts of step 0; tk = min ts of step k with
    * ts > t(k-1) (and ts ≤ t0 + withinUs). All k windows share the
    * same partition spec, so the plan carries ONE exchange however
    * many steps the funnel has. Returns one row per user that has at
    * least one event: (user, t0..t(k-1)) with null at the first
    * uncompleted step.
    */
  def funnelUserTimes(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      withinUs: Option[Long] = None
  ): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy(userCol)
    var df = events.withColumn("__t0",
      min(when(col(typeCol) === steps.head, col(tsCol))).over(w))
    for (k <- 1 until steps.length) {
      val afterPrev =
        col(typeCol) === steps(k) && col(tsCol) > col(s"__t${k - 1}")
      val cond = withinUs match {
        case Some(us) =>
          afterPrev &&
            unix_micros(col(tsCol)) <= unix_micros(col("__t0")) + us
        case None => afterPrev
      }
      df = df.withColumn(s"__t$k", min(when(cond, col(tsCol))).over(w))
    }
    // window output is constant per user; max() collapses to one row
    // on the SAME hash(user) partitioning — no second exchange
    df.groupBy(col(userCol))
      .agg(
        max(col("__t0")).as("t0"),
        (1 until steps.length).map(k => max(col(s"__t$k")).as(s"t$k")): _*)
  }

  /** Funnel summary: (step, step_name, n_users) — how many users
    * reached each step under [[funnelUserTimes]]'s ordered semantics.
    * The per-user frame is |users|-sized; the explode + final count is
    * driver-negligible next to the event scan. */
  def funnel(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      withinUs: Option[Long] = None
  ): DataFrame = {
    val times = funnelUserTimes(events, userCol, tsCol, typeCol, steps, withinUs)
    val perStep = array(steps.indices.map(k =>
      struct(
        lit(k.toLong).as("step"),
        lit(steps(k)).as("step_name"),
        col(s"t$k").isNotNull.cast("long").as("reached"))): _*)
    times.select(explode(perStep).as("s"))
      .groupBy(col("s.step").as("step"), col("s.step_name").as("step_name"))
      .agg(sum(col("s.reached")).as("n_users"))
  }

  /** First-order Markov transition counts over each user's event
    * sequence: (from_state, to_state, n), with the synthetic
    * `(start)` state for each user's first event. One lag window on
    * the user partitioning (the only event-sized shuffle); the
    * transition aggregate's key space is k²+k cells, combined
    * map-side before the second (negligible) exchange. */
  def transitions(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      tieCol: String,
      typeCol: String
  ): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .groupBy(
        coalesce(col("__prev"), lit("(start)")).as("from_state"),
        col(typeCol).as("to_state"))
      .agg(count(lit(1)).as("n"))
  }

  /** Sliding event-type paths of length `len` per user (order-(len-1)
    * generalization of [[transitions]]): each window of `len`
    * consecutive events contributes one `a>b>c` path — the sequence-
    * mining view of user journeys ("which 3-step paths dominate?").
    * len-1 lead windows on the same hash(user) partitioning (still ONE
    * event-sized shuffle); the path aggregate's key space is at most
    * k^len cells, combined map-side. Windows that run off the end of a
    * user's history (null leads) are dropped — every counted path is a
    * real observed sequence. */
  def paths(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      tieCol: String,
      typeCol: String,
      len: Int
  ): DataFrame = {
    require(len >= 2, s"a path needs at least 2 steps: $len")
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    val steps = col(typeCol) +:
      (1 until len).map(i => lead(col(typeCol), i).over(w))
    events
      .withColumn("__path",
        when(steps.map(_.isNotNull).reduce(_ && _),
          concat_ws(">", steps: _*)))
      .filter(col("__path").isNotNull)
      .groupBy(col("__path").as("path"))
      .agg(count(lit(1)).as("n"))
  }

  /** Weekly cohort retention: users bucketed by the epoch-week of
    * their FIRST event (`cohort_week` = days-since-1970 ÷ 7, an
    * engine-neutral week index with no locale/week-start semantics to
    * disagree on), counted distinct in each week offset from that
    * first event. Returns (cohort_week, week_offset, n_users).
    *
    * The first-event time is a window-min on the user partitioning —
    * same single event-sized shuffle as the other operators here; the
    * distinct count dedups (cohort, offset, user) map-side before the
    * second exchange, so what shuffles twice is at most one row per
    * user per active week. */
  def retention(
      events: DataFrame,
      userCol: String,
      tsCol: String
  ): DataFrame = {
    val w = Window.partitionBy(userCol)
    events
      .withColumn("__d", to_date(col(tsCol)))
      .withColumn("__first", min(col("__d")).over(w))
      // integer epoch-day / 7: exact in double far beyond any date range
      .withColumn("cohort_week",
        floor(unix_date(col("__first")) / 7).cast("long"))
      .withColumn("week_offset",
        floor((unix_date(col("__d")) - unix_date(col("__first"))) / 7)
          .cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col(userCol)).as("n_users"))
  }

  /** Daily resample with forward fill — the feature-store "daily state"
    * materialization: one row per key per calendar day across the key's
    * own observed span, carrying that day's aggregate where events exist
    * and the LAST observed day's value across gaps (training features
    * must be point-in-time correct on days with no events too; a plain
    * daily groupBy silently drops those days and the model trains on a
    * biased calendar). Per-day reduction is `max(value)` — deterministic
    * under ts ties, stated identically in the oracle; forward fill is
    * `last(ignoreNulls)` over the dense grid.
    *
    * Shape: one (key, day) aggregate exchange (map-side combined, event
    * volume), then everything — span, grid explode, grid⋈daily join, fill
    * window — rides hash(key) exchanges of GRID-sized data (keys ×
    * days, independent of event count). Dense-grid memory is bounded by
    * span length per key, not events. Gated by q129. */
  def gapFillDaily(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val internal = Seq("__day", "__day_v", "__d0", "__d1",
      "day_key", "v_filled", "is_observed")
    require(keyCols.intersect(internal).isEmpty &&
      !internal.contains(valueCol),
      "key/value columns collide with gapFillDaily internals/outputs")
    val keys = keyCols.map(col)
    val daily = df
      .withColumn("__day", to_date(col(tsCol)))
      .groupBy((keys :+ col("__day")): _*)
      .agg(max(col(valueCol)).as("__day_v"))
    val grid = daily
      .groupBy(keys: _*)
      .agg(min(col("__day")).as("__d0"), max(col("__day")).as("__d1"))
      .select((keys :+
        explode(sequence(col("__d0"), col("__d1"),
          expr("interval 1 day"))).as("__day")): _*)
    val fill = Window.partitionBy(keys: _*).orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, keyCols :+ "__day", "left")
      .select((keys ++ Seq(
        date_format(col("__day"), "yyyyMMdd").as("day_key"),
        last(col("__day_v"), ignoreNulls = true).over(fill).as("v_filled"),
        col("__day_v").isNotNull.cast("int").as("is_observed"))): _*)
  }

  /** Trailing-window rolling features — the feature-store staple
    * ("activity over the last N days, as of each active day"): per key
    * and observed day, the day's exact sum/count plus the trailing
    * `windowDays`-day sum, event count, active-day count, average, and
    * day-over-day delta. The time window is a RANGE frame over the
    * integer epoch-day, so gaps count against the window (a 7-day
    * trailing sum after 10 quiet days covers only the current day) —
    * the semantics `rowsBetween` silently gets wrong on sparse keys.
    *
    * Exactness contract: money-style sums go through DECIMAL(38,6)
    * (order-independent) and leave as double; the average is ONE
    * double division of exact quantities — nothing depends on
    * partition fold order, so the result hash-matches any engine.
    *
    * Scale shape: one (key, day) aggregate exchange (map-side combined
    * from event volume down to active-day volume), then a single
    * hash(key) window pass computes every feature — frames never leave
    * the partition, state per task is the window buffer, and adding
    * features costs zero extra shuffles. Gated by q137. */
  def rollingFeatures(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      windowDays: Int = 7
  ): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    val internal = Seq("__day", "__ds", "__dn", "__serial", "day_key",
      "day_sum", "trail_sum", "trail_events", "trail_days", "trail_avg",
      "day_delta")
    require(keyCols.intersect(internal).isEmpty && !internal.contains(valueCol),
      "key/value columns collide with rollingFeatures internals/outputs")
    val keys = keyCols.map(col)
    val daily = df
      .withColumn("__day", to_date(col(tsCol)))
      .groupBy((keys :+ col("__day")): _*)
      .agg(sum(col(valueCol).cast("decimal(38,6)")).as("__ds"),
        count(lit(1)).as("__dn"))
      .withColumn("__serial", unix_date(col("__day")).cast("long"))
    val trail = Window.partitionBy(keys: _*).orderBy(col("__serial"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    val byDay = Window.partitionBy(keys: _*).orderBy(col("__serial"))
    daily.select((keys ++ Seq(
      date_format(col("__day"), "yyyyMMdd").as("day_key"),
      col("__ds").cast("double").as("day_sum"),
      sum(col("__ds")).over(trail).cast("double").as("trail_sum"),
      sum(col("__dn")).over(trail).cast("long").as("trail_events"),
      count(lit(1)).over(trail).as("trail_days"),
      (sum(col("__ds")).over(trail).cast("double") /
        sum(col("__dn")).over(trail)).as("trail_avg"),
      (col("__ds") - lag(col("__ds"), 1).over(byDay)).cast("double")
        .as("day_delta"))): _*)
  }

  /** First-touch / last-touch conversion attribution: for every
    * conversion event, find the earliest and the latest NON-conversion
    * event by the same user inside the trailing `lookbackDays` window
    * (strictly before the conversion — same-microsecond events don't
    * self-attribute), then credit each touch type under both models.
    * Output: (model ∈ {first_touch, last_touch}, touch_type, and the
    * exact conversion count), '(none)' rows collecting conversions with
    * an empty lookback.
    *
    * The pick is ONE conditional min/max per conversion over a RANGE
    * frame keyed on epoch-micros — no self-join of conversions against
    * touches (the naive formulation shuffles |conv|×|touch| pairs per
    * user; this shuffles the event log once on hash(user) and scans
    * each partition linearly). Chronological order is encoded into a
    * zero-padded (micros, event-id, type) string key so min/max ARE
    * first/last with a deterministic id tiebreak — portable to any
    * engine that can compare strings, which is what lets the oracle
    * state the identical algebra. Gated by q140. */
  def attribution(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      idCol: String,
      convType: String,
      lookbackDays: Int = 7
  ): DataFrame = {
    require(lookbackDays >= 1, s"lookbackDays must be >= 1: $lookbackDays")
    val us = unix_micros(col(tsCol))
    val lookbackUs = lookbackDays.toLong * 24 * 3600 * 1000000L
    // 20-digit micros + 12-digit id: lexicographic == chronological
    val touchKey = when(col(typeCol) =!= convType,
      concat(lpad(us.cast("string"), 20, "0"),
        lpad(col(idCol).cast("string"), 12, "0"), col(typeCol)))
    val w = Window.partitionBy(col(userCol)).orderBy(us)
      .rangeBetween(-lookbackUs, -1L)
    events
      .withColumn("__first", min(touchKey).over(w))
      .withColumn("__last", max(touchKey).over(w))
      .filter(col(typeCol) === convType)
      // both models fan out of ONE window pass — the generator runs in
      // the same stage, so the event log is scanned and shuffled once
      .select(explode(array(
        struct(lit("first_touch").as("model"),
          coalesce(substring(col("__first"), 33, 1000), lit("(none)"))
            .as("touch_type")),
        struct(lit("last_touch").as("model"),
          coalesce(substring(col("__last"), 33, 1000), lit("(none)"))
            .as("touch_type")))).as("__mt"))
      .select(col("__mt.model").as("model"), col("__mt.touch_type").as("touch_type"))
      .groupBy("model", "touch_type")
      .agg(count(lit(1)).as("n_conversions"))
  }

  /** Time-decayed engagement features — "recent activity counts more",
    * the standard recency weighting for churn/LTV features — with the
    * decay kept EXACT by integer fixed-point (the PageRank discipline
    * applied to features): weight = 2^-age_days, so each event
    * contributes `round(value·100) · 2^(maxAge − age)` — an integer —
    * and the whole per-key sum happens in DECIMAL(38,0) (exact,
    * order-independent, no float fold to stabilize) with ONE double
    * division by 2^(maxAge)·100 at the end (division by a power of two
    * times a final /100 — deterministic across engines). A half-life of
    * one day is the dyadic choice that makes this possible; other
    * half-lives need transcendental pow and fall outside the gate
    * discipline. One hash aggregate on the key, map-side combined.
    * Ages clamp to [0, maxAge]; with maxAge 31 and cent-scale values the
    * per-row integer stays ≤ ~2^54, far under DECIMAL(38,0). Gated by
    * q162. MEASURED (GovernanceScaleProbe, sf0.1 events ×10):
    * 0.19 → 0.65 s = 3.4×. */
  def decayedEngagement(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      anchorDate: String,
      maxAge: Int = 31
  ): DataFrame = {
    require(maxAge >= 1 && maxAge <= 40, s"bad maxAge: $maxAge")
    val age = least(greatest(
      datediff(to_date(lit(anchorDate)), to_date(col(tsCol))), lit(0)),
      lit(maxAge))
    val shift = (lit(maxAge) - age).cast("int")
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val scale = call_function("shiftleft", lit(1L), shift)
    events
      .withColumn("__dv", (cents * scale).cast("decimal(38,0)"))
      .withColumn("__dc", scale.cast("decimal(38,0)"))
      .groupBy(keyCol)
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("__dv")).as("__sv"),
        sum(col("__dc")).as("__sc"))
      .select(
        col(keyCol),
        col("n_events"),
        (col("__sv").cast("double") /
          (math.pow(2.0, maxAge) * 100.0d)).as("decayed_value"),
        (col("__sc").cast("double") / math.pow(2.0, maxAge))
          .as("decayed_count"))
      .orderBy(keyCol)
  }

  /** Mergeable per-user SESSION state — [[graft.ops.Stats.partialStats]]'s
    * incremental-maintenance discipline applied to sessionization: a
    * 100 TB event lake never re-sessionizes history; it keeps
    * `(n_sessions, n_events, first_ts, last_ts)` per user and folds each
    * day's partial in. The fold law that makes this exact: when batches
    * PARTITION TIME (every event in the next batch is later than every
    * prior event of that user — a global cutoff gives this for free),
    * `merge(state(A), state(B)) == state(A ∪ B)` — the only cross-batch
    * interaction is whether B's first event continues A's last session,
    * which the merge checks with the same gap rule the window uses.
    * Gated by q176: the two-step merge must hash-equal q26's one-pass
    * oracle over all events. One window + one aggregate per batch
    * (batch-sized); the merge is a state-sized full-outer join. */
  def sessionState(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      gapUs: Long
  ): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(tsCol, idCol)
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("__prev")) > gapUs, 1L)
          .otherwise(0L))
      .groupBy(userCol)
      .agg(
        sum(col("__new")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_ts"),
        max(col(tsCol)).as("last_ts"))
  }

  /** Fold a later batch's state into an earlier one (same user key,
    * `prev` strictly earlier in time — see [[sessionState]]). */
  def mergeSessionState(
      prev: DataFrame,
      next: DataFrame,
      userCol: String,
      gapUs: Long
  ): DataFrame = {
    val p = prev.select(col(userCol), col("n_sessions").as("__pn"),
      col("n_events").as("__pe"), col("first_ts").as("__pf"),
      col("last_ts").as("__pl"))
    val n = next.select(col(userCol), col("n_sessions").as("__nn"),
      col("n_events").as("__ne"), col("first_ts").as("__nf"),
      col("last_ts").as("__nl"))
    val bridged = col("__pl").isNotNull && col("__nf").isNotNull &&
      unix_micros(col("__nf")) - unix_micros(col("__pl")) <= gapUs
    p.join(n, Seq(userCol), "full_outer")
      .select(
        col(userCol),
        (coalesce(col("__pn"), lit(0L)) + coalesce(col("__nn"), lit(0L)) -
          when(bridged, 1L).otherwise(0L)).as("n_sessions"),
        (coalesce(col("__pe"), lit(0L)) + coalesce(col("__ne"), lit(0L)))
          .as("n_events"),
        coalesce(col("__pf"), col("__nf")).as("first_ts"),
        coalesce(col("__nl"), col("__pl")).as("last_ts"))
  }

  /** Per-SESSION feature extraction — the row-per-session frame a churn
    * or recommendation model trains on: session index (per-user running
    * count of gap breaks), event count, exact duration in micros, and
    * caller-chosen conversion/value aggregates layered on top by the
    * query. The same lag-gap window as the q26 counter, plus the running
    * sum that turns break flags into session ids — still ONE hash(user)
    * exchange end-to-end (both windows and the final aggregate share
    * it). Gated by q179. MEASURED (GovernanceScaleProbe, sf0.1 events
    * ×10, with the per-session aggregate): 0.22 → 0.49 s = 2.3×. */
  def sessions(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      gapUs: Long
  ): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(tsCol, idCol)
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("__ns",
        when(col("__prev").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("__prev")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("__ns")).over(byUser))
      .drop("__prev", "__ns")
  }
}
