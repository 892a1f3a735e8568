package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-sequence analytics over event streams — the batch form of
  * the reference's per-run ordered processing loop
  * (publish_to_catalog.py:304, 530 iterates agencies in source order;
  * generalized here to per-key event-time order).
  *
  * Scale design: sequences are built with ONE `collect_list(struct)`
  * hash aggregation per key — the struct sort happens per-row on the
  * aggregated array (map-side partial collect, no window shuffle), so
  * the exchange carries one row per key, not one per event. The
  * within-key sort is `array_sort` on (ts, tie, type) structs, which
  * orders field-wise — identical to `ORDER BY ts, tie`. Keys with
  * pathological cardinality (one user with 10⁹ events) would need a
  * per-key day/session sub-split first; the `dayCol` grouping in
  * [[funnel]] is exactly that bound.
  */
object Sequences {

  /** Per-key event-type sequence, ordered by (`tsCol`, `tieCol`): one
    * row per key with the comma-joined type string. `tieCol` makes the
    * order total when timestamps collide (event ids are unique). */
  def orderedTypeSequence(events: DataFrame, keyCols: Seq[Column],
      tsCol: Column, tieCol: Column, typeCol: Column): DataFrame =
    events
      .groupBy(keyCols: _*)
      .agg(array_sort(collect_list(struct(
        tsCol.as("ts"), tieCol.as("tie"), typeCol.as("et")))).as("ev"))
      .withColumn("seq",
        array_join(transform(col("ev"), e => e.getField("et")), ","))
      .drop("ev")

  /** Regex matching sequences (items comma-joined) that contain
    * `stages` as an ordered subsequence of WHOLE items: each stage is
    * literal-quoted (`\Q…\E` — RE2 and java.util.regex both honor it)
    * and anchored on item boundaries, so a stage can neither inject
    * regex syntax nor match inside a longer event type ("view" does
    * not match "preview"). Shared verbatim with the SQL oracle — ONE
    * rendering of the containment contract. */
  def subsequenceRegex(stages: Seq[String]): String = {
    require(stages.nonEmpty, "subsequenceRegex: stages must be non-empty")
    require(stages.forall(s => s.nonEmpty && !s.contains(",")),
      s"subsequenceRegex: stages must be non-empty and comma-free: $stages")
    val q = stages.map(java.util.regex.Pattern.quote)
    if (q.lengthCompare(1) == 0) s"(^|,)${q.head}(,|$$)"
    else "(^|,)" + q.init.map(_ + ",(.*,)?").mkString + q.last + "(,|$)"
  }

  /** SCD2-style validity intervals: each event's state is valid from
    * its own time until the key's next event (null for the current
    * state) — the change-log → dimension-table build, generalizing the
    * reference's per-run replace-by-key semantics
    * (publish_to_catalog.py:261-298) to full history retention.
    *
    * Times are exposed as epoch SECONDS via exact integer division of
    * the microsecond reads — `div` truncates toward zero (as does the
    * oracle's `//`), which equals floor for the non-negative post-1970
    * epochs and is engine-identical either way; ordering stays total
    * via the unique tie column. One window per key — the standard single
    * hash-exchange + per-key sort; a key with unbounded events would
    * sub-split by time range first (the x40 day-split pattern). */
  def validityIntervals(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events.select(col(keyCol), col(tieCol), col(stateCol),
      expr(s"unix_micros($tsCol)").as("__us"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__us"), col(tieCol))
    base
      .withColumn("__next_us", lead(col("__us"), 1).over(w))
      // integer `div`, not `/`: true division on bigints yields a
      // double, and epoch-µs ≈ 1.7e15 is near the 53-bit exact range
      .select(col(keyCol), col(tieCol), col(stateCol),
        expr("__us div 1000000").as("valid_from_s"),
        expr("__next_us div 1000000").as("valid_to_s"))
  }

  /** Conversion funnel: for each (user, day), the deepest prefix of
    * `stages` that occurs as an ordered subsequence of the day's
    * events (whole-item matches — see [[subsequenceRegex]]); output is
    * the user-day count per funnel depth (0 = never entered). */
  def funnel(events: DataFrame, stages: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id", typeCol: String = "event_type"): DataFrame = {
    require(stages.nonEmpty, "funnel: stages must be non-empty")
    val seqs = orderedTypeSequence(events,
      Seq(col(userCol), to_date(col(tsCol)).as("day")),
      col(tsCol), col(tieCol), col(typeCol))
    // deepest matching prefix, checked deepest-first:
    // when(stage_n)...when(stage_1).otherwise(0)
    val depth = stages.indices.foldLeft(lit(0): Column) { (inner, i) =>
      when(col("seq").rlike(subsequenceRegex(stages.take(i + 1))), lit(i + 1))
        .otherwise(inner)
    }
    seqs.select(depth.as("funnel_stage"))
      .groupBy(col("funnel_stage"))
      .agg(count(lit(1)).as("user_days"))
  }

  /** Per-session transcripts: gap-based sessionization (new session
    * when > `gap` since the previous event of the same key) followed
    * by one ordered type-sequence per session — the
    * interaction-log → dialogue/trajectory assembly step of a training
    * pipeline, where each session becomes one training sequence.
    *
    * Scale design: session numbering is two frames over ONE
    * (key, ts, tie) window partitioning — a single shuffle on the key;
    * the per-session transcript is then a hash aggregation whose
    * map-side partial collects per (key, session), so the exchange
    * carries one row per session, not one per event. The transcript
    * array is bounded by session length (gap-bounded by construction —
    * a key with unbounded same-session events would need a sub-split,
    * same bound as [[funnel]]'s day split). `value` sums as
    * DECIMAL(18,2): fixture values carry 2 decimals, so the sum is
    * exact in any accumulation order — engine-portable, unlike double.
    *
    * Output: one row per (key, session_id ≥ 1) with n events, the
    * "→"-joined type path ordered by (ts, tie), and the exact value
    * sum as double. */
  /** First-order transition matrix over per-key ordered event types —
    * the Markov summary of a behavior log (what follows what, how
    * often): the seed statistic for synthetic-trajectory generation,
    * anomaly scoring (improbable transitions), and funnel design.
    *
    * Scale design: one window pass ((key, ts, tie) partitioning — the
    * same single shuffle as sessionization) produces (prev, next)
    * pairs; counts and the per-source-state totals are two hash
    * aggregations over the TYPE×TYPE space (tiny, whatever the event
    * volume), and the conditional probability rides exact integer
    * micro-units: p = n·10⁶ div total — no float division at any
    * volume, so the matrix is engine-portable bit-for-bit.
    *
    * Output: (prev_type, next_type, n, p_micro) — within-key
    * transitions only (the first event of a key has no predecessor). */
  def transitionMatrix(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", tieCol: String = "event_id",
      typeCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .withColumn("__prev", lag(col(typeCol), 1).over(byKey))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("__tot"))
    pairs.join(totals, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("n * 1000000L div __tot").as("p_micro"))
  }

  /** Weekly cohort-retention matrix: users are cohorted by the Monday
    * of their FIRST event's week, and each (cohort, week-offset) cell
    * counts the cohort members active that many weeks later — the
    * standard activity-retention read on a behavior log, and for a
    * training-data pipeline the freshness/engagement profile of a
    * telemetry-derived corpus slice.
    *
    * Arithmetic is engine-exact throughout: week bucketing is
    * `date_trunc('week')` (ISO Monday in both Spark and DuckDB), the
    * offset is a day-difference of two Monday dates `div 7` (exact —
    * both endpoints are week-truncated), and the retention rate rides
    * integer micro-units (`active·10⁶ div cohort_size`) instead of a
    * float division, so rows hash identically across engines.
    *
    * Scale design: three hash aggregations and two joins, no windows.
    * First-event extraction shuffles once on the user key; the
    * activity join is user-keyed against the (already user-partitioned)
    * cohort frame, so AQE can reuse/co-locate the exchange; the final
    * (cohort, offset) aggregation and the cohort-size join operate on
    * week-cardinality frames (tiny at any event volume — weeks ×
    * offsets), which broadcast. A 100 TB event log flows through
    * exactly two data-volume shuffles, both on `user_id`.
    *
    * Output: (cohort_week, week_offset, active_users, cohort_size,
    * retention_micro), offset 0 = the cohort's own first week (always
    * present, retention 10⁶ only if every member was active — it is,
    * by construction, since the first event lands in week 0). */
  def retentionCohorts(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val firsts = events
      .groupBy(col(userCol))
      .agg(to_date(date_trunc("week", min(col(tsCol)))).as("cohort_week"))
    val sizes = firsts
      .groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_size"))
    val activity = events
      .select(col(userCol), to_date(date_trunc("week", col(tsCol))).as("__wk"))
      .join(firsts, userCol)
      .groupBy(col("cohort_week"),
        expr("datediff(__wk, cohort_week) div 7").as("week_offset"))
      .agg(count_distinct(col(userCol)).as("active_users"))
    activity.join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("active_users"),
        col("cohort_size"),
        expr("active_users * 1000000L div cohort_size").as("retention_micro"))
  }

  /** Per-user time-to-convert: each user's FIRST `fromType` event
    * paired (via [[Joins.asOfForward]]) with their earliest `toType`
    * event at or after it, and the gap in exact integer seconds — the
    * impression→conversion latency read, per user, with non-converters
    * kept as null-delta rows (they are the denominator of any
    * conversion rate and dropping them silently is the classic funnel
    * lie).
    *
    * Exactness: the "first" event is min(ts, tie) — a total order
    * (event ids unique) — and the gap is integer `div` of microsecond
    * reads (truncation = floor for non-negative gaps, engine-identical;
    * the inclusive as-of makes a same-instant conversion gap 0, by
    * contract).
    *
    * Scale: first-event extraction is one partial+final min(struct)
    * aggregation on the user key; the forward as-of is the
    * [[Joins.asOfForward]] single-shuffle window — both stages key on
    * `user_id`, so AQE reuses one exchange. Nothing broadcasts, no
    * driver state.
    *
    * Output: (user_id, from_s, to_s, delta_s), one row per user with
    * ≥ 1 `fromType` event; to_s/delta_s null when never converted. */
  def timeToConvert(events: DataFrame, fromType: String, toType: String,
      userCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id", typeCol: String = "event_type"): DataFrame = {
    val firsts = events.filter(col(typeCol) === fromType)
      .groupBy(col(userCol))
      .agg(min(struct(col(tsCol).as("ts"), col(tieCol).as("tie"))).as("__f"))
      .select(col(userCol), col("__f.ts").as("__from_ts"))
    // the as-of emits only right PAYLOAD columns (not the join ts), so
    // the conversion timestamp rides as a payload copy
    val targets = events.filter(col(typeCol) === toType)
      .select(col(userCol), col(tsCol).as("__to_ts"), col(tieCol).as("__tie"),
        col(tsCol).as("__conv_ts"))
    Joins.asOfForward(firsts, targets, userCol, userCol,
        "__from_ts", "__to_ts", rightTieBreak = Seq("__tie"))
      .select(col(userCol),
        expr("unix_micros(__from_ts) div 1000000").as("from_s"),
        expr("unix_micros(__conv_ts) div 1000000").as("to_s"),
        expr("(unix_micros(__conv_ts) - unix_micros(__from_ts)) div 1000000")
          .as("delta_s"))
  }

  /** Weekly growth accounting — the canonical audit of an active-user
    * curve: every (week, user) activity cell is classified as NEW
    * (user's first week ever), RETAINED (also active the previous
    * week), or RESURRECTED (active before, idle last week); CHURNED
    * counts last week's actives who went silent this week. The four
    * series reconcile exactly: actives(w) = new + retained +
    * resurrected, and actives(w) − actives(w−1) = new + resurrected −
    * churned — the identity that makes "growth" attributable instead
    * of a single opaque number. Complements [[retentionCohorts]]
    * (which follows cohorts forward; this decomposes each week).
    *
    * Exactness: all pure integer set algebra on the distinct
    * (week, user) frame — Monday truncation as in
    * [[retentionCohorts]], membership via self-joins, no floats.
    *
    * Scale: the event volume collapses once to distinct (week, user);
    * the prev-week membership check is a self-join on
    * (user, week − 7 days) — user-keyed, AQE-splittable; first-weeks
    * are one more user-keyed aggregate. Output frames are
    * week-cardinality. Weeks with no activity produce no row (and a
    * fully-idle gap week makes everyone "resurrected" when they
    * return — the standard convention).
    *
    * Output: (week, actives, new_users, retained, resurrected,
    * churned), churned(w) = actives(w−1) − retained(w) even when no
    * row exists for w − 1's successor otherwise. */
  def growthAccounting(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val wu = events
      .select(to_date(date_trunc("week", col(tsCol))).as("wk"),
        col(userCol).as("u"))
      .distinct()
      // feeds firsts, self-joins, and totals
      .transform(Materialize(_, "Sequences.growthAccounting: weekly users"))
    val firsts = wu.groupBy(col("u")).agg(min(col("wk")).as("__first"))
    val prev = wu.select(expr("date_add(wk, 7)").as("wk"), col("u"),
      lit(1).as("__was_prev"))
    val classified = wu
      .join(firsts, "u")
      .join(prev, Seq("wk", "u"), "left")
      .select(col("wk"), col("u"),
        when(col("wk") === col("__first"), "new")
          .when(col("__was_prev").isNotNull, "retained")
          .otherwise("resurrected").as("__cls"))
    val byWeek = classified.groupBy(col("wk"))
      .agg(count(lit(1)).as("actives"),
        sum(when(col("__cls") === "new", 1L).otherwise(0L)).as("new_users"),
        sum(when(col("__cls") === "retained", 1L).otherwise(0L)).as("retained"),
        sum(when(col("__cls") === "resurrected", 1L).otherwise(0L))
          .as("resurrected"))
    // churned(w) = actives(w−1) − retained(w): join the shifted totals
    val prevTotals = byWeek.select(expr("date_add(wk, 7)").as("wk"),
      col("actives").as("__prev_actives"))
    byWeek.join(prevTotals, Seq("wk"), "left")
      .select(col("wk").as("week"), col("actives"), col("new_users"),
        col("retained"), col("resurrected"),
        (coalesce(col("__prev_actives"), lit(0L)) - col("retained"))
          .as("churned"))
  }

  /** Hour-of-day seasonal baseline deviation: each observed
    * (date, hour) cell's event count against the hour's cross-day
    * mean — the seasonality-aware anomaly read that x56's global
    * z-score cannot be (3 AM is ALWAYS quiet; a spike there is
    * invisible to a global threshold and obvious against the 3 AM
    * baseline). The standard ops read on any event stream, and for a
    * telemetry-derived corpus the collection-skew diagnostic.
    *
    * Integer-exact: the baseline is `total_h·10⁶ div n_days`
    * (mean events per day at that hour, micro-units) and the
    * deviation ratio is `n·n_days·10⁶ div total_h` — both pure
    * integer floor-division on non-negative longs, engine-identical;
    * the spike flag is an integer comparison at 2× baseline.
    *
    * Scale: one partial+final (date, hour) aggregation collapses the
    * event volume; everything after runs on the ≤ days×24 frame
    * (hour baselines and the day count are broadcast-size). Absent
    * cells (an hour with zero events that day) are absent rows — the
    * "quiet hour went silent" read needs the date-spine gap-fill
    * (q40's pattern) composed upstream, by contract.
    *
    * Output: (day, hour, n, base_micro, ratio_micro, is_spike). */
  def hourlyBaselineDeviation(events: DataFrame, spikeFactor: Int = 2,
      tsCol: String = "ts"): DataFrame = {
    require(spikeFactor > 0,
      s"hourlyBaselineDeviation: spikeFactor must be positive, got $spikeFactor")
    val cells = events
      .select(to_date(col(tsCol)).as("day"), hour(col(tsCol)).as("hr"))
      .groupBy(col("day"), col("hr")).agg(count(lit(1)).as("n"))
      // feeds baselines, the day count, and output
      .transform(Materialize(_, "Sequences.hourlyBaselineDeviation: cells"))
    val days = cells.select(col("day")).distinct()
      .agg(count(lit(1)).as("n_days"))
    val base = cells.groupBy(col("hr"))
      .agg(sum(col("n")).cast("bigint").as("__tot"))
    cells.join(base, "hr").join(broadcast(days))
      .select(col("day"), col("hr"), col("n"),
        expr("__tot * 1000000L div n_days").as("base_micro"),
        expr("n * n_days * 1000000L div __tot").as("ratio_micro"))
      .withColumn("is_spike",
        col("ratio_micro") >= lit(spikeFactor.toLong * 1000000L))
  }

  /** Market-basket pair statistics over the event log: baskets are
    * the distinct (user, day, type) sets, and every unordered type
    * pair co-occurring in a basket reports its support and LIFT —
    * how much more often the pair co-occurs than its members' base
    * rates predict (lift > 1 = genuine association, = 1 = independent,
    * < 1 = repulsion). The behavioral-association read on an event
    * log, and structurally the same chance-correction idea as
    * [[graft.operators.Profile.pairwiseKappa]] applied to item pairs.
    *
    * Integer-exact: lift = N·n_ab/(n_a·n_b) rides micro-units as
    * `n_ab·N·10⁶ div (n_a·n_b)` — exact while n_ab·N·10⁶ fits a long
    * (baskets ≲ 9·10⁶; beyond that, compute on the md5-60 basket
    * sample — the x70 envelope, documented not hidden).
    *
    * Scale: the event volume collapses FIRST to distinct
    * (user, day, type) — one partial+final shuffle; the pair join is
    * basket-keyed with fan-out bounded by (types-per-basket)², and
    * TYPE×TYPE-cardinality frames join at the end (tiny, broadcast).
    *
    * Output: (type_a, type_b, n_pairs, n_a, n_b, n_baskets,
    * lift_micro), type_a < type_b. */
  def basketPairs(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type"): DataFrame = {
    val items = events
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"),
        col(typeCol).as("__t"))
      .distinct()
      // feeds singles, pairs, and the N count
      .transform(Materialize(_, "Sequences.basketPairs: items"))
    val n = items.select(col("__u"), col("__d")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val singles = items.groupBy(col("__t")).agg(count(lit(1)).as("__n1"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.__u") === col("b.__u") && col("a.__d") === col("b.__d") &&
          col("a.__t") < col("b.__t"))
      .groupBy(col("a.__t").as("type_a"), col("b.__t").as("type_b"))
      .agg(count(lit(1)).as("n_pairs"))
    pairs
      .join(singles.select(col("__t").as("type_a"), col("__n1").as("n_a")), "type_a")
      .join(singles.select(col("__t").as("type_b"), col("__n1").as("n_b")), "type_b")
      .join(broadcast(n))
      .select(col("type_a"), col("type_b"), col("n_pairs"),
        col("n_a"), col("n_b"), col("n_baskets"),
        expr("n_pairs * n_baskets * 1000000L div (n_a * n_b)").as("lift_micro"))
  }

  /** Rolling active-user series: per calendar day, the exact distinct
    * actives that day (DAU), over the trailing `windowDays` window
    * (WAU), and the DAU/WAU stickiness ratio in integer micro-units —
    * the engagement pulse read on any behavior log, and for a
    * telemetry-derived corpus the day-grain freshness curve.
    *
    * Exactness: both counts are exact distincts (no HLL), and the
    * ratio is integer floor-division — engine-portable. Days with no
    * events are absent (the series is over observed days), and each
    * day's window is the trailing `windowDays` CALENDAR days, whether
    * or not the intermediate days saw events.
    *
    * Scale design: the event volume collapses FIRST to the distinct
    * (day, user) frame — one data-volume shuffle, partial+final — and
    * everything after runs on that compact frame: the trailing window
    * is a range join of (day, user) against the distinct-days frame
    * (tiny — broadcast) followed by a distinct count per anchor day.
    * The deliberate non-plan: a `RANGE BETWEEN` window cannot do
    * distinct-across-rows, and resorting to collect_set in a window
    * would buffer per-day user sets in one task. The range join
    * multiplies the compact frame by ≤ `windowDays`, never the raw
    * event volume.
    *
    * Output: (day DATE, dau, wau, stickiness_micro), one row per
    * observed day, stickiness = dau·10⁶ div wau. */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(windowDays > 0,
      s"rollingActiveUsers: windowDays must be positive, got $windowDays")
    val du = events
      .select(to_date(col(tsCol)).as("day"), col(userCol).as("u"))
      .distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val days = du.select(col("day").as("anchor")).distinct()
    val wau = du.join(broadcast(days),
        col("day") <= col("anchor") &&
          col("day") > date_sub(col("anchor"), windowDays))
      .groupBy(col("anchor")).agg(count_distinct(col("u")).as("wau"))
    dau.join(wau, col("day") === col("anchor"))
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000L div wau").as("stickiness_micro"))
  }

  /** Dense daily calendar spine with gap-fill — the prerequisite for
    * every rolling statistic over a time series with missing days: a
    * `GROUP BY day` emits NO row for a silent day, so a rows-window
    * "last 7 rows" silently widens to "last 7 OBSERVED days" and the
    * rolling read lies exactly when traffic dies (the moment it
    * matters). This materializes one row per calendar day between the
    * observed min and max (inclusive), zero-filled, then computes the
    * trailing `windowDays`-row sum over the now-dense spine — where
    * rows ≡ days by construction, so the rows frame is exact.
    *
    * Scale: the event volume collapses first to per-day counts (one
    * partial+final agg — the only data-volume shuffle); the spine is
    * `sequence(min, max)` exploded from a ONE-row aggregate and the
    * window runs over that day-cardinality frame (years ≈ thousands of
    * rows) in a single task — bounded by the calendar, not the data.
    * Output: (day DATE, n, n_roll, is_gap), one row per calendar day. */
  def calendarSpine(events: DataFrame, windowDays: Int = 7,
      tsCol: String = "ts"): DataFrame = {
    require(windowDays > 0,
      s"calendarSpine: windowDays must be positive, got $windowDays")
    import org.apache.spark.sql.expressions.Window
    val daily = events.select(to_date(col(tsCol)).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("__n"))
    val spine = daily
      .agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(explode(expr("sequence(__lo, __hi, interval 1 day)")).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("__n"), lit(0L)).as("n"),
        col("__n").isNull.as("is_gap"))
      .withColumn("n_roll", sum(col("n")).over(
        Window.orderBy(col("day")).rowsBetween(-(windowDays - 1), 0)))
      .select(col("day"), col("n"), col("n_roll"), col("is_gap"))
  }

  /** Per-user consecutive-day streaks (gaps-and-islands): the
    * engagement shape a plain active-day count hides — 30 scattered
    * days and a 30-day run are different users. The island anchor is
    * the classic order-insensitive trick: day − row_number(day) is
    * CONSTANT exactly along a run of consecutive distinct days, so
    * islands fall out of one group-by with no self-join and no
    * iteration.
    *
    * Integer/date-exact end to end — every engine with dense_rank and
    * date_sub replays it bit-for-bit. Scale: events collapse first to
    * distinct (user, day); the window partitions by user and sorts
    * within each user's days (bounded by the calendar, not events).
    * Output: (userCol, n_days, n_streaks, longest_streak,
    * latest_streak). */
  def dailyStreaks(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val du = events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
      .distinct()
    val w = Window.partitionBy(col("u")).orderBy(col("day"))
    val islands = du
      .withColumn("__anchor",
        date_sub(col("day"), row_number().over(w)))
      .groupBy(col("u"), col("__anchor"))
      .agg(count(lit(1)).as("__len"), max(col("day")).as("__end"))
    islands.groupBy(col("u"))
      .agg(sum(col("__len")).cast("bigint").as("n_days"),
        count(lit(1)).as("n_streaks"),
        max(col("__len")).cast("bigint").as("longest_streak"),
        max(struct(col("__end"), col("__len"))).getField("__len")
          .cast("bigint").as("latest_streak"))
      .select(col("u").as(userCol), col("n_days"), col("n_streaks"),
        col("longest_streak"), col("latest_streak"))
  }

  /** Per-type weekly trend via exact OLS over a DENSE week index —
    * "is this event type growing, and how fast": the least-squares
    * slope of weekly counts against week number, with silent weeks
    * present as ZERO rows (the [[calendarSpine]] lesson — a trend fit
    * over observed-weeks-only is biased upward exactly for dying
    * types, the case the fit exists to catch).
    *
    * Integer-exact: x is the week index from the global minimum week,
    * y the weekly count; slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    * rides exact BIGINT moment sums with one sign-decomposed micro
    * floor-division at the end (negative dividends never formed — the
    * Spark `div` vs floor `//` trap). n_weeks < 2 → null slope.
    * Envelope: Σxy < 2⁶³ needs weeks·maxCount·weeks ≲ 9·10¹⁸ — any
    * realistic horizon.
    *
    * Scale: events collapse to (type, week) counts in one
    * partial+final agg; the dense grid is |types| × |weeks| (tiny,
    * broadcast spine), and the moment sums are a second
    * grid-cardinality aggregation. Output: (typeCol, n_weeks, total,
    * mean_micro, slope_micro) — slope in events/week, micro. */
  def weeklyTrend(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val wk = events.select(col(typeCol).as("t"),
        date_trunc("week", col(tsCol)).cast("date").as("w"))
      .groupBy(col("t"), col("w")).agg(count(lit(1)).as("__y"))
      // feeds the bounds, the type list, and the grid
      .transform(Materialize(_, "Sequences.weeklyTrend: weeks"))
    val bounds = wk.agg(min(col("w")).as("__lo"), max(col("w")).as("__hi"))
    val spine = bounds.select(
      explode(expr("sequence(__lo, __hi, interval 7 day)")).as("w"), col("__lo"))
    val grid = wk.select(col("t")).distinct()
      .join(broadcast(spine))
      .join(wk, Seq("t", "w"), "left")
      .select(col("t"), datediff(col("w"), col("__lo")).cast("long").as("__x"),
        coalesce(col("__y"), lit(0L)).as("__y"))
      .withColumn("__x", expr("__x div 7"))
    grid.groupBy(col("t"))
      .agg(count(lit(1)).as("n_weeks"),
        sum(col("__y")).cast("bigint").as("total"),
        sum(col("__x")).cast("bigint").as("__sx"),
        sum(col("__x") * col("__y")).cast("bigint").as("__sxy"),
        sum(col("__x") * col("__x")).cast("bigint").as("__sxx"))
      .withColumn("__num", expr("n_weeks * __sxy - __sx * total"))
      .withColumn("__den", expr("n_weeks * __sxx - __sx * __sx"))
      .select(col("t").as(typeCol), col("n_weeks"), col("total"),
        expr("total * 1000000L div n_weeks").as("mean_micro"),
        when(col("__den") === 0, lit(null).cast("long"))
          .otherwise(signum(col("__num")).cast("long") *
            expr("abs(__num) * 1000000L div __den")).as("slope_micro"))
  }

  /** Per-user RFM (recency / frequency / monetary) scoring — the
    * classic engagement segmentation: days since last activity, event
    * count, and exact decimal-cents spend, each quintile-scored 1–5
    * (5 = best: most recent, most frequent, highest spend) with a
    * deterministic (metric, user) tie-break so every engine assigns
    * identical tiles.
    *
    * Money is exact: value → DECIMAL(18,2) before summation (double
    * addition would drift by partition order), cents = sum × 100 as
    * BIGINT. Recency anchors to the GLOBAL max event day so the score
    * is a property of the dataset, not of wall-clock run time.
    *
    * Scale: one partial+final per-user aggregation (the only
    * data-volume shuffle); the three quintile assignments are exact
    * equi-depth tiles via [[graft.operators.Rank.withExactNtile]] —
    * bit-identical to `ntile` with the (metric, user) tie-break, but
    * computed from each metric's value histogram plus four broadcast
    * boundary pairs, so NO window ever serializes the user base
    * through one task. Output: (userCol, recency_days, frequency,
    * monetary_cents, r, f, m, segment). */
  def rfm(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    // an event missing its timestamp or value is not a scoreable
    // transaction — dropped AFTER the conversions (oracle mirrors with
    // IS NOT NULL, equivalent for typed inputs), because to_date and
    // the decimal cast can themselves mint nulls from unparseable
    // strings (the rankMatchedPairs call-site discipline: filter the
    // CONVERTED column, not the raw one). Otherwise a user whose
    // events all convert to null would carry null recency/monetary
    // into withExactNtile, whose null guard raise_errors by contract.
    val per = events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("d"),
        col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"))
      .filter(col("d").isNotNull && col("v").isNotNull)
      .groupBy(col("u"))
      .agg(max(col("d")).as("__last"), count(lit(1)).as("frequency"),
        (sum(col("v")) * lit(100)).cast("bigint").as("monetary_cents"))
    val anchor = per.agg(max(col("__last")).as("__anchor"))
    val base = per.join(broadcast(anchor))
      .withColumn("recency_days", datediff(col("__anchor"), col("__last")).cast("long"))
      // recency DESC: the stalest user gets tile 1, the freshest tile 5
      // (ascending tile on the NEGATED day count = the descending order)
      .withColumn("__negr", -col("recency_days"))
    val scored = Seq(("__negr", "r"), ("frequency", "f"),
        ("monetary_cents", "m"))
      .foldLeft(base) { case (df, (metric, tile)) =>
        Rank.withExactNtile(df, metric, "u", 5, tile)
      }
    scored.select(col("u").as(userCol), col("recency_days"), col("frequency"),
      col("monetary_cents"), col("r"), col("f"), col("m"),
      concat(col("r"), col("f"), col("m")).as("segment"))
  }

  /** First-touch / last-touch conversion attribution: every purchase
    * is charged to the user's FIRST view and LAST click at-or-before
    * it — the two canonical attribution rules, computed side by side
    * so their disagreement (the attribution gap marketing argues
    * about) is visible per conversion. Purchases with no prior
    * touch keep nulls — unattributable conversions must surface, not
    * vanish into an inner join.
    *
    * One keyed window does everything: max(struct(ts, id)) over the
    * type-filtered running frame IS "latest click so far" (ts-major
    * struct ordering), min is "earliest view" — no self-join, no
    * per-type window, ties broken by the id inside the struct.
    *
    * Scale: ONE shuffle on the user key; the running min/max structs
    * are O(1) window state (never a buffered frame). Output: one row
    * per purchase — (userCol, purchase_id, purchase_ts, first_view_id,
    * view_to_buy_secs, last_click_id, click_to_buy_secs). */
  def conversionAttribution(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", tieCol: String = "event_id",
      typeCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__u")).orderBy(col("__ts"), col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(col(userCol).as("__u"), col(tsCol).as("__ts"),
        col(tieCol).as("__id"), col(typeCol).as("__t"))
      .withColumn("__fv", min(when(col("__t") === "view",
        struct(col("__ts").as("ts"), col("__id").as("id")))).over(w))
      .withColumn("__lc", max(when(col("__t") === "click",
        struct(col("__ts").as("ts"), col("__id").as("id")))).over(w))
      .filter(col("__t") === "purchase")
      .select(col("__u").as(userCol), col("__id").as("purchase_id"),
        col("__ts").as("purchase_ts"),
        col("__fv.id").as("first_view_id"),
        (unix_timestamp(col("__ts")) - unix_timestamp(col("__fv.ts")))
          .as("view_to_buy_secs"),
        col("__lc.id").as("last_click_id"),
        (unix_timestamp(col("__ts")) - unix_timestamp(col("__lc.ts")))
          .as("click_to_buy_secs"))
  }

  def sessionTranscripts(events: DataFrame, gap: String = "1 HOUR",
      keyCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id", typeCol: String = "event_type",
      valueCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val run = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__new_s",
        when(lag(col(tsCol), 1).over(byKey).isNull ||
             col(tsCol) > lag(col(tsCol), 1).over(byKey) + expr(s"INTERVAL $gap"),
          1).otherwise(0))
      .withColumn("session_id", sum(col("__new_s")).over(run))
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        count(lit(1)).as("n"),
        array_join(transform(
          array_sort(collect_list(struct(
            col(tsCol).as("ts"), col(tieCol).as("tie"), col(typeCol).as("et")))),
          e => e.getField("et")), "->").as("path"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("v"))
  }

  /** Kaplan–Meier survival estimate for `fromType → toType` conversion
    * at day granularity — the right-censored time-to-event read that
    * [[timeToConvert]]'s converters-only deltas cannot give: users who
    * never convert carry information (they survived AT LEAST until the
    * corpus horizon), and dropping them biases any "median days to
    * purchase" estimate low. Censoring time is the global max event
    * timestamp (administrative censoring at the observation horizon).
    *
    * Estimator: for each day t with ≥1 conversion, S(t) multiplies by
    * (n_t − d_t)/n_t where n_t = users still at risk entering day t
    * (standard convention: users censored ON day t are still at risk
    * for day-t events). The survival curve ships as the cumulative
    * LOG, `surv_ln_micro` = Σ ln((n−d)/n) in micro-nats: each factor
    * is quantized ONCE per event day (the x67/x131 discipline — ln is
    * the only transcendental, applied to an exact integer ratio), then
    * the running total is an exact integer window sum, so the whole
    * curve is engine-identical. Days where the risk set is exhausted
    * (d = n, survival reaches exactly 0) emit NULL from there on —
    * ln 0 has no finite encoding and 0 is already the whole story.
    *
    * Scale: the event volume collapses to one row per cohort user
    * (first `fromType`, min-struct aggregate), the conversion lookup
    * is a user-keyed join + min aggregate, and everything after runs
    * on the ≤-distinct-days frame, where unpartitioned windows are
    * frame-bounded by the calendar, not the data. The 1-row horizon
    * aggregate broadcasts.
    *
    * Output: (t_day, n_risk, n_event, n_censor, surv_ln_micro), one
    * row per day with ≥1 conversion, ordered by day. */
  def kaplanMeier(events: DataFrame, fromType: String = "signup",
      toType: String = "purchase", userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firsts = events.filter(col(typeCol) === fromType)
      .groupBy(col(userCol).as("__u"))
      .agg(min(col(tsCol)).as("__from_ts"))
    val horizon = events.agg(max(col(tsCol)).as("__max_ts"))
    val conv = events.filter(col(typeCol) === toType)
      .select(col(userCol).as("__u"), col(tsCol).as("__to_ts"))
      .join(firsts, "__u")
      .filter(col("__to_ts") >= col("__from_ts"))
      .groupBy(col("__u")).agg(min(col("__to_ts")).as("__conv_ts"))
    val exits = firsts
      .join(conv, Seq("__u"), "left")
      .join(broadcast(horizon))
      .select(
        when(col("__conv_ts").isNotNull,
          expr("(unix_micros(__conv_ts) - unix_micros(__from_ts)) div 86400000000"))
          .otherwise(
            expr("(unix_micros(__max_ts) - unix_micros(__from_ts)) div 86400000000"))
          .as("__day"),
        when(col("__conv_ts").isNotNull, 1L).otherwise(0L).as("__ev"))
    val byDay = exits.groupBy(col("__day"))
      .agg(sum(col("__ev")).cast("bigint").as("__d"),
        sum(lit(1L) - col("__ev")).cast("bigint").as("__c"))
    val n = exits.agg(count(lit(1)).as("__n"))
    val wDays = Window.orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay.join(broadcast(n))
      .withColumn("__n_risk",
        col("__n") - coalesce(sum(col("__d") + col("__c")).over(wDays), lit(0L)))
      .filter(col("__d") > 0)
      .withColumn("__lp", when(col("__d") < col("__n_risk"),
        round(round(log((col("__n_risk") - col("__d")).cast("double") /
          col("__n_risk").cast("double")), 6) * lit(1000000.0)).cast("long")))
      .withColumn("__dead",
        sum(when(col("__d") === col("__n_risk"), 1L).otherwise(0L)).over(wRun))
      .select(col("__day").as("t_day"), col("__n_risk").as("n_risk"),
        col("__d").as("n_event"), col("__c").as("n_censor"),
        when(col("__dead") === 0, sum(col("__lp")).over(wRun))
          .as("surv_ln_micro"))
      .orderBy(col("t_day"))
  }

  /** CUSUM changepoint scan over the daily count series of each event
    * type — the "WHEN did the level shift" read that complements x56's
    * "WHICH days are outliers" (a sustained step of individually
    * unremarkable days is invisible to per-day z-scores and is exactly
    * what CUSUM integrates). For the series x_1..x_N (dense daily
    * spine, zero-filled), the statistic is S_k = Σ_{i≤k} x_i − k·T/N;
    * the changepoint estimate is the k maximizing |S_k| — the
    * classical CUSUM location estimator.
    *
    * Integer-exact: S_k is carried ×N (`s_scaled` = N·cum_k − k·T),
    * which keeps every comparison in exact BIGINT arithmetic — no
    * mean, no division until the pre/post level summary, which ships
    * floor-divided micro-units. Tie on |S| breaks to the earliest
    * day; k ranges over 1..N−1 (S_N ≡ 0 carries no signal).
    *
    * Scale: one partial+final (type, day) aggregation collapses the
    * event volume; the spine explode and cumulative window run on the
    * types×days frame, partitioned by type. Output is one row per
    * type.
    *
    * Output: (event_type, n_days, total, cp_day, cp_k, s_abs_scaled,
    * pre_mean_micro, post_mean_micro) — means are events/day in
    * micro-units on each side of the changepoint. */
  def cusumChangepoint(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(col(typeCol).as("__t"), to_date(col(tsCol)).as("__day"))
      .groupBy(col("__t"), col("__day")).agg(count(lit(1)).as("__x"))
    val spans = daily.groupBy(col("__t"))
      .agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val spine = spans
      .select(col("__t"),
        explode(expr("sequence(__lo, __hi, interval 1 day)")).as("__day"))
    val dense = spine.join(daily, Seq("__t", "__day"), "left")
      .select(col("__t"), col("__day"),
        coalesce(col("__x"), lit(0L)).as("__x"))
    val wRun = Window.partitionBy(col("__t")).orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = dense.groupBy(col("__t"))
      .agg(sum(col("__x")).cast("bigint").as("__tot"),
        count(lit(1)).as("__nd"))
    val scored = dense.join(totals, "__t")
      .withColumn("__k", row_number().over(
        Window.partitionBy(col("__t")).orderBy(col("__day"))))
      .withColumn("__cum", sum(col("__x")).over(wRun).cast("bigint"))
      .filter(col("__k") < col("__nd"))
      .withColumn("__s", col("__nd") * col("__cum") - col("__k") * col("__tot"))
    scored
      .groupBy(col("__t"))
      .agg(min(struct((-abs(col("__s"))).as("na"), col("__day").as("day"),
        col("__k").as("k"), col("__cum").as("cum"), col("__tot").as("tot"),
        col("__nd").as("nd"))).as("__best"))
      .select(col("__t").as("event_type"),
        col("__best.nd").as("n_days"),
        col("__best.tot").as("total"),
        col("__best.day").cast("string").as("cp_day"),
        col("__best.k").cast("bigint").as("cp_k"),
        (-col("__best.na")).as("s_abs_scaled"),
        expr("__best.cum * 1000000L div __best.k").as("pre_mean_micro"),
        expr("(__best.tot - __best.cum) * 1000000L div (__best.nd - __best.k)")
          .as("post_mean_micro"))
      .orderBy(col("event_type"))
  }

  /** Two-proportion z-test of each event type's traffic share between
    * the first and second half of the observation window — the
    * SIGNIFICANCE read next to [[cusumChangepoint]]'s location
    * estimate and x100's magnitude: a type whose share moved is only
    * interesting if the move is large relative to its binomial noise,
    * and small types need bigger relative swings to clear it. The
    * midpoint split is the microsecond midpoint of [min ts, max ts]
    * (events at exactly the midpoint count in the second half).
    *
    * For type t: p₁ = c₁/N₁ (share of first-half events), p₂ = c₂/N₂,
    * pooled p̂ = (c₁+c₂)/(N₁+N₂), z = (p₁−p₂)/√(p̂(1−p̂)(1/N₁+1/N₂)).
    * All inputs are exact integers; z is ONE fixed double expression
    * over them (no accumulation — engine-identical to the last bit),
    * shipped rounded to 6 dp with a |z| > 1.96 flag.
    *
    * Scale: one partial+final (type, half) aggregation collapses the
    * volume; the 1-row midpoint frame and the 2-row half totals
    * broadcast. Output is one row per event type.
    *
    * Output: (event_type, c1, n1, c2, n2, z, significant). */
  def proportionShift(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val mid = events.agg(
      expr(s"(unix_micros(min($tsCol)) + unix_micros(max($tsCol))) div 2")
        .as("__mid"))
    val halves = events.join(broadcast(mid))
      .select(col(typeCol).as("__t"),
        when(expr(s"unix_micros($tsCol)") < col("__mid"), 1).otherwise(2)
          .as("__h"))
      .groupBy(col("__t"), col("__h")).agg(count(lit(1)).as("__c"))
    val totals = halves.groupBy(col("__h"))
      .agg(sum(col("__c")).cast("bigint").as("__n"))
    val wide = halves
      .groupBy(col("__t"))
      .agg(
        sum(when(col("__h") === 1, col("__c")).otherwise(0L)).cast("bigint")
          .as("c1"),
        sum(when(col("__h") === 2, col("__c")).otherwise(0L)).cast("bigint")
          .as("c2"))
    // a type absent from one half still has that half's total
    val nTotals = totals.groupBy()
      .agg(max(when(col("__h") === 1, col("__n"))).as("n1"),
        max(when(col("__h") === 2, col("__n"))).as("n2"))
    wide.join(broadcast(nTotals))
      .select(col("__t").as("event_type"), col("c1"), col("n1"),
        col("c2"), col("n2"),
        // 1.0D / n: a bare 1.0 is DECIMAL in Spark SQL and
        // BIGINT/DECIMAL division truncates scale — the reciprocals
        // must be DOUBLE to match the oracle's double math
        expr("""round(
          (c1 / CAST(n1 AS DOUBLE) - c2 / CAST(n2 AS DOUBLE)) /
          sqrt(((c1 + c2) / CAST(n1 + n2 AS DOUBLE)) *
               (1.0D - (c1 + c2) / CAST(n1 + n2 AS DOUBLE)) *
               (1.0D / n1 + 1.0D / n2)), 6)""").as("z"))
      .withColumn("significant", abs(col("z")) > lit(1.96))
      .orderBy(col("event_type"))
  }

  /** Population stability index (PSI) of each event type's `value`
    * distribution between the observation-window halves — the
    * standard model-monitoring drift score, here the "did the VALUES
    * shift" companion to [[proportionShift]]'s "did the VOLUME
    * shift": PSI = Σ_bins (p₂−p₁)·ln(p₂/p₁), with bins the first
    * half's own quartile edges (so the baseline is by construction
    * ~25% per bin and drift shows as mass leaving those bins).
    * Convention: PSI < 0.1 stable, > 0.25 action.
    *
    * Exactness: quartile edges are `percentile_disc` order statistics
    * of first-half values (exact doubles from parquet — comparisons
    * are engine-identical); bin counts are exact integers with
    * add-one smoothing (an empty bin must not produce ln 0); each
    * bin's PSI term is ONE fixed double expression quantized to
    * micro, and the 4-term total is an integer sum — no double
    * accumulation across bins.
    *
    * Scale: the volume collapses in one (type, half, bin)
    * aggregation; the per-type edge frame (3 values per type)
    * broadcasts. Output is one row per event type.
    *
    * Output: (event_type, n1, n2, psi_micro, drifted = psi > 0.25). */
  def valueDriftPsi(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val mid = events.agg(
      expr(s"(unix_micros(min($tsCol)) + unix_micros(max($tsCol))) div 2")
        .as("__mid"))
    val halved = events.join(broadcast(mid))
      .select(col(typeCol).as("__t"), col(valueCol).as("__v"),
        when(expr(s"unix_micros($tsCol)") < col("__mid"), 1).otherwise(2)
          .as("__h"))
    val edges = halved.filter(col("__h") === 1)
      .groupBy(col("__t"))
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY __v)").as("__q1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __v)").as("__q2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY __v)").as("__q3"))
    val binned = halved.join(broadcast(edges), "__t")
      .select(col("__t"), col("__h"),
        when(col("__v") <= col("__q1"), 0)
          .when(col("__v") <= col("__q2"), 1)
          .when(col("__v") <= col("__q3"), 2)
          .otherwise(3).as("__b"))
      .groupBy(col("__t"), col("__b"))
      .agg(
        sum(when(col("__h") === 1, 1L).otherwise(0L)).cast("bigint").as("c1"),
        sum(when(col("__h") === 2, 1L).otherwise(0L)).cast("bigint").as("c2"))
    // dense 4-bin spine: a bin empty in BOTH halves still carries its
    // (small, nonzero) smoothed term — the cell set must not depend
    // on which bins happened to be observed
    val spine = edges.select(col("__t"))
      .select(col("__t"), explode(expr("sequence(0, 3)")).as("__b"))
    val dense = spine.join(binned, Seq("__t", "__b"), "left")
      .select(col("__t"), col("__b"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    val totals = dense.groupBy(col("__t"))
      .agg(sum(col("c1")).cast("bigint").as("n1"),
        sum(col("c2")).cast("bigint").as("n2"))
    dense.join(broadcast(totals), "__t")
      // add-one smoothing over the 4-bin space; ONE fixed double
      // expression per bin, quantized to micro before the sum
      .select(col("__t"), col("n1"), col("n2"),
        expr("""CAST(round(round(
            ((c2 + 1) / CAST(n2 + 4 AS DOUBLE) - (c1 + 1) / CAST(n1 + 4 AS DOUBLE)) *
            ln(((c2 + 1) * CAST(n1 + 4 AS DOUBLE)) /
               ((c1 + 1) * CAST(n2 + 4 AS DOUBLE))), 6) * 1000000)
          AS BIGINT)""").as("__term"))
      .groupBy(col("__t"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(col("__term")).cast("bigint").as("psi_micro"))
      .select(col("__t").as("event_type"), col("n1"), col("n2"),
        col("psi_micro"), (col("psi_micro") > 250000L).as("drifted"))
      .orderBy(col("event_type"))
  }

  /** Held-out next-event negative log-likelihood of the Markov
    * transition model: train the add-one-smoothed bigram model
    * P(b|a) on the FIRST half of the window, score the SECOND half's
    * transitions — the honest generalization read [[transitionMatrix]]
    * alone cannot give (a matrix always fits the data it was counted
    * on). Rising held-out NLL between runs = user behavior drifting
    * away from the trained dynamics.
    *
    * Transitions are consecutive same-user event-type pairs ordered
    * by (ts, tie); a pair belongs to a half only when BOTH events
    * fall in it (the straddling pair belongs to neither — it is
    * neither trainable nor honestly held out). Smoothing: (c_ab+1)/
    * (c_a+V) with V the train-side type vocabulary (unseen contexts
    * degrade to the uniform 1/V, never to log 0).
    *
    * Exactness: per-TRANSITION log-probs quantize once to micro-nats
    * (exact integer counts into one ln); the test-side total is the
    * exact integer Σ c_test·lp, and the average is one floor
    * division. The midpoint is the same µs midpoint as
    * [[proportionShift]].
    *
    * Scale: the lag window is user-partitioned; both halves collapse
    * to (a, b) count frames (≤ V² rows — broadcast-size by nature of
    * a type vocabulary); scoring is a V²-frame join.
    *
    * Output: 1 row — (n_train, n_test, vocab, sum_nll_micro,
    * avg_nll_micro). */
  def heldOutTransitionNll(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", tieCol: String = "event_id",
      typeCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val mid = events.agg(
      expr(s"(unix_micros(min($tsCol)) + unix_micros(max($tsCol))) div 2")
        .as("__mid"))
    val trans = events
      .withColumn("__a", lag(col(typeCol), 1).over(w))
      .withColumn("__pt", lag(expr(s"unix_micros($tsCol)"), 1).over(w))
      .filter(col("__a").isNotNull)
      .join(broadcast(mid))
      .select(col("__a"), col(typeCol).as("__b"),
        when(expr(s"unix_micros($tsCol)") < col("__mid") , 1)
          .when(col("__pt") >= col("__mid"), 2)
          .otherwise(0).as("__h")) // 0 = straddles the midpoint: dropped
    val train = trans.filter(col("__h") === 1)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c"))
      .transform(Materialize(_, "Sequences.heldOutTransitionNll: train"))
    val ctxTot = train.groupBy(col("__a"))
      .agg(sum(col("__c")).cast("bigint").as("__ca"))
    val vocab = train.select(col("__a")).union(train.select(col("__b")))
      .distinct().agg(count(lit(1)).as("__v"))
    val test = trans.filter(col("__h") === 2)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__ct"))
    val scored = test
      .join(train.withColumnRenamed("__c", "__cab"), Seq("__a", "__b"), "left")
      .join(ctxTot, Seq("__a"), "left")
      .join(broadcast(vocab))
      .select(col("__ct"),
        round(round(log(
          (coalesce(col("__cab"), lit(0L)) + 1).cast("double") /
            (coalesce(col("__ca"), lit(0L)) + col("__v")).cast("double")), 6) *
          lit(1000000.0)).cast("long").as("__lp"))
    val trainN = train.agg(sum(col("__c")).cast("bigint").as("n_train"))
    scored.agg(
        sum(col("__ct")).cast("bigint").as("n_test"),
        (-sum(col("__ct") * col("__lp"))).cast("bigint").as("sum_nll_micro"))
      .join(broadcast(trainN)).join(broadcast(vocab))
      .select(col("n_train"), col("n_test"), col("__v").as("vocab"),
        col("sum_nll_micro"),
        expr("sum_nll_micro div n_test").as("avg_nll_micro"))
      // degenerate window (no transition wholly in the second half):
      // the global agg would emit one all-NULL row where a grouped
      // formulation emits zero rows — emit zero rows on BOTH engines
      // (ADVICE r9); there is no model score to report
      .filter(col("n_test").isNotNull)
  }

  /** The 24 hour-angle cosine/micro constants for [[diurnalConcentration]]
    * — computed ONCE in Scala and shipped to both engines as
    * literals, so the circular statistics never depend on either
    * engine's trig. */
  val HourAngleMicro: Seq[(Int, Long, Long)] = (0 until 24).map { h =>
    val theta = 2.0 * math.Pi * h / 24.0
    (h, math.round(math.cos(theta) * 1000000.0),
      math.round(math.sin(theta) * 1000000.0))
  }

  /** Diurnal concentration per event type — circular statistics over
    * the hour-of-day distribution: the mean resultant length
    * R = |Σe^{iθ}|/n measures HOW 24-hour-patterned a type is (R→1:
    * everything at one hour — a cron job; R→0: uniform — organic
    * traffic), and the mean angle names the peak hour. The circular
    * read [[hourlyBaselineDeviation]]'s per-cell table cannot give in
    * one number, and the right one — hour 23 and hour 0 are
    * NEIGHBORS, which any linear mean gets wrong.
    *
    * Exactness: the 24 cos/sin values are SCALA-computed micro
    * literals (both engines join the same table — no engine trig);
    * Σcos/Σsin are exact integer sums over the hour histogram;
    * R and the peak hour are fixed double expressions over the two
    * integers, rounded. atan2 exists and agrees on both engines for
    * these coarse inputs; the peak ships as an HOUR (nearest of 24),
    * where ulp-level atan2 differences cannot move the answer.
    *
    * Scale: one (type, hour) aggregation collapses the volume; the
    * 24-row angle table broadcasts. Output is one row per type.
    *
    * Output: (event_type, n, r_micro, peak_hour). */
  def diurnalConcentration(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val angles = HourAngleMicro.toDF("hr", "cos_micro", "sin_micro")
    events
      .select(col(typeCol).as("__t"), hour(col(tsCol)).as("hr"))
      .groupBy(col("__t"), col("hr")).agg(count(lit(1)).as("__n"))
      .join(broadcast(angles), "hr")
      .groupBy(col("__t"))
      .agg(sum(col("__n")).cast("bigint").as("n"),
        sum(col("__n") * col("cos_micro")).cast("bigint").as("__sc"),
        sum(col("__n") * col("sin_micro")).cast("bigint").as("__ss"))
      .select(col("__t").as("event_type"), col("n"),
        expr("""CAST(round(sqrt(CAST(__sc AS DOUBLE) * __sc +
            CAST(__ss AS DOUBLE) * __ss) / n) AS BIGINT)""").as("r_micro"),
        // nearest hour of the mean angle: atan2 in [−π, π] → 0..24
        expr("""CAST(round(((atan2(CAST(__ss AS DOUBLE), CAST(__sc AS DOUBLE))
            + 2.0D * pi()) % (2.0D * pi())) * 24.0D / (2.0D * pi()))
          AS BIGINT) % 24""").as("peak_hour"))
      .orderBy(col("event_type"))
  }

  /** Mann–Kendall trend test on each event type's daily count series
    * — the NONPARAMETRIC trend read next to [[weeklyTrend]]'s OLS
    * slope: S = Σ_{i<j} sign(x_j − x_i) counts concordant minus
    * discordant day pairs, so a single spike day cannot fake a trend
    * the way it can drag a least-squares fit. Variance uses the
    * tie-corrected formula ×18 (`var18` = n(n−1)(2n+5) −
    * Σ t(t−1)(2t+5)) to stay in exact BIGINT; z applies the standard
    * continuity correction (S ∓ 1).
    *
    * Exactness: S, n, and var18 are pure integer algebra on the
    * dense zero-filled spine (same calendar contract as
    * [[cusumChangepoint]]); z is ONE fixed double expression over
    * them, quantized to micro; the verdict compares the rounded z.
    *
    * Scale: the volume collapses to (type, day) counts first; the
    * pair join is an equi-join on type with a day<day residual —
    * days²-bounded per type (a calendar property, not a data one).
    *
    * Output: (event_type, n_days, s_stat, var18, z, trend ∈
    * {increasing, decreasing, none}). */
  def mannKendall(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .select(col(typeCol).as("__t"), to_date(col(tsCol)).as("__day"))
      .groupBy(col("__t"), col("__day")).agg(count(lit(1)).as("__x"))
    val spans = daily.groupBy(col("__t"))
      .agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val dense = spans
      .select(col("__t"),
        explode(expr("sequence(__lo, __hi, interval 1 day)")).as("__day"))
      .join(daily, Seq("__t", "__day"), "left")
      .select(col("__t"), col("__day"), coalesce(col("__x"), lit(0L)).as("__x"))
      // feeds the pair join, the tie groups, n
      .transform(Materialize(_, "Sequences.mannKendall: dense"))
    val s = dense.as("a").join(dense.as("b"),
        col("a.__t") === col("b.__t") && col("a.__day") < col("b.__day"))
      .groupBy(col("a.__t").as("__t"))
      .agg(sum(signum(col("b.__x") - col("a.__x")).cast("long"))
        .cast("bigint").as("s_stat"))
    val ties = dense.groupBy(col("__t"), col("__x"))
      .agg(count(lit(1)).as("__tg"))
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__ng"), // unused beyond sanity; keeps shape clear
        sum(col("__tg") * (col("__tg") - 1) * (lit(2L) * col("__tg") + 5))
          .cast("bigint").as("__tiecorr"),
        sum(col("__tg")).cast("bigint").as("n_days"))
    s.join(ties, "__t")
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5) -
          col("__tiecorr"))
      .withColumn("z", when(col("var18") > 0,
        // 18.0D: keep the division in DOUBLE (a bare 18.0 is DECIMAL
        // in Spark SQL and BIGINT/DECIMAL truncates scale)
        expr("""round((s_stat - CAST(sign(s_stat) AS BIGINT)) /
                sqrt(var18 / 18.0D), 6)""")))
      .select(col("__t").as("event_type"), col("n_days"), col("s_stat"),
        col("var18"), col("z"),
        when(col("z") > 1.96, "increasing")
          .when(col("z") < -1.96, "decreasing")
          .otherwise("none").as("trend"))
      .orderBy(col("event_type"))
  }

  /** Per-user burstiness of the event stream — Goh & Barabási's
    * B = (σ−μ)/(σ+μ) over inter-event gaps: −1 = metronome, 0 =
    * Poisson, → 1 = bursty (long silences punctuated by volleys).
    * The per-user texture read [[sessionGapCalibration]]'s corpus
    * percentiles average away — a bot firing on a timer and a human
    * browsing in bursts can share a mean gap and sit at opposite
    * ends of B, which is exactly what makes it a bot/anomaly signal.
    *
    * Exactness: gaps are exact integer seconds; per-user Σ and Σ²
    * are exact BIGINT; μ and σ quantize to micro (σ via one fixed
    * double sqrt over exact integers), and B is one integer
    * division on the quantized pair — engine-identical, including
    * the truncation direction for negative numerators (both engines
    * truncate toward zero). Users with < 2 gaps have no spread
    * estimate: B is NULL.
    *
    * Scale: the lag window is user-partitioned (key-parallel);
    * everything after is one per-user aggregation. Output is one
    * row per user with ≥ 1 gap.
    *
    * Output: (user_id, n_gaps, mean_gap_micro, sd_gap_micro,
    * burstiness_micro), ordered by user. */
  def burstiness(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", tieCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("__prev", lag(expr(s"unix_micros($tsCol)"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col(userCol).as("__u"),
        expr(s"(unix_micros($tsCol) - __prev) div 1000000").as("__g"))
      .groupBy(col("__u"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__g")).cast("bigint").as("__s"),
        sum(col("__g") * col("__g")).cast("bigint").as("__ss"))
      .withColumn("mean_gap_micro", expr("__s * 1000000L div n_gaps"))
      .withColumn("sd_gap_micro", when(col("n_gaps") > 1,
        round(sqrt(
          col("__ss").cast("double") / col("n_gaps").cast("double") -
            (col("__s").cast("double") / col("n_gaps").cast("double")) *
              (col("__s").cast("double") / col("n_gaps").cast("double"))) *
          lit(1000000.0)).cast("long")))
      .withColumn("burstiness_micro",
        when(col("sd_gap_micro").isNotNull &&
            (col("sd_gap_micro") + col("mean_gap_micro")) > 0,
          expr("""(sd_gap_micro - mean_gap_micro) * 1000000L
                  div (sd_gap_micro + mean_gap_micro)""")))
      .select(col("__u").as(userCol), col("n_gaps"), col("mean_gap_micro"),
        col("sd_gap_micro"), col("burstiness_micro"))
      .orderBy(col(userCol))
  }

  /** Session-gap calibration: the corpus-wide distribution of
    * within-user inter-event gaps, read against a candidate session
    * threshold — the evidence behind [[sessionTranscripts]]' `gap`
    * parameter instead of a folklore "1 hour". Ships the exact order-
    * statistic p50/p90/p99 gap (seconds), the share of gaps the
    * threshold would split (micro), and the session count the
    * threshold induces (users + splitting gaps — each over-threshold
    * gap starts one new session).
    *
    * Exactness: gaps are exact integer seconds (µs difference,
    * truncating division); the percentiles are `percentile_disc` —
    * an order statistic, no interpolation, engine-identical (the x39
    * threshold discipline); shares and counts are integer algebra.
    *
    * Scale: the per-user lag window partitions by user (event-volume
    * but key-parallel); the exact global percentile is a sort-based
    * aggregate — the CALIBRATION read, run once on a sample window.
    * At full 100 TB the continuous monitor is [[Profile.sampledQuantiles]]
    * (hash-deterministic sample, same contract) — the same split as
    * x20's exact-vs-sketch pair.
    *
    * Output: 1 row — (n_users, n_gaps, p50_s, p90_s, p99_s,
    * over_gap_micro, sessions_induced). */
  def sessionGapCalibration(events: DataFrame, gap: Long = 3600L,
      userCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id"): DataFrame = {
    require(gap > 0, s"sessionGapCalibration: gap must be positive, got $gap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val gaps = events
      .withColumn("__prev", lag(expr(s"unix_micros($tsCol)"), 1).over(w))
      .select(col(userCol).as("__u"),
        when(col("__prev").isNotNull,
          expr(s"(unix_micros($tsCol) - __prev) div 1000000")).as("__gap"))
    gaps.agg(
        count_distinct(col("__u")).as("n_users"),
        count(col("__gap")).as("n_gaps"),
        // Spark's percentile_disc returns DOUBLE even for integral
        // input; the gap values are exact integers so the cast back
        // to BIGINT is lossless (order statistic, no interpolation)
        expr("cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY __gap) as bigint)")
          .as("p50_s"),
        expr("cast(percentile_disc(0.9) WITHIN GROUP (ORDER BY __gap) as bigint)")
          .as("p90_s"),
        expr("cast(percentile_disc(0.99) WITHIN GROUP (ORDER BY __gap) as bigint)")
          .as("p99_s"),
        sum(when(col("__gap") > gap, 1L).otherwise(0L)).cast("bigint")
          .as("__over"))
      .select(col("n_users"), col("n_gaps"), col("p50_s"), col("p90_s"),
        col("p99_s"),
        expr("__over * 1000000L div n_gaps").as("over_gap_micro"),
        (col("n_users") + col("__over")).as("sessions_induced"))
  }

  /** Per-key monotonicity audit: does event time increase with the
    * sequence id within each user — the append-log sanity check every
    * event-sourced pipeline needs (an id that outruns its timestamp
    * means clock skew, replayed batches, or a producer writing ids
    * out of order; every lag/as-of/session operator above silently
    * assumes this holds). Counts ADJACENT inversions (ts strictly
    * decreasing from one id to the next) — the local statistic that
    * pinpoints how broken, not just whether.
    *
    * Pure integer: one user-partitioned lag over the id order, exact
    * inversion counts, one floor division for the rate.
    *
    * Scale: ONE shuffle on the user key; output is user-cardinality.
    * Single-event users have no adjacent pair and report 0 of 0,
    * monotone by definition.
    *
    * Output: (userCol, n_events, n_inversions, inversion_micro,
    * monotone), ordered by user. */
  def monotonicityAudit(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", seqCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(seqCol))
    events
      .withColumn("__pt", lag(col(tsCol), 1).over(w))
      .groupBy(col(userCol))
      .agg(count(lit(1)).cast("bigint").as("n_events"),
        sum(when(col("__pt") > col(tsCol), 1L).otherwise(0L)).cast("bigint")
          .as("n_inversions"))
      .select(col(userCol), col("n_events"), col("n_inversions"),
        when(col("n_events") > 1,
          expr("n_inversions * 1000000L div (n_events - 1)"))
          .otherwise(lit(0L)).as("inversion_micro"),
        (col("n_inversions") === 0L).as("monotone"))
      .orderBy(col(userCol))
  }

  /** Frequent event 3-paths: every consecutive same-user event-type
    * trigram (two lag steps over the (ts, tie) order), counted and
    * support-filtered — the behavioral PATTERNS read one step beyond
    * [[transitionMatrix]]'s bigrams: a→b and b→c being common does
    * NOT make a→b→c common (the Markov assumption the matrix bakes
    * in), and the trigrams that beat their bigram-implied frequency
    * are exactly the workflows worth modeling as units.
    *
    * Pure integer: lag windows are user-partitioned; path counts and
    * the support share are one aggregation + one floor division.
    *
    * Scale: ONE shuffle on the user key for the lags, one
    * partial+final aggregation on the (a, b, c) key — output is
    * bounded by the type vocabulary cubed, in practice by the paths
    * that actually occur ≥ minSupport times.
    *
    * Output: (a, b, c, n, support_micro) for paths with n ≥
    * minSupport, ordered by (n desc, a, b, c); support_micro is the
    * path's share of ALL observed trigrams. */
  def eventPathMining(events: DataFrame, minSupport: Long = 5L,
      userCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id", typeCol: String = "event_type"): DataFrame = {
    require(minSupport >= 1,
      s"eventPathMining: minSupport must be >= 1, got $minSupport")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val tri = events
      .withColumn("__a", lag(col(typeCol), 2).over(w))
      .withColumn("__b", lag(col(typeCol), 1).over(w))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a").as("a"), col("__b").as("b"),
        col(typeCol).as("c"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      // feeds the total AND the output
      .transform(Materialize(_, "Sequences.eventPathMining: tri"))
    tri.join(broadcast(tri.agg(sum(col("n")).cast("bigint").as("__tot"))))
      .filter(col("n") >= minSupport)
      .select(col("a"), col("b"), col("c"), col("n"),
        expr("n * 1000000L div __tot").as("support_micro"))
      .orderBy(col("n").desc, col("a"), col("b"), col("c"))
  }

  /** Multi-touch conversion attribution — which event types drive
    * conversions, under the two standard credit models at once: for
    * every conversion (an event of `convType`), its touches are the
    * same user's NON-conversion events in the strictly-preceding
    * `windowDays` window; `last_touch_convs` credits the final touch
    * (latest ts, ties by event id — one whole conversion each) and
    * `linear_credit_micro` splits each conversion's 10⁶ micro-credit
    * equally over its touches (floor division per touch, so a
    * conversion's credits sum to ≤ 10⁶ — the exact-integer contract
    * beats a lossy double split). Zero-touch conversions carry no
    * credit, by construction.
    *
    * Scale: the touch↔conversion pairing is a user-keyed equi-join
    * with a time-range predicate — pair volume is bounded by per-user
    * activity × conversions inside the window (the interval-join
    * family's envelope), never a cross join; the pair frame is
    * checkpointed once and feeds all three aggregations.
    *
    * Output: (event_type, n_touches, last_touch_convs,
    * linear_credit_micro), ordered by type. */
  def multiTouchAttribution(events: DataFrame, convType: String = "purchase",
      windowDays: Int = 7, typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id",
      userCol: String = "user_id"): DataFrame = {
    require(windowDays >= 1,
      s"multiTouchAttribution: windowDays must be >= 1, got $windowDays")
    val conv = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("__u"), col(idCol).as("__cid"),
        col(tsCol).as("__cts"))
    val touch = events.filter(col(typeCol) =!= convType)
      .select(col(userCol).as("__u"), col(idCol).as("__tid"),
        col(tsCol).as("__tts"), col(typeCol).as("__tk"))
    val pairs = touch.join(conv, Seq("__u"))
      .filter(col("__tts") < col("__cts") &&
        col("__tts") >= col("__cts") - expr(s"INTERVAL $windowDays DAYS"))
      // feeds per-conv totals, per-type, last-touch
      .transform(Materialize(_, "Sequences.multiTouchAttribution: pairs"))
    val per = pairs.groupBy(col("__cid"))
      .agg(count(lit(1)).cast("bigint").as("__nt"),
        max(struct(col("__tts").as("ts"), col("__tid").as("id"),
          col("__tk").as("t"))).as("__last"))
      // feeds the linear join AND the last-touch agg
      .transform(Materialize(_, "Sequences.multiTouchAttribution: per"))
    val byType = pairs.groupBy(col("__cid"), col("__tk"))
      .agg(count(lit(1)).cast("bigint").as("__cnt"))
    val linear = byType.join(per.select(col("__cid"), col("__nt")), "__cid")
      .groupBy(col("__tk"))
      .agg(sum(col("__cnt")).cast("bigint").as("n_touches"),
        sum(col("__cnt") * expr("1000000L div __nt")).cast("bigint")
          .as("linear_credit_micro"))
    val last = per.groupBy(col("__last.t").as("__tk"))
      .agg(count(lit(1)).cast("bigint").as("last_touch_convs"))
    linear.join(last, Seq("__tk"), "left")
      .select(col("__tk").as("event_type"), col("n_touches"),
        coalesce(col("last_touch_convs"), lit(0L)).as("last_touch_convs"),
        col("linear_credit_micro"))
      .orderBy(col("event_type"))
  }

  /** Weekday seasonality per event type — the day-of-week profile plus
    * its chi-square read against the uniform-rate null: over each
    * type's own dense day span (the [[cusumChangepoint]] spine, so a
    * weekday with zero events still reports), `n_days` counts the
    * weekday's calendar days in the span, `expected_micro` is the
    * uniform-rate expectation T·d_w/D in micro, and `chi2_micro` is
    * the cell's (o−e)²/e contribution — summable downstream into the
    * 6-degree-of-freedom statistic. A strong weekday cell = genuine
    * weekly periodicity, the read x135's CUSUM level-shift and x56's
    * daily z-scores both integrate away.
    *
    * Exact cross-engine: (o−e)²/e = (o·D − T·d_w)² / (D·T·d_w) rides
    * exact integer differences; only the final square-and-divide runs
    * in double, micro-quantized ONCE per cell (the x191 idiom).
    * ISO weekday numbering (1 = Monday … 7 = Sunday) on both engines.
    *
    * Scale: daily collapse → per-type span → generated spine — all
    * hash aggregations over (type, day)-bounded frames; no window.
    *
    * Output: (event_type, isodow, n_days, n_events, expected_micro,
    * chi2_micro), ordered by (type, isodow). */
  def weekdaySeasonality(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .select(col(typeCol).as("__t"), to_date(col(tsCol)).as("__day"))
      .groupBy(col("__t"), col("__day")).agg(count(lit(1)).as("__x"))
    val spans = daily.groupBy(col("__t"))
      .agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val spine = spans.select(col("__t"),
      explode(expr("sequence(__lo, __hi, interval 1 day)")).as("__day"))
    val dense = spine.join(daily, Seq("__t", "__day"), "left")
      .select(col("__t"), (weekday(col("__day")) + 1).cast("int").as("__dow"),
        coalesce(col("__x"), lit(0L)).as("__x"))
    val perDow = dense.groupBy(col("__t"), col("__dow"))
      .agg(count(lit(1)).cast("bigint").as("__dw"),
        sum(col("__x")).cast("bigint").as("__o"))
    val totals = perDow.groupBy(col("__t"))
      .agg(sum(col("__dw")).cast("bigint").as("__dd"),
        sum(col("__o")).cast("bigint").as("__tt"))
    perDow.join(broadcast(totals), "__t")
      .filter(col("__tt") > 0)
      .select(col("__t").as("event_type"), col("__dow").as("isodow"),
        col("__dw").as("n_days"), col("__o").as("n_events"),
        // DECIMAL(38,0) product (ADVICE r13): __tt·__dw·10⁶ wraps
        // Long once events-per-type × weekday-day-count exceeds
        // ~9.2e12 (a decade-long 1e10-event type). Decimal is exact
        // to 1e38; floor(decimal /) == integer div for positives, and
        // the quotient (≤ __tt·10⁶ div 7 in magnitude for any real
        // span) casts back to the BIGINT output column.
        floor(col("__tt").cast("decimal(38,0)") *
            col("__dw").cast("decimal(38,0)") *
            lit(1000000).cast("decimal(38,0)") /
            col("__dd").cast("decimal(38,0)"))
          .cast("bigint").as("expected_micro"),
        expr("""CAST(round(
          | CAST(__o * __dd - __tt * __dw AS DOUBLE) *
          | CAST(__o * __dd - __tt * __dw AS DOUBLE) * 1000000.0D /
          | (CAST(__dd AS DOUBLE) * CAST(__tt AS DOUBLE) *
          |  CAST(__dw AS DOUBLE))) AS BIGINT)""".stripMargin)
          .as("chi2_micro"))
      .orderBy(col("event_type"), col("isodow"))
  }
  /** Stationary distribution of the event-type Markov chain — where
    * [[transitionMatrix]] reports one-step probabilities, this runs
    * the chain to its long-run occupancy: the share of time a user's
    * event process spends in each state, the "what does steady-state
    * traffic look like" read behind capacity planning and behavioral
    * drift baselines. Fixed synchronous power iteration (π ← πP) in
    * the [[graft.operators.Graph.pageRank]] integer idiom: π starts
    * at 10⁶ per state, each step ships (π(src)·n) div tot(src) along
    * every observed transition and integer-sums at the destination —
    * exact in any accumulation order, engine-portable. Floor division
    * leaks ≤ 1 micro per (state, round) of mass and sink states
    * re-emit nothing (documented contract — the read is the RATIO
    * between states, which convergence preserves).
    *
    * Scale: transitions collapse to the (src, dst) count frame once
    * (checkpointed); each round is one src-keyed join + one dst-keyed
    * aggregation over that state-cardinality frame — never the event
    * volume. The per-user ordering window is per-user-bounded.
    *
    * Output: (event_type, pi_micro) after `iters` rounds, ordered by
    * type; states with no outgoing edges report their drained mass. */
  def markovStationary(events: DataFrame, iters: Int = 10,
      keyCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id", typeCol: String = "event_type"): DataFrame = {
    require(iters >= 1 && iters <= 64,
      s"markovStationary: iters must be in [1, 64], got $iters")
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val trans = events
      .withColumn("__prev", lag(col(typeCol), 1).over(byKey))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("src"), col(typeCol).as("dst"))
      .agg(count(lit(1)).cast("bigint").as("n"))
    val totals = trans.groupBy(col("src"))
      .agg(sum(col("n")).cast("bigint").as("tot"))
    val edges = Materialize(trans.join(totals, "src"), "Sequences.markovStationary: edges")
    val states = edges.select(col("src").as("state"))
      .union(edges.select(col("dst").as("state"))).distinct()
      .transform(Materialize(_, "Sequences.markovStationary: states"))
    // round 0 is a literal column over the states checkpoint
    val stationary = Materialize.rounds(states.withColumn("pi_micro", lit(1000000L)),
        iters, "Sequences.markovStationary: round") { (pi, _) =>
      val stepped = edges.join(pi, edges("src") === pi("state"))
        .select(col("dst").as("state"),
          expr("(pi_micro * n) div tot").as("__m"))
        .groupBy(col("state"))
        .agg(sum(col("__m")).cast("bigint").as("__pi2"))
      states.join(stepped, Seq("state"), "left")
        .select(col("state"),
          coalesce(col("__pi2"), lit(0L)).as("pi_micro"))
    }
    stationary.select(col("state").as("event_type"), col("pi_micro"))
      .orderBy(col("event_type"))
  }

  /** Exact daily AUTOCORRELATION per event type — the seasonality
    * detector behind [[weekdaySeasonality]]'s fixed-period test: ACF
    * at lag 1 (momentum/burst persistence) and lag 7 (weekly rhythm)
    * over the zero-filled dense day spine. The integer-exactness
    * trick: with n days and total T, the n-SCALED deviations
    * dₜ = n·xₜ − T are exact integers, and the n² factors cancel in
    * the ACF ratio Σ dₜ·dₜ₊ₖ / Σ dₜ² — so the whole statistic is one
    * integer division, no mean rounding anywhere (the x217 sibling of
    * x202's integer power iteration). Numerator pairs run t ≤ n−k,
    * the denominator over all n days (the standard biased ACF).
    *
    * Scale: dense spine bounded by types × calendar span (the
    * x135/x200 envelope); deviations and the k-step neighbor come
    * from ONE type-partitioned window over the spine; products sum
    * in DECIMAL(38,0) (n·xₜ reaches 10⁵·10¹² for a decade-long
    * 10¹²-event type — past BIGINT).
    *
    * Output: (event_type, lag, n_days,
    * acf_micro = Σdₜdₜ₊ₖ·10⁶ div Σdₜ², truncation parity with the
    * oracle's //), ordered by (event_type, lag). Excluded, not
    * NULL-padded: types with zero variance, and (type, lag) cells
    * whose day span is ≤ the lag (zero lagged pairs — the numerator
    * sum is empty, so the ACF is undefined there). */
  def dailyAutocorrelation(events: DataFrame, lags: Seq[Int] = Seq(1, 7),
      typeCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lags.nonEmpty && lags.forall(_ >= 1),
      s"dailyAutocorrelation: lags must be >= 1, got $lags")
    require(lags.distinct.size == lags.size,
      s"dailyAutocorrelation: duplicate lags in $lags")
    val dec = "decimal(38,0)"
    val daily = events
      .select(col(typeCol).as("__t"), to_date(col(tsCol)).as("__day"))
      .groupBy(col("__t"), col("__day")).agg(count(lit(1)).as("__x"))
    val spans = daily.groupBy(col("__t"))
      .agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val spine = spans.select(col("__t"),
      explode(expr("sequence(__lo, __hi, interval 1 day)")).as("__day"))
    val dense = spine.join(daily, Seq("__t", "__day"), "left")
      .select(col("__t"), col("__day"),
        coalesce(col("__x"), lit(0L)).as("__x"))
    val tot = dense.groupBy(col("__t"))
      .agg(count(lit(1)).cast("bigint").as("__n"),
        sum(col("__x")).cast("bigint").as("__tt"))
    val dev = dense.join(broadcast(tot), "__t")
      .select(col("__t"), col("__day"), col("__n"),
        (col("__n").cast(dec) * col("__x").cast(dec) -
          col("__tt").cast(dec)).as("__d"))
      // one spine frame feeds every lag
      .transform(Materialize(_, "Sequences.dailyAutocorrelation: dev"))
    val w = Window.partitionBy(col("__t")).orderBy(col("__day"))
    val lagged = dev.select(
      (col("__t") +: col("__n") +: col("__d") +:
        lags.map(k => lead(col("__d"), k).over(w).as(s"__d$k"))): _*)
    val lagArr = array(lags.sorted.map(k => lit(k.toLong)): _*)
    lagged
      .groupBy(col("__t"), col("__n").as("n_days")) // __n constant per type
      .agg(sum(col("__d") * col("__d")).as("__den"),
        lags.map(k => sum(col("__d") * col(s"__d$k")).as(s"__num$k")): _*)
      .filter(col("__den") > 0)
      .select(col("__t"), col("n_days"), col("__den"),
        explode(lagArr).as("lag"),
        // pick this lag's numerator off the wide row
        lags.sorted.map(k => when(lit(k.toLong) === col("lag"),
          col(s"__num$k"))).reduce(coalesce(_, _)).as("__num"))
      // a type whose day span is ≤ this lag has ZERO lagged pairs
      // (the lead-product sum is empty → NULL): no row, not NULL acf
      .filter(col("__num").isNotNull)
      .select(col("__t").as(typeCol), col("lag"), col("n_days"),
        expr("(__num * CAST(1000000 AS DECIMAL(38,0))) div __den")
          .as("acf_micro"))
      .orderBy(col(typeCol), col("lag"))
  }

  /** Linear interpolation over each series' daily gaps — the metric
    * REPAIR read next to [[weekdaySeasonality]]'s dense spine and
    * q40's zero-fill: a day with no observations for a type gets the
    * straight-line value between its nearest observed neighbors,
    * v(d) = vp + (vn − vp)·(d − dp) div (dn − dp), floor-exact in
    * integer cents (Spark `div` and DuckDB `//` both truncate toward
    * zero, so the negative-slope case stays engine-exact). Days
    * before a type's first observation or after its last emit the
    * boundary value (constant extrapolation is the min/max-day spine,
    * so only interior gaps actually interpolate).
    *
    * Scale design: observed days collapse to a per-(type, day) hash
    * aggregation first; the spine (bounded by types × calendar span,
    * NOT event rows — the x135/x200 envelope) carries four
    * type-partitioned windows (last/first non-null value and day) and
    * the arithmetic is integer-only. No event-row windows anywhere.
    *
    * Output: (event_type, day, v_cents, interpolated), ordered. */
  def interpolateDaily(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(col(typeCol).as("__t"), to_date(col(tsCol)).as("__day"),
        expr(s"CAST(round($valueCol * 100.0D) AS BIGINT)").as("__c"))
      .groupBy(col("__t"), col("__day"))
      .agg(sum(col("__c")).cast("bigint").as("__v"))
    val spans = daily.groupBy(col("__t"))
      .agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val spine = spans.select(col("__t"),
      explode(expr("sequence(__lo, __hi, interval 1 day)")).as("__day"))
    val dense = spine.join(daily, Seq("__t", "__day"), "left")
    val wb = Window.partitionBy(col("__t")).orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("__t")).orderBy(col("__day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    dense
      .withColumn("__vp", last(col("__v"), ignoreNulls = true).over(wb))
      .withColumn("__dp", last(when(col("__v").isNotNull, col("__day")),
        ignoreNulls = true).over(wb))
      .withColumn("__vn", first(col("__v"), ignoreNulls = true).over(wf))
      .withColumn("__dn", first(when(col("__v").isNotNull, col("__day")),
        ignoreNulls = true).over(wf))
      .select(col("__t").as("event_type"), col("__day").as("day"),
        when(col("__v").isNotNull, col("__v"))
          // interior gap: straight line between the neighbors
          .when(col("__vp").isNotNull && col("__vn").isNotNull,
            col("__vp") + expr("""(__vn - __vp) *
              | datediff(__day, __dp) div datediff(__dn, __dp)""".stripMargin))
          // boundary: constant extrapolation (min/max-day spine makes
          // this unreachable, kept for non-span spines)
          .otherwise(coalesce(col("__vp"), col("__vn"))).as("v_cents"),
        col("__v").isNull.as("interpolated"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Temporal split audit — the time-based train/test discipline an
    * event-derived training set needs (random splits leak the future;
    * the split must be a DATE cut) plus the leakage reads that decide
    * whether the cut is honest: the cutoff day is the exact
    * ⌈trainPct·n/100⌉-th event's day (so ≥ trainPct% of events train,
    * ties on the boundary day train together — a day is never split),
    * and the audit reports the user overlap across the cut: test
    * events from users SEEN in training are fine for per-user
    * personalization but are entity leakage for user-level
    * generalization claims — the share is the number that says which
    * claim the split supports (the event-time sibling of x64/x206's
    * content-split leakage).
    *
    * Exactness: the cutoff is an exact order statistic off the DAY
    * histogram; counts exact BIGINT; the share is one truncating
    * DECIMAL(38,0) micro division.
    *
    * Scale: one hash agg to the day histogram (calendar-bounded, so
    * its single-partition cumulative window needs no envelope), one
    * broadcast of the 1-row cutoff, distinct-user aggregates and two
    * LEFT SEMI joins against the train-user set — all shuffled
    * equi-joins on user id, no row-volume windows.
    *
    * Output (1 row; empty when no events): (cutoff_day, n_train,
    * n_test, n_users_train, n_users_test, n_users_both,
    * seen_user_test_events, seen_share_micro — null when the test
    * side is empty). */
  def temporalSplitAudit(events: DataFrame, tsCol: String = "ts",
      userCol: String = "user_id", trainPct: Int = 80): DataFrame = {
    require(trainPct >= 1 && trainPct <= 99,
      s"temporalSplitAudit: trainPct must be in [1, 99], got $trainPct")
    import org.apache.spark.sql.expressions.Window
    val base = events
      .select(to_date(col(tsCol)).as("__d"), col(userCol).as("__u"))
      .filter(col("__d").isNotNull && col("__u").isNotNull)
    val hist = base.groupBy(col("__d")).agg(count(lit(1)).as("__c"))
    val cut = hist
      .withColumn("__cum", sum(col("__c")).over(Window.orderBy(col("__d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy()))
      .filter(expr(s"__cum >= (__n * $trainPct + 99) div 100"))
      .agg(min(col("__d")).as("__cutoff"))
    val flagged = base.crossJoin(broadcast(cut))
      .select(col("__u"), (col("__d") <= col("__cutoff")).as("__train"),
        col("__cutoff"))
      // feeds counts, user sets, and semi joins
      .transform(Materialize(_, "Sequences.temporalSplitAudit: flagged"))
    val trainUsers = flagged.filter(col("__train")).select(col("__u"))
      .distinct().transform(Materialize(_, "Sequences.temporalSplitAudit: trainUsers"))
    val counts = flagged.agg(first(col("__cutoff")).as("cutoff_day"),
      sum(when(col("__train"), 1L).otherwise(0L)).cast("bigint")
        .as("n_train"),
      sum(when(col("__train"), 0L).otherwise(1L)).cast("bigint")
        .as("n_test"))
    val uTrain = trainUsers.agg(count(lit(1)).cast("bigint")
      .as("n_users_train"))
    val testUsers = flagged.filter(!col("__train")).select(col("__u"))
      .distinct().transform(Materialize(_, "Sequences.temporalSplitAudit: testUsers"))
    val uTest = testUsers.agg(count(lit(1)).cast("bigint")
      .as("n_users_test"))
    val uBoth = testUsers.join(trainUsers, Seq("__u"), "left_semi")
      .agg(count(lit(1)).cast("bigint").as("n_users_both"))
    val seen = flagged.filter(!col("__train"))
      .join(trainUsers, Seq("__u"), "left_semi")
      .agg(count(lit(1)).cast("bigint").as("seen_user_test_events"))
    counts.crossJoin(broadcast(uTrain)).crossJoin(broadcast(uTest))
      .crossJoin(broadcast(uBoth)).crossJoin(broadcast(seen))
      .filter(col("n_train") + col("n_test") > 0)
      .select(col("cutoff_day"), col("n_train"), col("n_test"),
        col("n_users_train"), col("n_users_test"), col("n_users_both"),
        col("seen_user_test_events"),
        when(col("n_test") > 0, expr(
          "(CAST(seen_user_test_events AS DECIMAL(38,0)) * 1000000) " +
            "div n_test").cast("bigint"))
          .as("seen_share_micro"))
  }

  /** Behavioral-boilerplate catalog — x229's duplicated-text read
    * lifted to EVENT SEQUENCES: each (user, day) session becomes the
    * ordered string of its event types, and a pattern served by many
    * sessions — especially across many users — is scripted traffic
    * (bots, SDK retry loops, synthetic monitors) that a behavioral
    * training set must dedup exactly like boilerplate text. The
    * per-user session grain rides the DAY boundary (deterministic,
    * replayable) rather than a gap rule so both engines cut sessions
    * identically. Event types are ESCAPED before joining ('\' → '\\',
    * then '>' → '\>') so the '>' delimiter is unambiguous: without
    * it, types ("a>b","c") and ("a","b>c") both rendered "a>b>c" at
    * session_len 2 and distinct scripted-traffic signatures silently
    * merged (r15 ADVICE).
    *
    * Scale discipline: session SIZES are counted FIRST (one hash agg)
    * and sessions longer than `maxLen` never reach the collect — the
    * fence runs before the memory cost exists, and the dropped count
    * is reported (no silent cap). The per-session ordering is a
    * sort_array over one bounded session's structs (≤ maxLen
    * elements; the per-element lambda is interpreted but fenced —
    * the round-9 trap applies to UNBOUNDED per-row loops). Pattern
    * grouping is a partial+final hash agg on the bounded pattern
    * string.
    *
    * Output (patterns served by ≥ minSessions sessions, plus the
    * shared drop count — the x235 repeated-column convention):
    * (pattern, session_len, n_sessions, n_users, n_dropped_long),
    * ordered by (n_sessions desc, pattern). */
  def behaviorBoilerplate(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      idCol: String = "event_id", maxLen: Int = 200,
      minSessions: Long = 2L): DataFrame = {
    require(maxLen >= 1 && maxLen <= 10000,
      s"behaviorBoilerplate: maxLen must be in [1, 10000], got $maxLen")
    require(minSessions >= 1,
      s"behaviorBoilerplate: minSessions must be >= 1, got $minSessions")
    val base = events.select(col(userCol).as("__u"),
        to_date(col(tsCol)).as("__d"), col(tsCol).as("__ts"),
        col(idCol).as("__i"),
        // delimiter-escape: '\'→'\\' FIRST, then '>'→'\>' — order
        // matters (reversed, an escaped '\>' would re-escape)
        replace(replace(col(typeCol).cast("string"),
            lit("\\"), lit("\\\\")), lit(">"), lit("\\>")).as("__t"))
      .filter(col("__u").isNotNull && col("__d").isNotNull &&
        col("__i").isNotNull && col("__t").isNotNull)
    val sz = base.groupBy(col("__u"), col("__d"))
      .agg(count(lit(1)).cast("long").as("__c"))
      // feeds the fence AND the drop count
      .transform(Materialize(_, "Sequences.behaviorBoilerplate: sizes"))
    val dropped = sz.filter(col("__c") > maxLen)
      .agg(count(lit(1)).cast("bigint").as("n_dropped_long"))
    val keep = sz.filter(col("__c") <= maxLen).select(col("__u"), col("__d"))
    val seqs = base.join(keep, Seq("__u", "__d"), "left_semi")
      .groupBy(col("__u"), col("__d"))
      .agg(expr("concat_ws('>', transform(" +
        "sort_array(collect_list(struct(__ts, __i, __t))), x -> x.__t))")
        .as("pattern"),
        count(lit(1)).cast("bigint").as("__len"))
    seqs.groupBy(col("pattern"), col("__len"))
      .agg(count(lit(1)).cast("bigint").as("n_sessions"),
        count_distinct(col("__u")).cast("bigint").as("n_users"))
      .filter(col("n_sessions") >= minSessions)
      .crossJoin(broadcast(dropped))
      .select(col("pattern"), col("__len").as("session_len"),
        col("n_sessions"), col("n_users"), col("n_dropped_long"))
      .orderBy(col("n_sessions").desc, col("pattern"))
  }
}
