package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Extension queries over [[graft.operators.Sequences]]: sessions,
  * funnels, paths and event time series.
  * Loaders, shared oracle SQL and the oracle contract: [[CorpusHelpers]]. */
object SequencesQueries extends QueryFamily {

  /** x40 conversion funnel over per-(user, day) ordered event
    * sequences: deepest view→click→purchase prefix reached, counted
    * per depth. Sequence order is (ts, event_id) — total because event
    * ids are unique — built as ONE collect_list hash agg (no window
    * shuffle); the oracle replays it with an ordered string_agg. */
  val x40 = query("x40_event_funnel",
    // Ordered string_agg replays the engine's (ts, event_id) struct
    // sort — keyed on epoch_us(ts) because the engine reads the ns
    // parquet timestamps µs-truncated: a ns-preserving DuckDB ordering
    // raw ts could break same-µs ties differently than (µs, event_id).
    // The item-anchored subsequence regexes come from the SAME builder
    // as the engine's (Sequences.subsequenceRegex) — one rendering of
    // the containment contract, legal in both RE2 and java.util.regex.
    {
      import graft.operators.Sequences.subsequenceRegex
      val st = Seq("view", "click", "purchase")
      s"""WITH s AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day,
         |         string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id) AS seq
         |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
         |st AS (
         |  SELECT CASE WHEN regexp_matches(seq, '${subsequenceRegex(st)}') THEN 3
         |              WHEN regexp_matches(seq, '${subsequenceRegex(st.take(2))}') THEN 2
         |              WHEN regexp_matches(seq, '${subsequenceRegex(st.take(1))}') THEN 1
         |              ELSE 0 END AS funnel_stage
         |  FROM s)
         |SELECT funnel_stage, count(*) AS user_days FROM st
         |GROUP BY funnel_stage ORDER BY funnel_stage""".stripMargin
    }) { (s, dir) =>
    graft.operators.Sequences.funnel(
        Tables.load(s, dir, "events"), Seq("view", "click", "purchase"))
      .orderBy(col("funnel_stage"))
  }

  /** x45 SCD2 validity intervals over the event stream: each event's
    * type is valid [its second, next event's second) per user, open
    * for the latest. Epoch seconds are exact BIGINT floors of the µs
    * reads — stable across sub-second storage precisions. */
  val x45 = query("x45_scd2_intervals",
    // lead() over the µs-pinned (ts, event_id) order replays the
    // engine's window; epoch seconds are exact integer floors.
    """SELECT user_id, event_id, event_type,
      |       epoch_us(ts) // 1000000 AS valid_from_s,
      |       lead(epoch_us(ts)) OVER w // 1000000 AS valid_to_s
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |ORDER BY user_id, valid_from_s, event_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.validityIntervals(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_id", "event_type")
      .orderBy(col("user_id"), col("valid_from_s"), col("event_id"))
  }

  /** x79 per-session transcripts: 1-hour-gap sessionization (q22's
    * rule) + ordered event-type path + exact decimal value sum — see
    * [[graft.operators.Sequences.sessionTranscripts]]. */
  val x79 = query("x79_session_transcripts",
    // q22's exact session rule (gap > 1h on (ts, event_id) order) with
    // the transcript aggregates: ordered string_agg path and the
    // DECIMAL(18,2) value sum (exact in any accumulation order).
    """WITH s AS (
      |  SELECT user_id, event_id, ts, event_type, value,
      |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (SELECT user_id, event_id, ts, event_type, value,
      |               CASE WHEN lag(ts) OVER (PARTITION BY user_id
      |                                       ORDER BY ts, event_id) IS NULL
      |                         OR ts > lag(ts) OVER (PARTITION BY user_id
      |                                       ORDER BY ts, event_id) + INTERVAL '1' HOUR
      |                    THEN 1 ELSE 0 END AS new_s
      |        FROM events) a)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n,
      |       string_agg(event_type, '->' ORDER BY ts, event_id) AS path,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.sessionTranscripts(
        Tables.load(s, dir, "events"), gap = "1 HOUR")
      .orderBy(col("user_id"), col("session_id"))
  }

  /** x87 first-order event-transition matrix with exact integer
    * conditional probabilities — see
    * [[graft.operators.Sequences.transitionMatrix]]. */
  val x87 = query("x87_transition_matrix",
    // Same (ts, event_id) per-user ordering as q22; the conditional
    // probability is integer-exact: n·10⁶ // per-prev-state total.
    """WITH p AS (
      |  SELECT prev_type, event_type AS next_type, count(*) AS n FROM (
      |    SELECT event_type,
      |           lag(event_type) OVER (PARTITION BY user_id
      |                                 ORDER BY ts, event_id) AS prev_type
      |    FROM events) t
      |  WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, event_type),
      |tot AS (SELECT prev_type, sum(n) AS tt FROM p GROUP BY prev_type)
      |SELECT p.prev_type, p.next_type, p.n,
      |       CAST((p.n * 1000000) // tot.tt AS BIGINT) AS p_micro
      |FROM p JOIN tot USING (prev_type)
      |ORDER BY p.prev_type, p.next_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.transitionMatrix(Tables.load(s, dir, "events"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** x92 weekly retention cohorts over the event log — see
    * [[graft.operators.Sequences.retentionCohorts]]: Monday-truncated
    * first-week cohorts, integer-exact week offsets, and the retention
    * rate in micro-units (no float division anywhere). */
  val x92 = query("x92_retention_cohorts",
    // Replays retentionCohorts term by term: date_trunc('week') is ISO
    // Monday in both engines, the offset subtracts two Monday dates
    // (exactly divisible by 7), and the rate is integer floor-division
    // on non-negative longs — identical in Spark (`div`) and DuckDB
    // (`//`).
    """WITH f AS (SELECT user_id,
      |                  CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |           FROM events GROUP BY user_id),
      |sz AS (SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY 1),
      |act AS (SELECT f.cohort_week,
      |               datediff('day', f.cohort_week,
      |                        CAST(date_trunc('week', e.ts) AS DATE)) // 7
      |                 AS week_offset,
      |               e.user_id
      |        FROM events e JOIN f USING (user_id)),
      |r AS (SELECT cohort_week, week_offset,
      |             count(DISTINCT user_id) AS active_users
      |      FROM act GROUP BY 1, 2)
      |SELECT CAST(r.cohort_week AS STRING) AS cohort_week,
      |       CAST(week_offset AS BIGINT) AS week_offset,
      |       CAST(active_users AS BIGINT) AS active_users,
      |       CAST(cohort_size AS BIGINT) AS cohort_size,
      |       CAST(active_users * 1000000 // cohort_size AS BIGINT)
      |         AS retention_micro
      |FROM r JOIN sz USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.retentionCohorts(Tables.load(s, dir, "events"))
      // dates travel as strings through the gate (house convention —
      // q19/q33 do the same): pandas renders DATE differently per engine
      .withColumn("cohort_week", col("cohort_week").cast("string"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** x97 rolling active users — see
    * [[graft.operators.Sequences.rollingActiveUsers]]: exact DAU,
    * trailing-7-day WAU, and integer-micro stickiness per observed
    * day; the event volume collapses to the distinct (day, user)
    * frame before any windowed work. */
  val x97 = query("x97_rolling_actives",
    // Replays rollingActiveUsers on the distinct (day, user) frame:
    // trailing-7-CALENDAR-day window via the day range join, exact
    // distincts, integer floor-division stickiness.
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u
      |            FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
      |days AS (SELECT DISTINCT day AS anchor FROM du),
      |wau AS (SELECT anchor, count(DISTINCT u) AS wau
      |        FROM du JOIN days ON du.day <= anchor AND du.day > anchor - 7
      |        GROUP BY anchor)
      |SELECT CAST(dau.day AS STRING) AS day, CAST(dau AS BIGINT) AS dau,
      |       CAST(wau AS BIGINT) AS wau,
      |       CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_micro
      |FROM dau JOIN wau ON dau.day = wau.anchor
      |ORDER BY day""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.rollingActiveUsers(Tables.load(s, dir, "events"))
      .withColumn("day", col("day").cast("string"))
      .orderBy(col("day"))
  }

  /** x99 per-user time-to-convert — see
    * [[graft.operators.Sequences.timeToConvert]] over
    * [[graft.operators.Joins.asOfForward]]: first view → earliest
    * at-or-after purchase, exact integer-second gaps, non-converters
    * kept as null-delta rows. */
  val x99 = query("x99_time_to_convert",
    // Replays timeToConvert: the forward as-of collapses to
    // min(purchase.ts ≥ first_view.ts) per user — only the matched TS
    // surfaces, so the (ts, event_id) tie-break is value-invisible —
    // and the second gaps are integer floor-divisions of epoch-µs.
    """WITH v AS (SELECT user_id, min(ts) AS fts FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT v.user_id, v.fts, min(p.ts) AS cts
      |      FROM v LEFT JOIN p
      |        ON p.user_id = v.user_id AND p.ts >= v.fts
      |      GROUP BY v.user_id, v.fts)
      |SELECT user_id,
      |       CAST(epoch_us(fts) // 1000000 AS BIGINT) AS from_s,
      |       CAST(epoch_us(cts) // 1000000 AS BIGINT) AS to_s,
      |       CAST((epoch_us(cts) - epoch_us(fts)) // 1000000 AS BIGINT)
      |         AS delta_s
      |FROM c ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.timeToConvert(
        Tables.load(s, dir, "events"), "view", "purchase")
      .orderBy(col("user_id"))
  }

  /** x106 market-basket lift over the event log — see
    * [[graft.operators.Sequences.basketPairs]]: which event types
    * co-occur in a user-day beyond their base rates, integer-micro
    * lift. */
  val x106 = query("x106_basket_lift",
    // Replays basketPairs: distinct (user, day, type) items, the
    // within-basket pair join, and the integer-micro lift.
    """WITH items AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d,
      |                      event_type AS t
      |               FROM events),
      |n AS (SELECT count(*) AS n_baskets
      |      FROM (SELECT DISTINCT u, d FROM items)),
      |s AS (SELECT t, count(*) AS n1 FROM items GROUP BY t),
      |p AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_pairs
      |      FROM items a JOIN items b
      |        ON a.u = b.u AND a.d = b.d AND a.t < b.t
      |      GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, CAST(n_pairs AS BIGINT) AS n_pairs,
      |       CAST(sa.n1 AS BIGINT) AS n_a, CAST(sb.n1 AS BIGINT) AS n_b,
      |       CAST(n.n_baskets AS BIGINT) AS n_baskets,
      |       CAST(n_pairs * n.n_baskets * 1000000 // (sa.n1 * sb.n1)
      |            AS BIGINT) AS lift_micro
      |FROM p JOIN s sa ON sa.t = p.type_a
      |       JOIN s sb ON sb.t = p.type_b
      |       CROSS JOIN n
      |ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.basketPairs(Tables.load(s, dir, "events"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** x108 hour-of-day seasonal deviation — see
    * [[graft.operators.Sequences.hourlyBaselineDeviation]]: each
    * (date, hour) cell against its hour's cross-day baseline, the
    * seasonality-aware complement to x56's global z-score. */
  val x108 = query("x108_hourly_deviation",
    // Replays hourlyBaselineDeviation: (date, hour) cells, cross-day
    // hour totals, distinct-day count, both integer floor-divisions,
    // the 2x spike compare.
    """WITH cells AS (SELECT CAST(ts AS DATE) AS day,
      |                      CAST(extract(hour FROM ts) AS INT) AS hr,
      |                      count(*) AS n
      |               FROM events GROUP BY 1, 2),
      |d AS (SELECT count(DISTINCT day) AS n_days FROM cells),
      |b AS (SELECT hr, CAST(sum(n) AS BIGINT) AS tot FROM cells GROUP BY hr)
      |SELECT CAST(c.day AS STRING) AS day, c.hr, CAST(c.n AS BIGINT) AS n,
      |       CAST(b.tot * 1000000 // d.n_days AS BIGINT) AS base_micro,
      |       CAST(c.n * d.n_days * 1000000 // b.tot AS BIGINT) AS ratio_micro,
      |       c.n * d.n_days * 1000000 // b.tot >= 2000000 AS is_spike
      |FROM cells c JOIN b USING (hr) CROSS JOIN d
      |ORDER BY day, hr""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.hourlyBaselineDeviation(
        Tables.load(s, dir, "events"))
      .withColumn("day", col("day").cast("string"))
      .orderBy(col("day"), col("hr"))
  }

  /** x109 weekly growth accounting — see
    * [[graft.operators.Sequences.growthAccounting]]: every week's
    * actives decomposed into new/retained/resurrected with the
    * reconciling churn count — the attributable form of a DAU curve. */
  val x109 = query("x109_growth_accounting",
    // Replays growthAccounting: Monday weeks, first-week per user,
    // prev-week membership by the (user, week−7) self-join, and the
    // shifted-totals churn identity.
    """WITH wu AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS wk,
      |                   user_id AS u
      |            FROM events),
      |f AS (SELECT u, min(wk) AS fw FROM wu GROUP BY u),
      |cls AS (SELECT wu.wk, wu.u,
      |          CASE WHEN wu.wk = f.fw THEN 'new'
      |               WHEN p.u IS NOT NULL THEN 'retained'
      |               ELSE 'resurrected' END AS c
      |        FROM wu JOIN f USING (u)
      |        LEFT JOIN wu p ON p.u = wu.u AND p.wk = wu.wk - 7),
      |bw AS (SELECT wk, count(*) AS actives,
      |         CAST(sum(CASE WHEN c = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS new_users,
      |         CAST(sum(CASE WHEN c = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS retained,
      |         CAST(sum(CASE WHEN c = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS resurrected
      |       FROM cls GROUP BY wk)
      |SELECT CAST(bw.wk AS STRING) AS week,
      |       CAST(bw.actives AS BIGINT) AS actives, bw.new_users,
      |       bw.retained, bw.resurrected,
      |       CAST(coalesce(pv.actives, 0) - bw.retained AS BIGINT) AS churned
      |FROM bw LEFT JOIN bw pv ON pv.wk = bw.wk - 7
      |ORDER BY week""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.growthAccounting(Tables.load(s, dir, "events"))
      .withColumn("week", col("week").cast("string"))
      .orderBy(col("week"))
  }

  /** x114 dense calendar spine with gap-fill and a trailing 7-day
    * total — see [[graft.operators.Sequences.calendarSpine]]: the
    * rolling read that stays honest across silent days. */
  val x114 = query("x114_calendar_spine",
    // Replays calendarSpine: per-day counts, generate_series dense
    // spine, zero-filled left join, 7-ROW trailing sum (rows ≡ days on
    // the dense spine).
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |                      CAST(count(*) AS BIGINT) AS n
      |               FROM events GROUP BY 1),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
      |spine AS (SELECT CAST(unnest(generate_series(lo::TIMESTAMP,
      |                 hi::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
      |          FROM b),
      |f AS (SELECT s.day, coalesce(d.n, 0) AS n, d.n IS NULL AS is_gap
      |      FROM spine s LEFT JOIN daily d USING (day))
      |SELECT CAST(day AS STRING) AS day, CAST(n AS BIGINT) AS n,
      |       CAST(sum(n) OVER (ORDER BY day
      |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_roll,
      |       is_gap
      |FROM f ORDER BY day""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.calendarSpine(Tables.load(s, dir, "events"))
      .withColumn("day", col("day").cast("string"))
      .orderBy(col("day"))
  }

  /** x120 per-user consecutive-day streaks — see
    * [[graft.operators.Sequences.dailyStreaks]]: gaps-and-islands on
    * the distinct (user, day) frame; longest and latest runs. */
  val x120 = query("x120_daily_streaks",
    // Replays dailyStreaks: distinct (user, day), the day − row_number
    // island anchor, arg_max for the latest island (island end days
    // are distinct per user by construction, so arg_max is total).
    """WITH du AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
      |            FROM events),
      |i AS (SELECT u, day,
      |        day - CAST(row_number() OVER (PARTITION BY u ORDER BY day)
      |                   AS INT) AS anchor
      |      FROM du),
      |isl AS (SELECT u, anchor, CAST(count(*) AS BIGINT) AS len,
      |               max(day) AS e
      |        FROM i GROUP BY u, anchor)
      |SELECT u AS user_id, CAST(sum(len) AS BIGINT) AS n_days,
      |       CAST(count(*) AS BIGINT) AS n_streaks,
      |       CAST(max(len) AS BIGINT) AS longest_streak,
      |       CAST(arg_max(len, e) AS BIGINT) AS latest_streak
      |FROM isl GROUP BY u ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.dailyStreaks(Tables.load(s, dir, "events"))
      .orderBy(col("user_id"))
  }

  /** x123 per-type weekly OLS trend — see
    * [[graft.operators.Sequences.weeklyTrend]]: dense week index
    * (silent weeks as zeros), exact integer moment sums, one
    * sign-decomposed micro division. */
  val x123 = query("x123_weekly_trend",
    // Replays weeklyTrend: dense (type × week) grid with zero fill,
    // exact integer moments, sign-decomposed micro slope.
    """WITH wk AS (SELECT event_type AS t,
      |                   CAST(date_trunc('week', ts) AS DATE) AS w,
      |                   count(*) AS y
      |            FROM events GROUP BY 1, 2),
      |b AS (SELECT min(w) AS lo, max(w) AS hi FROM wk),
      |sp AS (SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
      |                INTERVAL 7 DAY)) AS DATE) AS w, lo FROM b),
      |ty AS (SELECT DISTINCT t FROM wk),
      |g AS (SELECT ty.t, (sp.w - sp.lo) // 7 AS x, coalesce(wk.y, 0) AS y
      |      FROM ty CROSS JOIN sp
      |      LEFT JOIN wk ON wk.t = ty.t AND wk.w = sp.w),
      |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n_weeks,
      |             CAST(sum(y) AS BIGINT) AS total,
      |             CAST(sum(x) AS BIGINT) AS sx,
      |             CAST(sum(x * y) AS BIGINT) AS sxy,
      |             CAST(sum(x * x) AS BIGINT) AS sxx
      |      FROM g GROUP BY t)
      |SELECT t AS event_type, n_weeks, total,
      |       CAST(total * 1000000 // n_weeks AS BIGINT) AS mean_micro,
      |       CASE WHEN n_weeks * sxx - sx * sx = 0 THEN NULL
      |            ELSE CAST((CASE WHEN n_weeks * sxy - sx * total >= 0
      |                            THEN 1 ELSE -1 END) *
      |                      (abs(n_weeks * sxy - sx * total) * 1000000 //
      |                       (n_weeks * sxx - sx * sx)) AS BIGINT)
      |       END AS slope_micro
      |FROM m ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.weeklyTrend(Tables.load(s, dir, "events"))
      .orderBy(col("event_type"))
  }

  /** x124 per-user RFM segmentation — see
    * [[graft.operators.Sequences.rfm]]: exact decimal-cents monetary,
    * global-anchor recency, deterministic quintile tiles. */
  val x124 = query("x124_rfm",
    // Replays rfm: exact decimal cents, global-anchor recency, the
    // same (metric, user) ntile tie-breaks; null-ts/null-value events
    // are not scoreable transactions (mirrors rfm's pre-filter, which
    // keeps null metrics out of the guarded quintile tiles).
    """WITH per AS (SELECT user_id AS u, max(CAST(ts AS DATE)) AS last_d,
      |                    CAST(count(*) AS BIGINT) AS frequency,
      |                    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100
      |                         AS BIGINT) AS monetary_cents
      |             FROM events
      |             WHERE ts IS NOT NULL AND value IS NOT NULL
      |             GROUP BY 1),
      |a AS (SELECT max(last_d) AS anchor FROM per),
      |s AS (SELECT u, CAST(anchor - last_d AS BIGINT) AS recency_days,
      |             frequency, monetary_cents,
      |             CAST(ntile(5) OVER (ORDER BY anchor - last_d DESC, u)
      |                  AS INT) AS r,
      |             CAST(ntile(5) OVER (ORDER BY frequency, u) AS INT) AS f,
      |             CAST(ntile(5) OVER (ORDER BY monetary_cents, u) AS INT) AS m
      |      FROM per CROSS JOIN a)
      |SELECT u AS user_id, recency_days, frequency, monetary_cents, r, f, m,
      |       CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
      |         AS segment
      |FROM s ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.rfm(Tables.load(s, dir, "events"))
      .orderBy(col("user_id"))
  }

  /** x125 first/last-touch conversion attribution — see
    * [[graft.operators.Sequences.conversionAttribution]]: one keyed
    * window, O(1) running min/max structs, unattributable purchases
    * kept with nulls. Timestamps surface as epoch seconds (exact
    * integers in both engines). */
  val x125 = query("x125_attribution",
    // Replays conversionAttribution: running struct min/max over the
    // (ts, id) frame, purchases only, epoch-second integers.
    """WITH e AS (SELECT user_id AS u, ts, event_id AS id, event_type AS t
      |           FROM events),
      |w AS (SELECT u, ts, id, t,
      |        min(CASE WHEN t = 'view'
      |                 THEN struct_pack(ts := ts, id := id) END)
      |          OVER (PARTITION BY u ORDER BY ts, id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
      |        max(CASE WHEN t = 'click'
      |                 THEN struct_pack(ts := ts, id := id) END)
      |          OVER (PARTITION BY u ORDER BY ts, id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
      |      FROM e)
      |SELECT u AS user_id, id AS purchase_id,
      |       CAST(floor(epoch(ts)) AS BIGINT) AS purchase_epoch,
      |       fv.id AS first_view_id,
      |       CAST(floor(epoch(ts)) AS BIGINT)
      |         - CAST(floor(epoch(fv.ts)) AS BIGINT) AS view_to_buy_secs,
      |       lc.id AS last_click_id,
      |       CAST(floor(epoch(ts)) AS BIGINT)
      |         - CAST(floor(epoch(lc.ts)) AS BIGINT) AS click_to_buy_secs
      |FROM w WHERE t = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.conversionAttribution(Tables.load(s, dir, "events"))
      .select(col("user_id"), col("purchase_id"),
        unix_timestamp(col("purchase_ts")).as("purchase_epoch"),
        col("first_view_id"), col("view_to_buy_secs"),
        col("last_click_id"), col("click_to_buy_secs"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** x133 Kaplan–Meier signup→purchase survival — see
    * [[graft.operators.Sequences.kaplanMeier]]: the right-censored
    * time-to-event curve (day-granular, integer micro-nat log
    * survival) that x99's converters-only deltas bias low. */
  val x133 = query("x133_kaplan_meier",
    // Replays kaplanMeier: first-signup cohort, first purchase at or
    // after it, administrative censoring at the corpus max ts, KM
    // factors quantized once per event day then integer-summed. NULL
    // survival after the risk set exhausts (ln 0).
    """WITH firsts AS (SELECT user_id, min(ts) AS from_ts FROM events
      |                WHERE event_type = 'signup' GROUP BY 1),
      |mx AS (SELECT max(ts) AS max_ts FROM events),
      |conv AS (SELECT f.user_id, min(e.ts) AS conv_ts
      |         FROM firsts f JOIN events e ON e.user_id = f.user_id
      |          AND e.event_type = 'purchase' AND e.ts >= f.from_ts
      |         GROUP BY 1),
      |exits AS (SELECT f.user_id,
      |    CASE WHEN c.conv_ts IS NOT NULL
      |      THEN (epoch_us(c.conv_ts) - epoch_us(f.from_ts)) // 86400000000
      |      ELSE (epoch_us(mx.max_ts) - epoch_us(f.from_ts)) // 86400000000
      |    END AS day,
      |    CASE WHEN c.conv_ts IS NOT NULL THEN 1 ELSE 0 END AS evt
      |  FROM firsts f LEFT JOIN conv c USING (user_id) CROSS JOIN mx),
      |byday AS (SELECT day, CAST(sum(evt) AS BIGINT) AS d,
      |                 CAST(sum(1 - evt) AS BIGINT) AS c
      |          FROM exits GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM exits),
      |risk AS (SELECT day, d, c,
      |    n.n - CAST(coalesce(sum(d + c) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS n_risk
      |  FROM byday CROSS JOIN n),
      |evd AS (SELECT day, d, c, n_risk,
      |    CASE WHEN d < n_risk THEN CAST(round(round(
      |      ln((n_risk - d)::DOUBLE / n_risk::DOUBLE), 6) * 1000000)
      |      AS BIGINT) END AS lp,
      |    CAST(sum(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS dead
      |  FROM risk WHERE d > 0)
      |SELECT day AS t_day, n_risk, d AS n_event, c AS n_censor,
      |       CASE WHEN dead = 0 THEN CAST(sum(lp) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |       END AS surv_ln_micro
      |FROM evd ORDER BY t_day""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.kaplanMeier(Tables.load(s, dir, "events"))
  }

  /** x135 CUSUM changepoint per event type — see
    * [[graft.operators.Sequences.cusumChangepoint]]: the level-shift
    * locator over the dense daily count series (×N-scaled integer
    * CUSUM), the sustained-step read x56's per-day z-scores integrate
    * away. */
  val x135 = query("x135_cusum_changepoint",
    // Replays cusumChangepoint: dense zero-filled daily spine per
    // type, ×N-scaled integer CUSUM, (|S| desc, day asc) argmax via
    // min-struct ordering, floor-divided micro means.
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                      CAST(count(*) AS BIGINT) AS x
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, sp.day, coalesce(d.x, 0) AS x
      |          FROM spine sp LEFT JOIN daily d
      |            ON d.t = sp.t AND d.day = sp.day),
      |tot AS (SELECT t, CAST(sum(x) AS BIGINT) AS tot,
      |               CAST(count(*) AS BIGINT) AS nd
      |        FROM dense GROUP BY 1),
      |run AS (SELECT dn.t, dn.day, tot.tot, tot.nd,
      |    CAST(row_number() OVER (PARTITION BY dn.t ORDER BY dn.day)
      |      AS BIGINT) AS k,
      |    CAST(sum(dn.x) OVER (PARTITION BY dn.t ORDER BY dn.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM dense dn JOIN tot ON tot.t = dn.t),
      |sc AS (SELECT t, day, tot, nd, k, cum,
      |              nd * cum - k * tot AS s
      |       FROM run WHERE k < nd),
      |best AS (SELECT t, min(struct_pack(na := -abs(s), day := day, k := k,
      |                 cum := cum, tot := tot, nd := nd)) AS b
      |         FROM sc GROUP BY 1)
      |SELECT t AS event_type, b.nd AS n_days, b.tot AS total,
      |       CAST(CAST(b.day AS DATE) AS STRING) AS cp_day,
      |       b.k AS cp_k, -b.na AS s_abs_scaled,
      |       CAST(b.cum * 1000000 // b.k AS BIGINT) AS pre_mean_micro,
      |       CAST((b.tot - b.cum) * 1000000 // (b.nd - b.k) AS BIGINT)
      |         AS post_mean_micro
      |FROM best ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.cusumChangepoint(Tables.load(s, dir, "events"))
  }

  /** x140 traffic-share shift significance — see
    * [[graft.operators.Sequences.proportionShift]]: two-proportion
    * z-test of each event type's share between the window halves,
    * the binomial-noise-aware companion to x135's CUSUM location. */
  val x140 = query("x140_proportion_shift",
    // Replays proportionShift: microsecond midpoint split, exact
    // integer half counts, ONE fixed double z expression, |z| > 1.96
    // on the rounded value.
    """WITH mid AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS m
      |             FROM events),
      |hh AS (SELECT event_type AS t,
      |              CASE WHEN epoch_us(ts) < mid.m THEN 1 ELSE 2 END AS h
      |       FROM events CROSS JOIN mid),
      |hc AS (SELECT t, h, CAST(count(*) AS BIGINT) AS c FROM hh GROUP BY 1, 2),
      |tot AS (SELECT h, CAST(sum(c) AS BIGINT) AS n FROM hc GROUP BY 1),
      |wide AS (SELECT t,
      |    CAST(sum(CASE WHEN h = 1 THEN c ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN h = 2 THEN c ELSE 0 END) AS BIGINT) AS c2
      |  FROM hc GROUP BY 1),
      |nt AS (SELECT max(CASE WHEN h = 1 THEN n END) AS n1,
      |              max(CASE WHEN h = 2 THEN n END) AS n2
      |       FROM tot),
      |zz AS (SELECT t AS event_type, c1, n1, c2, n2,
      |    round((c1 / CAST(n1 AS DOUBLE) - c2 / CAST(n2 AS DOUBLE)) /
      |      sqrt(((c1 + c2) / CAST(n1 + n2 AS DOUBLE)) *
      |           (1.0 - (c1 + c2) / CAST(n1 + n2 AS DOUBLE)) *
      |           (1.0 / n1 + 1.0 / n2)), 6) AS z
      |  FROM wide CROSS JOIN nt)
      |SELECT event_type, c1, n1, c2, n2, z, abs(z) > 1.96 AS significant
      |FROM zz ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.proportionShift(Tables.load(s, dir, "events"))
  }

  /** x141 session-gap calibration — see
    * [[graft.operators.Sequences.sessionGapCalibration]]: the exact
    * inter-event gap order statistics and the session count a 1-hour
    * threshold induces — the evidence behind x79's gap parameter. */
  val x141 = query("x141_session_gap_calibration",
    // Replays sessionGapCalibration: per-user lag gaps in exact
    // integer seconds, order-statistic percentiles (no
    // interpolation), integer share and induced-session algebra.
    """WITH g AS (SELECT user_id,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |       PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap
      |  FROM events),
      |a AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |             CAST(count(gap) AS BIGINT) AS n_gaps,
      |             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)
      |                  AS BIGINT) AS p50_s,
      |             CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap)
      |                  AS BIGINT) AS p90_s,
      |             CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY gap)
      |                  AS BIGINT) AS p99_s,
      |             CAST(sum(CASE WHEN gap > 3600 THEN 1 ELSE 0 END)
      |                  AS BIGINT) AS ov
      |      FROM g)
      |SELECT n_users, n_gaps, p50_s, p90_s, p99_s,
      |       CAST(ov * 1000000 // n_gaps AS BIGINT) AS over_gap_micro,
      |       n_users + ov AS sessions_induced
      |FROM a""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.sessionGapCalibration(
      Tables.load(s, dir, "events"))
  }

  /** x146 value-drift PSI per event type — see
    * [[graft.operators.Sequences.valueDriftPsi]]: population
    * stability index of `value` between the window halves over the
    * first half's own quartile bins — the "did the VALUES shift"
    * companion to x140's volume test. */
  val x146 = query("x146_value_drift_psi",
    // Replays valueDriftPsi: first-half quartile edges per type, CASE
    // bins, dense 4-bin spine, add-one smoothing, per-bin micro terms
    // integer-summed.
    """WITH mid AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS m
      |             FROM events),
      |hv AS (SELECT event_type AS t, value AS v,
      |              CASE WHEN epoch_us(ts) < mid.m THEN 1 ELSE 2 END AS h
      |       FROM events CROSS JOIN mid),
      |ed AS (SELECT t,
      |         percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS q1,
      |         percentile_disc(0.5)  WITHIN GROUP (ORDER BY v) AS q2,
      |         percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS q3
      |       FROM hv WHERE h = 1 GROUP BY t),
      |bn AS (SELECT hv.t, hv.h,
      |              CASE WHEN v <= q1 THEN 0 WHEN v <= q2 THEN 1
      |                   WHEN v <= q3 THEN 2 ELSE 3 END AS b
      |       FROM hv JOIN ed ON ed.t = hv.t),
      |bc AS (SELECT t, b,
      |              CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |              CAST(sum(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |       FROM bn GROUP BY 1, 2),
      |sp AS (SELECT ed.t, CAST(u.b AS INT) AS b
      |       FROM ed, LATERAL (SELECT unnest(range(0, 4)) AS b) u),
      |dn AS (SELECT sp.t, sp.b, coalesce(bc.c1, 0) AS c1,
      |              coalesce(bc.c2, 0) AS c2
      |       FROM sp LEFT JOIN bc ON bc.t = sp.t AND bc.b = sp.b),
      |tt AS (SELECT t, CAST(sum(c1) AS BIGINT) AS n1,
      |              CAST(sum(c2) AS BIGINT) AS n2
      |       FROM dn GROUP BY 1),
      |tm AS (SELECT dn.t, tt.n1, tt.n2,
      |    CAST(round(round(
      |      ((c2 + 1) / CAST(tt.n2 + 4 AS DOUBLE) -
      |       (c1 + 1) / CAST(tt.n1 + 4 AS DOUBLE)) *
      |      ln(((c2 + 1) * CAST(tt.n1 + 4 AS DOUBLE)) /
      |         ((c1 + 1) * CAST(tt.n2 + 4 AS DOUBLE))), 6) * 1000000)
      |      AS BIGINT) AS term
      |  FROM dn JOIN tt ON tt.t = dn.t)
      |SELECT t AS event_type, n1, n2,
      |       CAST(sum(term) AS BIGINT) AS psi_micro,
      |       CAST(sum(term) AS BIGINT) > 250000 AS drifted
      |FROM tm GROUP BY t, n1, n2 ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.valueDriftPsi(Tables.load(s, dir, "events"))
  }

  /** x149 per-user burstiness — see
    * [[graft.operators.Sequences.burstiness]]: Goh–Barabási
    * B = (σ−μ)/(σ+μ) over inter-event gaps, the metronome-vs-volley
    * texture read behind x141's corpus percentiles. */
  val x149 = query("x149_burstiness",
    // Replays burstiness: per-user lag gaps, exact moment sums, one
    // sqrt quantized, B on the quantized micro pair (both engines
    // truncate toward zero on the signed division).
    """WITH g AS (SELECT user_id,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |       PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap
      |  FROM events),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
      |             CAST(sum(gap) AS BIGINT) AS s,
      |             CAST(sum(gap * gap) AS BIGINT) AS ss
      |      FROM g WHERE gap IS NOT NULL GROUP BY 1),
      |m AS (SELECT user_id, n_gaps,
      |             CAST(s * 1000000 // n_gaps AS BIGINT) AS mean_gap_micro,
      |             CASE WHEN n_gaps > 1 THEN CAST(round(sqrt(
      |               ss::DOUBLE / n_gaps::DOUBLE -
      |               (s::DOUBLE / n_gaps::DOUBLE) * (s::DOUBLE / n_gaps::DOUBLE))
      |               * 1000000) AS BIGINT) END AS sd_gap_micro
      |      FROM a)
      |SELECT user_id, n_gaps, mean_gap_micro, sd_gap_micro,
      |       CASE WHEN sd_gap_micro IS NOT NULL
      |                  AND sd_gap_micro + mean_gap_micro > 0
      |            THEN CAST((sd_gap_micro - mean_gap_micro) * 1000000
      |                      // (sd_gap_micro + mean_gap_micro) AS BIGINT)
      |       END AS burstiness_micro
      |FROM m ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.burstiness(Tables.load(s, dir, "events"))
  }

  /** x150 Mann–Kendall trend per event type — see
    * [[graft.operators.Sequences.mannKendall]]: concordant-minus-
    * discordant day pairs with tie-corrected variance — the
    * spike-robust trend verdict next to x123's OLS slope. */
  val x150 = query("x150_mann_kendall",
    // Replays mannKendall: dense zero-filled spine (the x135
    // contract), pairwise sign sum, tie-corrected ×18 variance in
    // BIGINT, one continuity-corrected z, verdict on the rounded z.
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                      CAST(count(*) AS BIGINT) AS x
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, sp.day, coalesce(d.x, 0) AS x
      |          FROM spine sp LEFT JOIN daily d
      |            ON d.t = sp.t AND d.day = sp.day),
      |s AS (SELECT a.t, CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s_stat
      |      FROM dense a JOIN dense b ON a.t = b.t AND a.day < b.day
      |      GROUP BY 1),
      |tg AS (SELECT t, x, CAST(count(*) AS BIGINT) AS g
      |       FROM dense GROUP BY 1, 2),
      |ti AS (SELECT t, CAST(sum(g * (g - 1) * (2 * g + 5)) AS BIGINT) AS tc,
      |              CAST(sum(g) AS BIGINT) AS n
      |       FROM tg GROUP BY 1),
      |v AS (SELECT s.t, ti.n, s.s_stat,
      |             ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tc AS var18
      |      FROM s JOIN ti ON ti.t = s.t),
      |zz AS (SELECT t, n, s_stat, var18,
      |    CASE WHEN var18 > 0 THEN round(
      |      (s_stat - CAST(sign(s_stat) AS BIGINT)) / sqrt(var18 / 18.0), 6)
      |    END AS z
      |  FROM v)
      |SELECT t AS event_type, n AS n_days, s_stat, var18, z,
      |       CASE WHEN z > 1.96 THEN 'increasing'
      |            WHEN z < -1.96 THEN 'decreasing'
      |            ELSE 'none' END AS trend
      |FROM zz ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.mannKendall(Tables.load(s, dir, "events"))
  }

  /** x155 held-out transition NLL — see
    * [[graft.operators.Sequences.heldOutTransitionNll]]: train the
    * smoothed Markov model on the first half, score the second —
    * the generalization read behind x87's in-sample matrix. */
  val x155 = query("x155_heldout_nll",
    // Replays heldOutTransitionNll: per-user lag transitions, halves
    // by BOTH endpoints, add-one model from the first half, per-pair
    // micro-nat log-probs, exact integer test total.
    """WITH mid AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS m
      |             FROM events),
      |tr AS (SELECT a, b, h FROM (
      |    SELECT lag(event_type) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) AS a,
      |           event_type AS b,
      |           CASE WHEN epoch_us(ts) < mid.m THEN 1
      |                WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                  ORDER BY ts, event_id) >= mid.m THEN 2
      |                ELSE 0 END AS h
      |    FROM events CROSS JOIN mid) t
      |  WHERE a IS NOT NULL),
      |train AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
      |          FROM tr WHERE h = 1 GROUP BY 1, 2),
      |ctx AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM train GROUP BY 1),
      |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM (
      |          SELECT a FROM train UNION SELECT b FROM train) u),
      |test AS (SELECT a, b, CAST(count(*) AS BIGINT) AS ct
      |         FROM tr WHERE h = 2 GROUP BY 1, 2),
      |sc AS (SELECT test.ct,
      |    CAST(round(round(ln(
      |      (coalesce(train.c, 0) + 1)::DOUBLE /
      |      (coalesce(ctx.ca, 0) + voc.v)::DOUBLE), 6) * 1000000)
      |      AS BIGINT) AS lp
      |  FROM test
      |  LEFT JOIN train ON train.a = test.a AND train.b = test.b
      |  LEFT JOIN ctx ON ctx.a = test.a
      |  CROSS JOIN voc),
      |tn AS (SELECT CAST(sum(c) AS BIGINT) AS n_train FROM train)
      |SELECT tn.n_train, CAST(sum(sc.ct) AS BIGINT) AS n_test,
      |       voc.v AS vocab,
      |       CAST(-sum(sc.ct * sc.lp) AS BIGINT) AS sum_nll_micro,
      |       CAST(-sum(sc.ct * sc.lp) // sum(sc.ct) AS BIGINT)
      |         AS avg_nll_micro
      |FROM sc CROSS JOIN tn CROSS JOIN voc
      |GROUP BY tn.n_train, voc.v""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.heldOutTransitionNll(
      Tables.load(s, dir, "events"))
  }

  /** x166 diurnal concentration — see
    * [[graft.operators.Sequences.diurnalConcentration]]: circular
    * mean resultant length + peak hour per event type over Scala-
    * rendered hour-angle constants — the cron-vs-organic read
    * hour-of-day tables cannot give in one number. */
  val x166 = query("x166_diurnal_concentration",
    // Replays diurnalConcentration: the Scala-rendered hour-angle
    // VALUES table, exact integer resultant sums, fixed R/atan2
    // expressions with the nearest-hour rounding.
    {
      val ang = graft.operators.Sequences.HourAngleMicro
        .map { case (h, c, s2) => s"($h, $c, $s2)" }.mkString(", ")
      s"""WITH ang(hr, c, s2) AS (VALUES $ang),
         |h AS (SELECT event_type AS t, CAST(hour(ts) AS INT) AS hr,
         |             CAST(count(*) AS BIGINT) AS n
         |      FROM events GROUP BY 1, 2),
         |a AS (SELECT t, CAST(sum(n) AS BIGINT) AS n,
         |             CAST(sum(n * c) AS BIGINT) AS sc,
         |             CAST(sum(n * s2) AS BIGINT) AS ss
         |      FROM h JOIN ang USING (hr) GROUP BY 1)
         |SELECT t AS event_type, n,
         |       CAST(round(sqrt(CAST(sc AS DOUBLE) * sc +
         |         CAST(ss AS DOUBLE) * ss) / n) AS BIGINT) AS r_micro,
         |       CAST(round(((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
         |         + 2 * pi()) % (2 * pi())) * 24 / (2 * pi()))
         |         AS BIGINT) % 24 AS peak_hour
         |FROM a ORDER BY event_type""".stripMargin
    }) { (s, dir) =>
    graft.operators.Sequences.diurnalConcentration(
      Tables.load(s, dir, "events"))
  }

  /** x175 frequent event 3-paths — see
    * [[graft.operators.Sequences.eventPathMining]]: consecutive
    * same-user trigram counts above support — the workflow patterns
    * one step beyond x87's Markov bigrams. */
  val x175 = query("x175_event_paths",
    // Replays eventPathMining: two user-partitioned lags, exact path
    // counts, support filter, integer share of all trigrams.
    """WITH tri AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT lag(event_type, 2) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) AS a,
      |           lag(event_type, 1) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) AS b,
      |           event_type AS c
      |    FROM events) t
      |  WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM tri)
      |SELECT a, b, c, n, CAST(n * 1000000 // tot AS BIGINT) AS support_micro
      |FROM tri CROSS JOIN tot WHERE n >= 5
      |ORDER BY n DESC, a, b, c""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.eventPathMining(Tables.load(s, dir, "events"))
  }

  /** x181 per-user monotonicity audit — see
    * [[graft.operators.Sequences.monotonicityAudit]]: adjacent
    * ts-vs-event_id inversions per user — the append-log sanity
    * check every sequence operator assumes. */
  val x181 = query("x181_monotonicity_audit",
    // Replays monotonicityAudit: one user-partitioned lag over the id
    // order, exact adjacent-inversion counts.
    """WITH l AS (SELECT user_id, ts,
      |             lag(ts) OVER (PARTITION BY user_id ORDER BY event_id)
      |               AS pt
      |           FROM events)
      |SELECT CAST(user_id AS BIGINT) AS user_id,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CASE WHEN pt > ts THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_inversions,
      |       CASE WHEN count(*) > 1 THEN
      |         CAST(sum(CASE WHEN pt > ts THEN 1 ELSE 0 END) * 1000000
      |              // (count(*) - 1) AS BIGINT) ELSE 0 END
      |         AS inversion_micro,
      |       sum(CASE WHEN pt > ts THEN 1 ELSE 0 END) = 0 AS monotone
      |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.monotonicityAudit(
      Tables.load(s, dir, "events"))
      .withColumn("user_id", col("user_id").cast("long"))
  }

  /** x198 multi-touch conversion attribution — see
    * [[graft.operators.Sequences.multiTouchAttribution]]: last-touch
    * and floor-exact linear credit over each purchase's 7-day
    * preceding touch window — the channel-credit read beside x99's
    * time-to-convert and q43's funnel. */
  val x198 = query("x198_attribution",
    // Replays multiTouchAttribution: user-keyed 7-day strictly-
    // preceding touch window, max-struct last touch (ts, id ties),
    // floor-division linear split per conversion.
    """WITH conv AS (SELECT user_id AS u, event_id AS cid, ts AS cts
      |              FROM events WHERE event_type = 'purchase'),
      |tch AS (SELECT user_id AS u, event_id AS tid, ts AS tts,
      |               event_type AS tk
      |        FROM events WHERE event_type <> 'purchase'),
      |pr AS (SELECT c.cid, t.tid, t.tts, t.tk
      |       FROM tch t JOIN conv c ON c.u = t.u
      |        AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
      |per AS (SELECT cid, CAST(count(*) AS BIGINT) AS nt,
      |               max(struct_pack(ts := tts, id := tid, t := tk)) AS lst
      |        FROM pr GROUP BY cid),
      |bt AS (SELECT cid, tk, CAST(count(*) AS BIGINT) AS cnt
      |       FROM pr GROUP BY cid, tk),
      |lin AS (SELECT bt.tk, CAST(sum(cnt) AS BIGINT) AS n_touches,
      |               CAST(sum(cnt * (1000000 // nt)) AS BIGINT)
      |                 AS linear_credit_micro
      |        FROM bt JOIN per USING (cid) GROUP BY bt.tk),
      |lt AS (SELECT lst.t AS tk, CAST(count(*) AS BIGINT)
      |         AS last_touch_convs FROM per GROUP BY lst.t)
      |SELECT lin.tk AS event_type, n_touches,
      |       coalesce(lt.last_touch_convs, 0) AS last_touch_convs,
      |       linear_credit_micro
      |FROM lin LEFT JOIN lt USING (tk) ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.multiTouchAttribution(
      Tables.load(s, dir, "events"))
  }

  /** x200 weekday seasonality — see
    * [[graft.operators.Sequences.weekdaySeasonality]]: per-type ISO
    * day-of-week profile over the dense day spine with per-cell
    * chi-square contributions against the uniform-rate null — the
    * weekly-periodicity read beside x135's CUSUM. */
  val x200 = query("x200_weekday_seasonality",
    // Replays weekdaySeasonality: the x135 dense day spine, ISO
    // weekday collapse, integer-exact (o·D − T·d)²/(D·T·d) cells
    // quantized once to micro.
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                      CAST(count(*) AS BIGINT) AS x
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, isodow(sp.day) AS dow, coalesce(d.x, 0) AS x
      |          FROM spine sp LEFT JOIN daily d
      |            ON d.t = sp.t AND d.day = sp.day),
      |pd AS (SELECT t, dow, CAST(count(*) AS BIGINT) AS dw,
      |              CAST(sum(x) AS BIGINT) AS o
      |       FROM dense GROUP BY 1, 2),
      |tot AS (SELECT t, CAST(sum(dw) AS BIGINT) AS dd,
      |               CAST(sum(o) AS BIGINT) AS tt
      |        FROM pd GROUP BY 1)
      |SELECT pd.t AS event_type, CAST(pd.dow AS INT) AS isodow,
      |       dw AS n_days, o AS n_events,
      |       CAST(tt * dw * 1000000 // dd AS BIGINT) AS expected_micro,
      |       CAST(round((o * dd - tt * dw)::DOUBLE * (o * dd - tt * dw)::DOUBLE
      |            * 1000000.0 / (dd::DOUBLE * tt::DOUBLE * dw::DOUBLE))
      |         AS BIGINT) AS chi2_micro
      |FROM pd JOIN tot USING (t) WHERE tt > 0
      |ORDER BY event_type, isodow""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.weekdaySeasonality(
      Tables.load(s, dir, "events"))
  }

  /** x202 Markov stationary distribution — see
    * [[graft.operators.Sequences.markovStationary]]: 10 integer-exact
    * power-iteration rounds over the event-type transition chain —
    * the steady-state occupancy read beside the one-step transition
    * matrix. */
  val x202 = query("x202_markov_stationary",
    // Replays markovStationary: the transition count frame once, then
    // 10 unrolled power-iteration CTEs — (pi*n) div tot shipped per
    // edge, integer-summed at dst, sinks coalesce to drained mass.
    {
      val iters = 10
      val rounds = (1 to iters).map { k =>
        val prev = s"p${k - 1}"
        s"""r$k AS (SELECT e.dst AS state,
           |          CAST(sum((p.pi * e.n) // e.tot) AS BIGINT) AS pi
           |        FROM eg e JOIN $prev p ON p.state = e.src GROUP BY 1),
           |p$k AS (SELECT s.state, coalesce(r$k.pi, 0) AS pi
           |        FROM st s LEFT JOIN r$k ON r$k.state = s.state)""".stripMargin
      }.mkString(",\n")
      s"""WITH sq AS (SELECT user_id, event_type, ts, event_id,
         |              lag(event_type) OVER (PARTITION BY user_id
         |                ORDER BY ts, event_id) AS prev
         |            FROM events),
         |tr AS (SELECT prev AS src, event_type AS dst,
         |               CAST(count(*) AS BIGINT) AS n
         |        FROM sq WHERE prev IS NOT NULL GROUP BY 1, 2),
         |tt AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM tr GROUP BY 1),
         |eg AS (SELECT tr.src, tr.dst, tr.n, tt.tot FROM tr JOIN tt USING (src)),
         |st AS (SELECT DISTINCT state FROM (
         |         SELECT src AS state FROM eg
         |         UNION ALL SELECT dst AS state FROM eg) u),
         |p0 AS (SELECT state, CAST(1000000 AS BIGINT) AS pi FROM st),
         |$rounds
         |SELECT state AS event_type, CAST(pi AS BIGINT) AS pi_micro
         |FROM p$iters ORDER BY event_type""".stripMargin
    }) { (s, dir) =>
    graft.operators.Sequences.markovStationary(
      Tables.load(s, dir, "events"), iters = 10)
  }

  /** x213 daily linear interpolation — see
    * [[graft.operators.Sequences.interpolateDaily]]: straight-line
    * repair of interior daily gaps per event type, floor-exact in
    * integer cents over the bounded day spine. */
  val x213 = query("x213_daily_interpolation",
    // Replays interpolateDaily: x200's dense day spine, last/first
    // IGNORE NULLS neighbor windows, truncating straight-line fill.
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                CAST(sum(CAST(round(value * 100.0) AS BIGINT))
      |                  AS BIGINT) AS v
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, sp.day, d.v FROM spine sp
      |          LEFT JOIN daily d ON d.t = sp.t AND d.day = sp.day),
      |w AS (SELECT t, day, v,
      |        last_value(v IGNORE NULLS) OVER (PARTITION BY t ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
      |        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
      |          OVER (PARTITION BY t ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dp,
      |        first_value(v IGNORE NULLS) OVER (PARTITION BY t ORDER BY day
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
      |        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
      |          OVER (PARTITION BY t ORDER BY day
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn
      |      FROM dense)
      |SELECT t AS event_type, CAST(day AS STRING) AS day,
      |       CAST(CASE WHEN v IS NOT NULL THEN v
      |            WHEN vp IS NOT NULL AND vn IS NOT NULL THEN
      |              vp + (vn - vp) * date_diff('day', dp, day)
      |                // date_diff('day', dp, dn)
      |            ELSE coalesce(vp, vn) END AS BIGINT) AS v_cents,
      |       v IS NULL AS interpolated
      |FROM w ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.interpolateDaily(Tables.load(s, dir, "events"))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("v_cents"), col("interpolated"))
  }

  /** x217 daily autocorrelation — see
    * [[graft.operators.Sequences.dailyAutocorrelation]]: exact ACF at
    * lags 1 and 7 over each type's zero-filled day spine via the
    * n-scaled deviation identity — burst persistence and weekly
    * rhythm beside x200's fixed-period chi². */
  val x217 = query("x217_daily_autocorrelation",
    // Replays dailyAutocorrelation: dense spine, n-scaled deviations
    // in HUGEINT (the n² cancellation), lead windows per lag, one
    // truncating division per (type, lag).
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                CAST(count(*) AS BIGINT) AS x
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, sp.day, coalesce(d.x, 0) AS x
      |          FROM spine sp LEFT JOIN daily d
      |            ON d.t = sp.t AND d.day = sp.day),
      |tot AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(x) AS BIGINT) AS tt FROM dense GROUP BY 1),
      |dev AS (SELECT d.t, d.day, tot.n,
      |               CAST(tot.n AS HUGEINT) * d.x - tot.tt AS dd
      |        FROM dense d JOIN tot USING (t)),
      |lg AS (SELECT t, n, dd,
      |         lead(dd, 1) OVER (PARTITION BY t ORDER BY day) AS d1,
      |         lead(dd, 7) OVER (PARTITION BY t ORDER BY day) AS d7
      |       FROM dev),
      |ag AS (SELECT t, n, CAST(sum(dd * dd) AS HUGEINT) AS den,
      |              CAST(sum(dd * d1) AS HUGEINT) AS n1,
      |              CAST(sum(dd * d7) AS HUGEINT) AS n7
      |       FROM lg GROUP BY 1, 2)
      |SELECT t AS event_type, CAST(u.lag AS BIGINT) AS lag, n AS n_days,
      |       CAST((CASE WHEN u.lag = 1 THEN n1 ELSE n7 END) * 1000000
      |         // den AS BIGINT) AS acf_micro
      |FROM ag, LATERAL (SELECT unnest([1, 7]) AS lag) u
      |WHERE den > 0
      |  AND (CASE WHEN u.lag = 1 THEN n1 ELSE n7 END) IS NOT NULL
      |ORDER BY event_type, lag""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.dailyAutocorrelation(
      Tables.load(s, dir, "events"), lags = Seq(1, 7))
  }

  /** x241 temporal split audit — see
    * [[graft.operators.Sequences.temporalSplitAudit]]: the exact
    * 80th-percentile DAY cut over events with the cross-cut user-
    * overlap leakage reads — the event-time sibling of x64/x206's
    * content-split leakage. */
  val x241 = query("x241_temporal_split",
    // Replays temporalSplitAudit: exact day-rank cutoff, user-set
    // overlap via semi joins, one truncating micro division.
    """WITH base AS (SELECT CAST(ts AS DATE) AS d, user_id AS u
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |hist AS (SELECT d, CAST(count(*) AS BIGINT) AS c
      |         FROM base GROUP BY 1),
      |cum AS (SELECT d, SUM(c) OVER (ORDER BY d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu,
      |          SUM(c) OVER () AS n
      |        FROM hist),
      |cut AS (SELECT min(d) AS cutoff FROM cum
      |        WHERE cu >= (n * 80 + 99) // 100),
      |fl AS (SELECT u, d <= cut.cutoff AS tr FROM base, cut),
      |tu AS (SELECT DISTINCT u FROM fl WHERE tr),
      |eu AS (SELECT DISTINCT u FROM fl WHERE NOT tr),
      |cnt AS (SELECT
      |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |    CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT) AS n_test
      |  FROM fl),
      |ut AS (SELECT CAST(count(*) AS BIGINT) AS n_users_train FROM tu),
      |ue AS (SELECT CAST(count(*) AS BIGINT) AS n_users_test FROM eu),
      |ub AS (SELECT CAST(count(*) AS BIGINT) AS n_users_both FROM eu
      |       WHERE u IN (SELECT u FROM tu)),
      |se AS (SELECT CAST(count(*) AS BIGINT) AS seen_user_test_events
      |       FROM fl WHERE NOT tr AND u IN (SELECT u FROM tu))
      |SELECT CAST(cut.cutoff AS STRING) AS cutoff_day, cnt.n_train,
      |       cnt.n_test,
      |       ut.n_users_train, ue.n_users_test, ub.n_users_both,
      |       se.seen_user_test_events,
      |       CASE WHEN cnt.n_test > 0 THEN
      |         CAST((CAST(se.seen_user_test_events AS HUGEINT) * 1000000)
      |           // cnt.n_test AS BIGINT) END AS seen_share_micro
      |FROM cut, cnt, ut, ue, ub, se
      |WHERE cnt.n_train + cnt.n_test > 0""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.temporalSplitAudit(
        Tables.load(s, dir, "events"))
      // the x114 date-compare convention: both engines emit the day
      // as its ISO string
      .withColumn("cutoff_day", col("cutoff_day").cast("string"))
  }

  /** x243 behavioral-boilerplate catalog — see
    * [[graft.operators.Sequences.behaviorBoilerplate]]: (user, day)
    * sessions as ordered event-type strings, patterns served by ≥ 2
    * sessions with their user spread — the bot/scripted-traffic
    * dedup read over the events stream. */
  val x243 = query("x243_behavior_boilerplate",
    // Replays behaviorBoilerplate: (user, day) sessions, the size
    // fence BEFORE any sequence build, ordered string_agg patterns.
    """WITH base AS (SELECT user_id AS u, CAST(ts AS DATE) AS d, ts,
      |    event_id AS i,
      |    replace(replace(event_type, '\', '\\'), '>', '\>') AS t
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
      |sz AS (SELECT u, d, count(*) AS c FROM base GROUP BY 1, 2),
      |drp AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped_long
      |        FROM sz WHERE c > 200),
      |sq AS (SELECT b.u, b.d,
      |         string_agg(b.t, '>' ORDER BY b.ts, b.i) AS pattern,
      |         CAST(count(*) AS BIGINT) AS len
      |       FROM base b JOIN sz USING (u, d) WHERE sz.c <= 200
      |       GROUP BY b.u, b.d),
      |pat AS (SELECT pattern, len AS session_len,
      |          CAST(count(*) AS BIGINT) AS n_sessions,
      |          CAST(count(DISTINCT u) AS BIGINT) AS n_users
      |        FROM sq GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT pattern, session_len, n_sessions, n_users,
      |       drp.n_dropped_long
      |FROM pat, drp ORDER BY n_sessions DESC, pattern""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.behaviorBoilerplate(
      Tables.load(s, dir, "events"))
  }
}
