package graft.catalog

import org.apache.spark.sql.functions._

import graft.operators.Behavior
import graft.sources.EventsSource

import Support._

/** Catalog family: event-behaviour analytics from
  * [[graft.operators.Behavior]]: funnels, retention, sessions-free
  * activity measures, attribution and rate anomalies. */
object UserBehavior {

  val cases: Seq[Case] = Seq(
    // ---- ordered funnel analysis ----------------------------------------
    Case("q98_funnel", (s, dir) => {
      Behavior.funnel(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy(col("stage"))
    },
      // Sequential-min funnel CTEs in epoch-micros space (epoch_us floors
      // TIMESTAMP_NS to the micros Spark's nanos→micros div produces); the
      // kernel's greedy earliest-advance scan equals this construction
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         s1 AS (SELECT user_id, min(t) AS t FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t
                WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s2 ON e.user_id = s2.user_id AND e.t > s2.t
                WHERE e.event_type = 'purchase' GROUP BY e.user_id),
         c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
         b AS (SELECT n AS base FROM c WHERE stage = 1)
         SELECT stage, stage_name, n::BIGINT AS n_users,
                round(n::DOUBLE / base, 4) AS conversion
         FROM c CROSS JOIN b ORDER BY stage"""),

    // ---- weekly retention cohorts ---------------------------------------
    Case("q99_retention_cohorts", (s, dir) => {
      Behavior.retentionCohorts(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts")
        .select(col("cohort_week"), col("week_offset"), col("n_active"),
          col("cohort_size"), col("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      // Epoch-week cohorts (floor days-since-1970 / 7 — no locale week
      // start); distinct (user, week) before the cohort join on both sides
      """WITH e AS (SELECT DISTINCT user_id,
                      date_diff('day', DATE '1970-01-01', ts::DATE) // 7 AS week
                    FROM events),
         f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
         c AS (SELECT f.cohort_week, e.week - f.cohort_week AS week_offset,
                      count(*) AS n_active
               FROM e JOIN f USING (user_id) GROUP BY 1, 2),
         s AS (SELECT cohort_week, week_offset, n_active,
                 max(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week) AS cohort_size
               FROM c)
         SELECT cohort_week::BIGINT AS cohort_week,
                week_offset::BIGINT AS week_offset,
                n_active::BIGINT AS n_active, cohort_size::BIGINT AS cohort_size,
                round(n_active::DOUBLE / cohort_size, 4) AS retention
         FROM s ORDER BY cohort_week, week_offset"""),

    // ---- overlapping-interval coalescing --------------------------------
    Case("q100_interval_merge", (s, dir) => {
      // intervals: [ts, ts + value minutes) in epoch-micros space (micros
      // match EventsSource's nanos→micros floor; DuckDB's epoch_us mirrors)
      val iv = EventsSource.read(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts"))
            + floor(col("value") * lit(60000000.0)).cast("long")).as("end_us"))
      Behavior.mergeIntervals(iv, Seq("user_id"), "start_us", "end_us")
        .select(col("user_id"), col("island"), col("interval_start"),
          col("interval_end"), col("n_rows"))
        .gateOrdered(col("user_id"), col("island"))
    },
      // Islands coalescing in epoch-micros: same strictly-greater-than-
      // running-max island rule, same (start, end) window order
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                       epoch_us(ts) + floor(value * 60000000.0)::BIGINT AS e
                     FROM events),
         m AS (SELECT user_id, s, e,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
               FROM iv),
         isl AS (SELECT user_id, s, e,
                   sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                 FROM m)
         SELECT user_id, island::BIGINT AS island, min(s) AS interval_start,
                max(e) AS interval_end, count(*)::BIGINT AS n_rows
         FROM isl GROUP BY user_id, island ORDER BY user_id, island"""),

    // ---- rolling active users (DAU/WAU/stickiness) ----------------------
    Case("q103_rolling_active", (s, dir) => {
      Behavior.rollingActiveUsers(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", windowDays = 7)
        .select(col("day").cast("long").as("day"), col("dau"), col("wau"),
          col("stickiness"))
        .gateOrdered(col("day"))
    },
      // Sliding-distinct via bounded explode of the deduplicated user-day
      // table: day d contributes to report days d..d+6; both engines dedup
      // (user, report_day) then count. Epoch-day ints, no locale weeks.
      """WITH ud AS (SELECT DISTINCT user_id,
                       date_diff('day', DATE '1970-01-01', ts::DATE) AS day
                     FROM events),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
         wau AS (SELECT day, count(*) AS wau FROM (
                   SELECT DISTINCT user_id, day + o AS day
                   FROM ud, range(0, 7) AS t(o)) GROUP BY day)
         SELECT d.day::BIGINT AS day, dau::BIGINT AS dau, wau::BIGINT AS wau,
                round(dau::DOUBLE / wau, 4) AS stickiness
         FROM dau d JOIN wau w ON d.day = w.day ORDER BY day"""),

    // ---- event-rate anomaly scores --------------------------------------
    Case("q107_rate_anomaly", (s, dir) => {
      Behavior.rateAnomaly(EventsSource.read(s, s"$dir/events.parquet"),
        "ts", window = 24)
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_events"), col("z"))
        .orderBy(col("bucket"))
    },
      // Trailing-24h baseline, current bucket excluded; z rounded 3dp (the
      // stddev accumulations differ in the last ulps between engines)
      """WITH c AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n
                    FROM events GROUP BY 1),
         w AS (SELECT bucket, n,
                 avg(n) OVER win AS mu,
                 stddev_samp(n) OVER win AS sd,
                 count(*) OVER win AS cnt
               FROM c
               WINDOW win AS (ORDER BY bucket
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                n::BIGINT AS n_events, round((n - mu) / sd, 3) AS z
         FROM w WHERE cnt = 24 AND sd > 0 ORDER BY bucket"""),

    // ---- per-user activity gaps -----------------------------------------
    Case("q111_activity_gaps", (s, dir) => {
      Behavior.activityGaps(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts")
        .select(col("user").as("user_id"), col("gap_start_day"),
          col("gap_end_day"), col("n_missing"))
        .orderBy(col("user_id"), col("gap_start_day"))
    },
      // Whole-day gaps strictly between active days; lead over distinct
      // (user, epoch-day) on both sides
      """WITH ud AS (SELECT DISTINCT user_id,
                       date_diff('day', DATE '1970-01-01', ts::DATE) AS day
                     FROM events),
         w AS (SELECT user_id, day,
                 lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
               FROM ud)
         SELECT user_id, (day + 1)::BIGINT AS gap_start_day,
                (nxt - 1)::BIGINT AS gap_end_day,
                (nxt - day - 1)::BIGINT AS n_missing
         FROM w WHERE nxt > day + 1 ORDER BY user_id, gap_start_day"""),

    // ---- event-type transition matrix -----------------------------------
    Case("q112_event_transitions", (s, dir) => {
      Behavior.eventTransitions(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type", "event_id")
        .gateOrdered(col("from_type"), col("to_type"))
    },
      // Consecutive-pair transitions within (user, day); epoch_us ordering
      // mirrors Spark's micros timestamps, event_id breaks ties identically
      """WITH t AS (
           SELECT event_type,
                  lead(event_type) OVER (
                    PARTITION BY user_id, date_diff('day', DATE '1970-01-01', ts::DATE)
                    ORDER BY epoch_us(ts), event_id) AS nxt
           FROM events),
         c AS (SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
               FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2),
         s AS (SELECT sum(n) AS total FROM c)
         SELECT from_type, to_type, n::BIGINT AS n,
                round(n::DOUBLE / total, 6) AS share
         FROM c CROSS JOIN s ORDER BY from_type, to_type"""),

    // ---- adoption curve (cumulative first-seen users) -------------------
    Case("q119_adoption_curve", (s, dir) => {
      Behavior.adoptionCurve(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts")
        .orderBy(col("day"))
    },
      // First-seen day per user, then a running sum over the bounded
      // per-day table
      """WITH f AS (SELECT user_id,
                      min(date_diff('day', DATE '1970-01-01', ts::DATE)) AS day
                    FROM events GROUP BY user_id),
         c AS (SELECT day, count(*) AS new_users FROM f GROUP BY day)
         SELECT day::BIGINT AS day, new_users::BIGINT AS new_users,
                sum(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                  AS cum_users
         FROM c ORDER BY day"""),

    // ---- market-basket lift over event types ----------------------------
    Case("q121_basket_lift", (s, dir) => {
      Behavior.basketLift(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type")
        .gateOrdered(col("type_a"), col("type_b"))
    },
      // Unordered type-pair co-occurrence over distinct (user, day, type)
      // baskets; lift from the same three count tables
      """WITH bk AS (SELECT DISTINCT user_id,
                       date_diff('day', DATE '1970-01-01', ts::DATE) AS d,
                       event_type AS t
                     FROM events),
         nb AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, d FROM bk)),
         s AS (SELECT t, count(*) AS n1 FROM bk GROUP BY t),
         p AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_ab
               FROM bk a JOIN bk b ON a.user_id = b.user_id AND a.d = b.d
                 AND a.t < b.t
               GROUP BY 1, 2)
         SELECT type_a, type_b, n_ab::BIGINT AS n_ab,
                round((n_ab::DOUBLE * nb.n) / (sa.n1 * sb.n1), 4) AS lift
         FROM p
         JOIN s sa ON sa.t = type_a
         JOIN s sb ON sb.t = type_b
         CROSS JOIN nb
         ORDER BY type_a, type_b"""),

    // ---- rolling median rate baseline -----------------------------------
    Case("q122_rolling_median", (s, dir) => {
      Behavior.rollingMedian(EventsSource.read(s, s"$dir/events.parquet"),
        "ts", window = 24)
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_events"), round(col("med"), 4).as("med"))
        .orderBy(col("bucket"))
    },
      // Windowed interpolated median over the trailing 24 buckets, current
      // excluded — quantile_cont as a window aggregate on both engines
      """WITH c AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n
                    FROM events GROUP BY 1),
         w AS (SELECT bucket, n,
                 quantile_cont(n, 0.5) OVER (ORDER BY bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS med,
                 count(*) OVER (ORDER BY bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS cnt
               FROM c)
         SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                n::BIGINT AS n_events, round(med, 4) AS med
         FROM w WHERE cnt = 24 ORDER BY bucket"""),

    // ---- funnel time-to-convert -----------------------------------------
    Case("q123_funnel_time", (s, dir) => {
      Behavior.funnelConversionTime(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    },
      // q98's sequential-min funnel times: duration = final advance − first
      // advance per fully-converted user, interpolated percentiles
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         s1 AS (SELECT user_id, min(t) AS t FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t
                WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s2 ON e.user_id = s2.user_id AND e.t > s2.t
                WHERE e.event_type = 'purchase' GROUP BY e.user_id),
         d AS (SELECT (s3.t - s1.t)::DOUBLE AS dur
               FROM s3 JOIN s1 USING (user_id))
         SELECT count(*)::BIGINT AS n_converted,
                round(quantile_cont(dur, 0.5), 4) AS p50_us,
                round(quantile_cont(dur, 0.9), 4) AS p90_us
         FROM d"""),

    // ---- windowed (attribution) funnel ----------------------------------
    Case("q133_funnel_within", (s, dir) => {
      // conversion window: 12h from the first view (anchored semantics)
      Behavior.funnelWithin(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        windowMicros = 12L * 3600 * 1000000)
        .gateOrdered(col("stage"))
    },
      // q98's CTEs with the anchored 12h window: stage-2+ advances must
      // fall within s1.t + W (first-entry anchoring, not re-anchoring)
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         s1 AS (SELECT user_id, min(t) AS t FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t
                  AND e.t - s1.t <= 43200000000
                WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s2 ON e.user_id = s2.user_id AND e.t > s2.t
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'purchase' AND e.t - s1.t <= 43200000000
                GROUP BY e.user_id),
         c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
         b AS (SELECT n AS base FROM c WHERE stage = 1)
         SELECT stage, stage_name, n::BIGINT AS n_users,
                round(n::DOUBLE / base, 4) AS conversion
         FROM c CROSS JOIN b ORDER BY stage"""),

    // ---- per-type rate anomaly ------------------------------------------
    Case("q137_rate_anomaly_by_type", (s, dir) => {
      Behavior.rateAnomalyByKey(EventsSource.read(s, s"$dir/events.parquet"),
        "event_type", "ts", window = 24)
        .select(col("key").as("event_type"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_events"), col("z"))
        .gateOrdered(col("event_type"), col("bucket"))
    },
      // q107's construction with the type in every key: per-type hourly
      // counts, per-type trailing baseline
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                      count(*) AS n
                    FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, bucket, n,
                 avg(n) OVER win AS mu,
                 stddev_samp(n) OVER win AS sd,
                 count(*) OVER win AS cnt
               FROM c
               WINDOW win AS (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                n::BIGINT AS n_events, round((n - mu) / sd, 3) AS z
         FROM w WHERE cnt = 24 AND sd > 0
         ORDER BY event_type, bucket"""),

    // ---- in-session funnel conversion -----------------------------------
    Case("q139_session_funnel", (s, dir) => {
      Behavior.sessionFunnel(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), gapMinutes = 30)
        .gateOrdered(col("stage"))
    },
      // q41's session assignment (micros gap rule, event_id tiebreak) +
      // q98's sequential-min funnel keyed by (user, session)
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type
                    FROM events),
         g AS (SELECT user_id, event_id, t, event_type,
                 CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         s AS (SELECT user_id, t, event_type,
                 sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM g),
         s1 AS (SELECT user_id, sid, min(t) AS t FROM s
                WHERE event_type = 'view' GROUP BY 1, 2),
         s2 AS (SELECT s.user_id, s.sid, min(s.t) AS t FROM s
                JOIN s1 ON s.user_id = s1.user_id AND s.sid = s1.sid
                  AND s.t > s1.t
                WHERE s.event_type = 'click' GROUP BY 1, 2),
         s3 AS (SELECT s.user_id, s.sid, min(s.t) AS t FROM s
                JOIN s2 ON s.user_id = s2.user_id AND s.sid = s2.sid
                  AND s.t > s2.t
                WHERE s.event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
         b AS (SELECT n AS base FROM c WHERE stage = 1)
         SELECT stage, stage_name, n::BIGINT AS n_sessions,
                round(n::DOUBLE / base, 4) AS conversion
         FROM c CROSS JOIN b ORDER BY stage"""),

    // ---- multi-touch attribution (linear credit) ------------------------
    Case("q147_multitouch", (s, dir) => {
      Behavior.multiTouchAttribution(
          EventsSource.read(s, s"$dir/events.parquet"),
          "user_id", "ts", "event_id", "event_type", "value",
          touchType = "view", convType = "purchase",
          windowMinutes = 120, model = "linear")
        .select(col("touch_event"), col("user_id"), col("n_convs"),
          round(col("credit"), 4).as("credit"))
        .orderBy(col("touch_event"))
    },
      // Linear multi-touch attribution via a plain inequality join at oracle
      // scale; per-term value/n is bit-identical, the 4dp round absorbs
      // summation-order drift in the per-touch credit sum
      """WITH t AS (SELECT user_id, epoch_us(ts) AS t_us, event_id AS touch_event
                    FROM events WHERE event_type = 'view'),
              c AS (SELECT user_id, epoch_us(ts) AS c_us, event_id AS conv_event, value
                    FROM events WHERE event_type = 'purchase'),
              j AS (SELECT t.touch_event, t.user_id, c.conv_event, c.value,
                      count(*) OVER (PARTITION BY c.conv_event) AS n
                    FROM t JOIN c ON t.user_id = c.user_id
                      AND t.t_us >= c.c_us - 7200000000
                      AND t.t_us < c.c_us)
         SELECT touch_event, user_id, count(*)::BIGINT AS n_convs,
                round(sum(value / n), 4) AS credit
         FROM j GROUP BY touch_event, user_id ORDER BY touch_event"""),

    // ---- hourly-count autocorrelation (seasonality) ---------------------
    Case("q160_autocorr", (s, dir) => {
      Behavior.lagAutocorrelation(
          EventsSource.read(s, s"$dir/events.parquet"), "event_type", "ts")
        .select(col("event_type"), col("n_pairs"),
          round(col("autocorr"), 4).as("autocorr"))
        .orderBy(col("event_type"))
    },
      // Pearson over (n_t, n_{t-1}) pairs of observed hours per type; corr
      // skips NULL-lag head rows on both engines
      """WITH h AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         l AS (
           SELECT event_type, n,
                  lag(n) OVER (PARTITION BY event_type ORDER BY h) AS pn
           FROM h)
         SELECT event_type, count(pn)::BIGINT AS n_pairs,
                round(corr(n, pn), 4) AS autocorr
         FROM l GROUP BY event_type ORDER BY event_type"""),

    // ---- exponential-decay activity score -------------------------------
    Case("q161_decay_activity", (s, dir) => {
      // reference instant 2024-02-01 UTC (after the fixture's last event),
      // 24h half-life
      Behavior.decayActivity(EventsSource.read(s, s"$dir/events.parquet"),
          "user_id", "ts", refTsUs = 1706745600000000L, halfLifeHours = 24.0)
        .select(col("user_id"), col("n_events"),
          round(col("decay_score"), 4).as("decay_score"))
        .orderBy(col("user_id"))
    },
      // Σ 2^(−age/24h) against the fixed 2024-02-01 reference instant
      """SELECT user_id, count(*)::BIGINT AS n_events,
                round(sum(power(2.0,
                  -((1706745600000000 - epoch_us(ts))::DOUBLE / 3600000000.0)
                    / 24.0)), 4) AS decay_score
         FROM events GROUP BY user_id ORDER BY user_id"""))
}
