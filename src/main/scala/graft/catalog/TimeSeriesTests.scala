package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.profile.StatTests
import graft.sources.EventsSource

import Support._

/** Catalog family: [[graft.profile.StatTests]] over event-rate series:
  * trend, changepoint, seasonality, unit-root, autocorrelation and
  * residual diagnostics, and the p-value adjustments over their
  * batteries. */
object TimeSeriesTests {

  /** Shared q303/q304 series: zero-filled hourly event counts with the
    * hour index REBASED to 0..n−1 (cos/sin arguments stay small — the
    * q282 spine shifted to the origin). */
  private def rebasedHourlySeries(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsSource.read(s, s"$dir/events.parquet")
      .filter(col("ts").isNotNull)
    val hourly = ev
      .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
      .agg(count(lit(1)).cast("double").as("y"))
    val bounds = ev
      .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
        floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
    bounds.select(col("lo"), explode(sequence(col("lo"), col("hi"))).as("h"))
      .join(hourly, Seq("h"), "left")
      .na.fill(0.0, Seq("y"))
      .select((col("h") - col("lo")).as("t"), col("y"))
  }

  val cases: Seq[Case] = Seq(
    // ---- CUSUM changepoint in daily event rate (Drift) --------------------
    // the at-most-one-change level-shift estimator; integer-exact scaled
    // CUSUM so the argmax day can never flip on float noise
    Case("q254_cusum", (s, dir) => {
      StatTests.cusumChangepoint(EventsSource.read(s, s"$dir/events.parquet"), "ts")
        .select(col("n_days"), col("change_day"),
          (round(col("cusum_max"), 6) + lit(0.0)).as("cusum_max"),
          (round(col("rate_before"), 6) + lit(0.0)).as("rate_before"),
          (round(col("rate_after"), 6) + lit(0.0)).as("rate_after"))
    },
      // integer-exact scaled CUSUM D_t = n*S_t - t*S_total; argmax by
      // (|D| desc, day asc)
      """WITH d AS (SELECT ts::DATE AS day, count(*)::BIGINT c FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         p AS (SELECT day, c, sum(c) OVER (ORDER BY day) s,
                 row_number() OVER (ORDER BY day) t FROM d),
         tot AS (SELECT max(t)::BIGINT n, max(s)::BIGINT tt FROM p),
         sc AS (SELECT day, s, t, n, tt, n * s - t * tt AS dd FROM p, tot)
         SELECT n AS n_days, day AS change_day,
           round(abs(dd)::DOUBLE / n, 6) + 0.0 AS cusum_max,
           round(s::DOUBLE / t, 6) + 0.0 AS rate_before,
           (CASE WHEN n > t
             THEN round((tt - s)::DOUBLE / (n - t), 6) END) + 0.0
             AS rate_after
         FROM sc ORDER BY abs(dd) DESC, day ASC LIMIT 1"""),

    // ---- Theil-Sen robust trend of the daily event rate (Drift) -----------
    // median of pairwise slopes over the calendar-bounded day table
    Case("q265_theil_sen", (s, dir) => {
      StatTests.theilSenTrend(EventsSource.read(s, s"$dir/events.parquet"), "ts")
        .select(col("n_days"), col("n_pairs"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 4) + lit(0.0)).as("intercept"))
    },
      // median pairwise slope over the bounded day table; epoch-day x
      """WITH d AS (SELECT ts::DATE AS day, count(*)::DOUBLE y FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         dd AS (SELECT (day - DATE '1970-01-01')::DOUBLE x, y FROM d),
         sl AS (SELECT (b.y - a.y) / (b.x - a.x) s
                FROM dd a JOIN dd b ON b.x > a.x),
         t AS (SELECT count(*)::BIGINT np, quantile_cont(s, 0.5) m FROM sl),
         i AS (SELECT quantile_cont(dd.y - t.m * dd.x, 0.5) ic FROM dd, t)
         SELECT (SELECT count(*) FROM d)::BIGINT AS n_days, t.np AS n_pairs,
           round(t.m, 6) + 0.0 AS slope, round(i.ic, 4) + 0.0 AS intercept
         FROM t, i"""),

    // ---- per-event-type CUSUM changepoint (Drift) --------------------------
    // one level-shift estimate per slice; keyed windows, nothing global
    Case("q266_cusum_by_type", (s, dir) => {
      StatTests.cusumChangepointByKey(
          EventsSource.read(s, s"$dir/events.parquet"), "ts", "event_type")
        .select(col("key").as("event_type"), col("n_days"), col("change_day"),
          (round(col("cusum_max"), 6) + lit(0.0)).as("cusum_max"),
          (round(col("rate_before"), 6) + lit(0.0)).as("rate_before"),
          (round(col("rate_after"), 6) + lit(0.0)).as("rate_after"))
        .orderBy(col("event_type"))
    },
      // per-key integer-exact scaled CUSUM; earliest-day tie rule per key
      """WITH d AS (SELECT event_type, ts::DATE AS day, count(*)::BIGINT c
               FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
               GROUP BY 1, 2),
         p AS (SELECT event_type, day, c,
                 sum(c) OVER (PARTITION BY event_type ORDER BY day) s,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) t
               FROM d),
         tot AS (SELECT event_type, max(t)::BIGINT n, max(s)::BIGINT tt
                 FROM p GROUP BY 1),
         sc AS (SELECT p.event_type, day, s, t, n, tt,
                  n * s - t * tt AS dd,
                  row_number() OVER (PARTITION BY p.event_type
                    ORDER BY abs(n * s - t * tt) DESC, day ASC) rk
                FROM p JOIN tot USING (event_type))
         SELECT event_type, n AS n_days, day AS change_day,
           round(abs(dd)::DOUBLE / n, 6) + 0.0 AS cusum_max,
           round(s::DOUBLE / t, 6) + 0.0 AS rate_before,
           (CASE WHEN n > t
             THEN round((tt - s)::DOUBLE / (n - t), 6) END) + 0.0
             AS rate_after
         FROM sc WHERE rk = 1 ORDER BY event_type"""),

    // ---- weekday seasonality strength: ANOVA F over day-of-week (Drift) ---
    // does the daily event rate depend on the weekday? anovaF composed on
    // the calendar-bounded per-day count table (group labels differ across
    // engines — Spark 1..7, DuckDB 0..6 — but the PARTITION is identical
    // and only n/k/ss/f leave the operator)
    Case("q267_seasonality", (s, dir) => {
      val daily = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
        .withColumn("dow", dayofweek(col("day")))
      StatTests.anovaF(daily, "dow", "c")
        .select(col("n"), col("k"),
          (round(col("ss_between"), 4) + lit(0.0)).as("ss_between"),
          (round(col("ss_within"), 4) + lit(0.0)).as("ss_within"),
          (round(col("f"), 6) + lit(0.0)).as("f"))
    },
      // weekday partition of the per-day count table -> the q248 moment
      // identities (group labels differ across engines; the partition and
      // the statistics are identical)
      """WITH d AS (SELECT ts::DATE AS day, count(*)::DOUBLE c FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         g AS (SELECT dayofweek(day) dow, count(*)::BIGINT ng, sum(c) s,
                 sum(c * c) q FROM d GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum(s * s / ng) sg, sum(s) st, sum(q) qt FROM g)
         SELECT n, k,
           round(sg - st * st / n, 4) + 0.0 AS ss_between,
           round(qt - sg, 4) + 0.0 AS ss_within,
           round(((sg - st * st / n) / (k - 1)) / ((qt - sg) / (n - k)), 6)
             + 0.0 AS f
         FROM t"""),

    // ---- single mean-shift changepoint on the hourly purchase rate --------
    // "WHERE did the level change": argmax of the scaled CUSUM over the
    // zero-filled spine; integer counts keep every prefix exact, earliest
    // hour wins ties; TakeOrdered(1), no global sort
    Case("q364_changepoint", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("y"))
      StatTests.changepointMean(series, "h", "y")
        .select(col("n"), col("change_at"), col("k"),
          (round(col("stat"), 6) + lit(0.0)).as("stat"),
          (round(col("mean_before"), 6) + lit(0.0)).as("mean_before"),
          (round(col("mean_after"), 6) + lit(0.0)).as("mean_after"))
    },
      // the purchase-rate hour spine; scaled-CUSUM argmax with the same
      // double expressions, earliest-hour tie-break on the unrounded stat
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h, event_type
                FROM events WHERE ts IS NOT NULL),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
         sp AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
         hc AS (SELECT h, sum(CASE WHEN event_type = 'purchase'
                  THEN 1 ELSE 0 END)::BIGINT AS y
               FROM e GROUP BY 1),
         ser AS (SELECT sp.h AS t, coalesce(y, 0)::BIGINT AS y
                FROM sp LEFT JOIN hc ON sp.h = hc.h),
         nn AS (SELECT count(*)::BIGINT n, count(*)::DOUBLE nd,
                 sum(y)::BIGINT sn, sum(y)::DOUBLE snd FROM ser),
         w AS (SELECT t, y,
                 sum(y) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) sk,
                 row_number() OVER (ORDER BY t) k
               FROM ser),
         st AS (SELECT t, k, sk::DOUBLE skd,
                 abs(sk::DOUBLE - k::DOUBLE * snd / nd)
                   / sqrt(k::DOUBLE * (nd - k::DOUBLE) / nd) stat
               FROM w, nn WHERE k < n),
         best AS (SELECT * FROM st ORDER BY stat DESC, t ASC LIMIT 1)
         SELECT n, t AS change_at, k::BIGINT AS k,
           round(stat, 6) + 0.0 AS stat,
           round(skd / k, 6) + 0.0 AS mean_before,
           round((sn - skd) / (n - k), 6) + 0.0 AS mean_after
         FROM best, nn"""),

    // ---- Granger causality: do views LEAD purchases hour-to-hour? ---------
    // lag-1 F-test of "x_{t-1} adds forecast power over y's own lag" on
    // the zero-filled hourly view/purchase rates; all ten OLS moments
    // long-exact; 3.8415 = the F(1,inf) 5% point
    Case("q357_granger", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("x", "y"))
      StatTests.grangerLag1(series, "h", "x", "y")
        .select(col("n"),
          (round(col("beta_own"), 6) + lit(0.0)).as("beta_own"),
          (round(col("beta_cross"), 6) + lit(0.0)).as("beta_cross"),
          (round(col("f"), 6) + lit(0.0)).as("f"),
          col("df2"), col("granger_5pct"))
    },
      // the two-rate hour spine; restricted vs unrestricted OLS from ten
      // exact BIGINT moments, centered/2x2/RSS arithmetic mirrored
      // expression-for-expression
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h, event_type
                FROM events WHERE ts IS NOT NULL),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
         sp AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
         hc AS (SELECT h,
                 sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   ::BIGINT AS x,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   ::BIGINT AS y
               FROM e GROUP BY 1),
         ser AS (SELECT sp.h AS t, coalesce(x, 0)::BIGINT AS x,
                 coalesce(y, 0)::BIGINT AS y
                FROM sp LEFT JOIN hc ON sp.h = hc.h),
         pr AS (SELECT c.y AS z, l.y AS w, l.x AS v
                FROM ser c JOIN ser l ON c.t = l.t + 1),
         mm AS (SELECT count(*)::BIGINT n, sum(z)::BIGINT sz,
                 sum(w)::BIGINT sw, sum(v)::BIGINT sv,
                 sum(z * z)::BIGINT szz, sum(w * w)::BIGINT sww,
                 sum(v * v)::BIGINT svv, sum(z * w)::BIGINT szw,
                 sum(z * v)::BIGINT szv, sum(w * v)::BIGINT swv
               FROM pr),
         cc AS (SELECT n,
                 szz - sz::DOUBLE * sz / n AS czz,
                 sww - sw::DOUBLE * sw / n AS cww,
                 svv - sv::DOUBLE * sv / n AS cvv,
                 szw - sz::DOUBLE * sw / n AS czw,
                 szv - sz::DOUBLE * sv / n AS czv,
                 swv - sw::DOUBLE * sv / n AS cwv
               FROM mm),
         sl AS (SELECT n, czz, czw, czv,
                 czz - czw / cww * czw AS rssr,
                 cww * cvv - cwv * cwv AS det,
                 (cvv * czw - cwv * czv) AS nbo,
                 (cww * czv - cwv * czw) AS nbc
               FROM cc),
         fin AS (SELECT n, nbo / det AS bo, nbc / det AS bc,
                 czz - nbo / det * czw - nbc / det * czv AS rssu, rssr
               FROM sl)
         SELECT n, round(bo, 6) + 0.0 AS beta_own,
           round(bc, 6) + 0.0 AS beta_cross,
           round((rssr - rssu) * (n - 3.0) / rssu, 6) + 0.0 AS f,
           (n - 3)::BIGINT AS df2,
           ((rssr - rssu) * (n - 3.0) / rssu > 3.8415) AS granger_5pct
         FROM fin"""),

    // ---- Dickey-Fuller unit root on the hourly event rate (Drift) ---------
    // "does the rate mean-revert or wander": OLS of the hourly delta on
    // the lagged level over the q282 zero-filled series; integer counts
    // keep every OLS moment long-exact; -2.86 = the 5% constant-only
    // Fuller critical value
    Case("q355_dickey_fuller", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(count(lit(1)).as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("y"))
      StatTests.dickeyFuller(series, "h", "y")
        .select(col("n"),
          (round(col("gamma"), 6) + lit(0.0)).as("gamma"),
          (round(col("se_gamma"), 6) + lit(0.0)).as("se_gamma"),
          (round(col("df_stat"), 6) + lit(0.0)).as("df_stat"),
          col("stationary_5pct"))
    },
      // the same zero-filled hour spine; lag pairs via the t = t' + 1
      // self-join; all six OLS moments are exact BIGINT sums, the gamma/
      // SE/t arithmetic mirrors the driver expression-for-expression
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
         sp AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
         hc AS (SELECT h, count(*)::BIGINT AS y FROM e GROUP BY 1),
         ser AS (SELECT sp.h AS t, coalesce(y, 0)::BIGINT AS y
                FROM sp LEFT JOIN hc ON sp.h = hc.h),
         pr AS (SELECT l.y AS x, (c.y - l.y) AS dy
                FROM ser c JOIN ser l ON c.t = l.t + 1),
         mm AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                 sum(dy)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
                 sum(x * dy)::BIGINT AS sxy, sum(dy * dy)::BIGINT AS syy
               FROM pr),
         cc AS (SELECT n, sxx - sx::DOUBLE * sx / n AS cxx,
                 sxy - sx::DOUBLE * sy / n AS cxy,
                 syy - sy::DOUBLE * sy / n AS cyy
               FROM mm),
         r AS (SELECT n, cxy / cxx AS gamma,
                 sqrt(greatest((cyy - cxy / cxx * cxy) / (n - 2.0), 0.0)
                   / cxx) AS se
               FROM cc)
         SELECT n, round(gamma, 6) + 0.0 AS gamma,
           round(se, 6) + 0.0 AS se_gamma,
           round(gamma / se, 6) + 0.0 AS df_stat,
           (gamma / se < -2.86) AS stationary_5pct
         FROM r"""),

    // ---- Ljung-Box white-noise test on the hourly event rate (Drift) ------
    // zero-filled calendar-hour series; lag products via a shifted-index
    // equi-join, chi2(10) survival in the closed even-dof form
    Case("q282_ljung_box", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0.0, Seq("y"))
      StatTests.ljungBox(series, "h", "y", maxLag = 10)
        .select(col("n"), col("lags"),
          (round(col("r1"), 6) + lit(0.0)).as("r1"),
          (round(col("q_stat"), 6) + lit(0.0)).as("q_stat"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // zero-filled hour spine; r_k via the h = h' + k self-join; chi2(10)
      // survival = exp(-q/2) * sum_{j<5} (q/2)^j / j!
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         hourly AS (SELECT h, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(h) FROM e),
                  (SELECT max(h) FROM e) + 1)) h),
         series AS (SELECT spine.h, coalesce(hourly.y, 0) y
                FROM spine LEFT JOIN hourly USING (h)),
         st AS (SELECT count(*)::BIGINT n, sum(y) / count(*) mu,
                  sum(y * y) - count(*) * pow(sum(y) / count(*), 2) ss
                FROM series),
         lagk AS (SELECT t.k, a.y ya, b.y yb
                FROM series a
                CROSS JOIN (SELECT unnest(range(1, 11)) k) t
                JOIN series b ON a.h = b.h + t.k),
         rk AS (SELECT k, st.n,
                  sum((ya - st.mu) * (yb - st.mu)) / st.ss r
                FROM lagk, st GROUP BY k, st.mu, st.ss, st.n),
         qq AS (SELECT n, n::DOUBLE * (n + 2) * sum(r * r / (n - k)) q,
                  max(CASE WHEN k = 1 THEN r END) r1
                FROM rk GROUP BY n)
         SELECT n, 10 AS lags, round(r1, 6) + 0.0 AS r1,
           round(q, 6) + 0.0 AS q_stat,
           round(least(1.0, exp(-q / 2) * (1 + q / 2 + pow(q / 2, 2) / 2
             + pow(q / 2, 3) / 6 + pow(q / 2, 4) / 24)), 6) + 0.0 AS p_value
         FROM qq"""),

    // ---- periodogram power at the daily/weekly lines (Drift) --------------
    // DFT power at caller-named periods over the zero-filled hourly series;
    // the hour index is REBASED to 0..n-1 so cos/sin arguments stay small
    // (large-argument reduction is where libm implementations drift)
    Case("q303_periodogram", (s, dir) => {
      val series = rebasedHourlySeries(s, dir)
      StatTests.periodogramPower(series, "t", "y", Seq(24, 168))
        .select(col("period"), col("n"),
          (round(col("c"), 4) + lit(0.0)).as("c"),
          (round(col("s"), 4) + lit(0.0)).as("s"),
          (round(col("power"), 2) + lit(0.0)).as("power"),
          (round(col("frac"), 6) + lit(0.0)).as("frac"))
        .gateOrdered(col("period"))
    },
      // rebased zero-filled hourly series; same cos/sin sums per period
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         hourly AS (SELECT h, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(h) FROM e),
                  (SELECT max(h) FROM e) + 1)) h),
         series AS (SELECT (spine.h - (SELECT min(h) FROM e))::BIGINT t,
                  coalesce(hourly.y, 0) y
                FROM spine LEFT JOIN hourly USING (h)),
         st AS (SELECT count(*)::BIGINT n, avg(y) mu,
                 sum(y * y) - count(*) * avg(y) * avg(y) ss
               FROM series),
         p AS (SELECT unnest([24, 168]) period),
         a AS (SELECT p.period,
                 sum((y - st.mu) * cos(2 * pi() / p.period * t)) c,
                 sum((y - st.mu) * sin(2 * pi() / p.period * t)) s
               FROM series, st, p GROUP BY p.period),
         f AS (SELECT a.period, a.c, a.s, st.n, st.ss FROM a, st)
         SELECT period, n, round(c, 4) + 0.0 AS c, round(s, 4) + 0.0 AS s,
           round(c * c + s * s, 2) + 0.0 AS power,
           CASE WHEN ss > 0 THEN
             round((c * c + s * s) * 2 / (n * ss), 6) + 0.0 END AS frac
         FROM f ORDER BY period"""),

    // ---- Hurst exponent (R/S) of the hourly load (Drift) ------------------
    // long-memory diagnostic: block-partitioned rescaled ranges at four
    // scales, log-log fit
    Case("q304_hurst", (s, dir) => {
      val series = rebasedHourlySeries(s, dir)
      StatTests.hurstRS(series, "t", "y", Seq(8, 16, 32, 64))
        .select(col("b"), col("n_blocks"),
          (round(col("mean_rs"), 6) + lit(0.0)).as("mean_rs"),
          (round(col("hurst"), 6) + lit(0.0)).as("hurst"),
          (round(col("r2"), 6) + lit(0.0)).as("r2"))
        .gateOrdered(col("b"))
    },
      // same block partitioning, mean-adjusted cumulative ranges, and
      // log-log fit over the four scales
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         hourly AS (SELECT h, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(h) FROM e),
                  (SELECT max(h) FROM e) + 1)) h),
         series AS (SELECT (spine.h - (SELECT min(h) FROM e))::BIGINT t,
                  coalesce(hourly.y, 0) y
                FROM spine LEFT JOIN hourly USING (h)),
         sc AS (SELECT unnest([8, 16, 32, 64]) b),
         tagged AS (SELECT sc.b, series.t // sc.b blk, series.t, series.y
                FROM series, sc),
         fullb AS (SELECT b, blk FROM tagged GROUP BY 1, 2
                HAVING count(*) = b),
         blocks AS (SELECT tg.* FROM tagged tg JOIN fullb USING (b, blk)),
         wm AS (SELECT b, blk, t, y,
                 avg(y) OVER (PARTITION BY b, blk) mu
               FROM blocks),
         cums AS (SELECT b, blk, y,
                 sum(y - mu) OVER (PARTITION BY b, blk ORDER BY t
                   ROWS UNBOUNDED PRECEDING) cum
               FROM wm),
         rs AS (SELECT b, blk,
                 max(cum) - least(min(cum), 0) r,
                 sqrt(greatest(avg(y * y) - avg(y) * avg(y), 0)) sg
               FROM cums GROUP BY 1, 2),
         ms AS (SELECT b, count(*)::BIGINT n_blocks, avg(r / sg) mean_rs
               FROM rs WHERE sg > 0 GROUP BY 1),
         pts AS (SELECT ln(b::DOUBLE) x, ln(mean_rs) y FROM ms
               WHERE mean_rs > 0),
         mm AS (SELECT avg(x) mx, avg(y) my FROM pts),
         ssq AS (SELECT sum((x - mx) * (x - mx)) sxx,
                 sum((x - mx) * (y - my)) sxy,
                 sum((y - my) * (y - my)) syy
               FROM pts, mm),
         fit AS (SELECT CASE WHEN sxx > 0 AND syy > 0 THEN sxy / sxx END hh,
                 CASE WHEN sxx > 0 AND syy > 0
                   THEN sxy * sxy / (sxx * syy) END r2
               FROM ssq)
         SELECT b::INT AS b, n_blocks, round(mean_rs, 6) + 0.0 AS mean_rs,
           round(hh, 6) + 0.0 AS hurst, round(r2, 6) + 0.0 AS r2
         FROM ms, fit ORDER BY b"""),

    // ---- Wald-Wolfowitz runs test per event type (Drift) ------------------
    // keyed windows only; above/below the key mean over (ts, event_id)
    Case("q309_runs_test", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      StatTests.runsTestByKey(ev, "event_type", Seq("ts", "event_id"), "value")
        .select(col("key"), col("n1"), col("n2"), col("runs"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
        .gateOrdered(col("key"))
    },
      // keyed lag window over (ts, event_id); the same mu_R / sigma_R
      // normal approximation
      """WITH b AS (SELECT event_type kk, ts, event_id, value v FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
         m AS (SELECT kk, sum(v) / count(*) mu FROM b GROUP BY 1),
         s AS (SELECT b.kk, ts, event_id,
                 CASE WHEN v > mu THEN 1 ELSE 0 END s
               FROM b JOIN m ON m.kk = b.kk WHERE v <> mu),
         lg AS (SELECT kk, s,
                 lag(s) OVER (PARTITION BY kk ORDER BY ts, event_id) p
               FROM s),
         r AS (SELECT kk, sum(s)::BIGINT n1, sum(1 - s)::BIGINT n2,
                 sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0
                   END)::BIGINT runs
               FROM lg GROUP BY 1)
         SELECT kk AS "key", n1, n2, runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
               AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2)) > 0
             THEN round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
               / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                 / (pow((n1 + n2)::DOUBLE, 2) * (n1 + n2 - 1))), 6) + 0.0
             END AS z
         FROM r ORDER BY kk"""),

    // ---- Durbin-Watson per event type: value vs hour trend (Drift) --------
    // x centered at the 2024-01-01 epoch so the OLS denominator never
    // cancels; keyed windows over (ts, event_id)
    Case("q310_durbin_watson", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("event_id").isNotNull)
        .withColumn("xh",
          (floor(unix_timestamp(col("ts")) / 3600) - lit(473702L)).cast("double"))
        .withColumn("yc", col("value") - 35.0)
      StatTests.durbinWatson(ev, "event_type", Seq("ts", "event_id"), "xh", "yc")
        .select(col("key"), col("n"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("dw"), 6) + lit(0.0)).as("dw"))
        .gateOrdered(col("key"))
    },
      // per-key closed-form OLS from raw moments (x centered at the same
      // epoch literal), residual lag window, the same DW ratio
      """WITH b AS (SELECT event_type kk, ts, event_id,
                  floor(epoch(ts) / 3600) - 473702 x, value - 35.0 y
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_id IS NOT NULL AND event_type IS NOT NULL),
         m AS (SELECT kk, count(*)::BIGINT n, sum(x) sx, sum(y) sy,
                 sum(x * x) sxx, sum(x * y) sxy
               FROM b GROUP BY 1),
         f AS (SELECT kk, n, sx, sy,
                 CASE WHEN n * sxx - sx * sx > 0
                   THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END b0
               FROM m),
         f2 AS (SELECT kk, n, b0, (sy - b0 * sx) / n a0 FROM f),
         e AS (SELECT b.kk, f2.n, b0, a0, y - a0 - b0 * x e,
                 lag(y - a0 - b0 * x)
                   OVER (PARTITION BY b.kk ORDER BY ts, event_id) ep
               FROM b JOIN f2 ON f2.kk = b.kk),
         r AS (SELECT kk, max(n) n, max(b0) b0, max(a0) a0,
                 sum(e * e) see, sum((e - ep) * (e - ep)) sde
               FROM e GROUP BY 1)
         SELECT kk AS "key", n, round(b0, 6) + 0.0 AS slope,
           round(a0, 6) + 0.0 AS intercept,
           CASE WHEN see > 0 THEN round(sde / see, 6) + 0.0 END AS dw
         FROM r ORDER BY kk"""),

    // ---- Breusch-Pagan heteroscedasticity: value vs hour (Drift) ----------
    // two moment passes; chi2(1) survival via the shared A&S polynomial
    Case("q311_breusch_pagan", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .withColumn("xh",
          (floor(unix_timestamp(col("ts")) / 3600) - lit(473702L)).cast("double"))
        .withColumn("yc", col("value") - 35.0)
      StatTests.breuschPagan(ev, "xh", "yc")
        .select(col("n"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("lm"), 6) + lit(0.0)).as("lm"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // the two-pass LM construction; p via the identical A&S erfc
      // polynomial (t in 1/(1 + 0.3275911*sqrt(lm/2)))
      """WITH b AS (SELECT floor(epoch(ts) / 3600) - 473702 x,
                  value - 35.0 y
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         m AS (SELECT count(*)::BIGINT n, sum(x) sx, sum(y) sy,
                 sum(x * x) sxx, sum(x * y) sxy FROM b),
         f AS (SELECT n, sx, sy, n * sxx - sx * sx den,
                 (n * sxy - sx * sy) / (n * sxx - sx * sx) b0 FROM m),
         f2 AS (SELECT n, sx, den, b0, (sy - b0 * sx) / n a0 FROM f),
         m2 AS (SELECT n, sx, den, b0, a0,
                 sum(pow(y - a0 - b0 * x, 2)) su,
                 sum(x * pow(y - a0 - b0 * x, 2)) sxu,
                 sum(pow(pow(y - a0 - b0 * x, 2), 2)) suu
               FROM b, f2 GROUP BY 1, 2, 3, 4, 5),
         lmx AS (SELECT n, b0, a0,
                 n * pow(n * sxu - sx * su, 2) / (den * (n * suu - su * su)) lm
               FROM m2),
         pp AS (SELECT n, b0, a0, lm,
                 1 / (1 + 0.3275911 * sqrt(lm / 2)) t FROM lmx)
         SELECT n, round(b0, 6) + 0.0 AS slope, round(a0, 6) + 0.0 AS intercept,
           round(lm, 6) + 0.0 AS lm, 1 AS df,
           round(t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
             + t * (-1.453152027 + t * 1.061405429)))) * exp(-lm / 2), 6)
             + 0.0 AS p_value
         FROM pp"""),

    // ---- EWMA one-step backtest on daily volume (Drift) -------------------
    // the scaled-prefix closed form of exponential smoothing on the
    // q301 day spine; scores vs naive-1
    Case("q322_ewma_backtest", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val daily = ev.groupBy(floor(unix_timestamp(col("ts")) / 86400).as("t"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("t"))
      val series = spine.join(daily, Seq("t"), "left").na.fill(0.0, Seq("y"))
      StatTests.ewmaBacktest(series, "t", "y", alpha = 0.3)
        .select(col("n"), col("n_scored"),
          (round(col("mae_ewma"), 6) + lit(0.0)).as("mae_ewma"),
          (round(col("mae_naive1"), 6) + lit(0.0)).as("mae_naive1"),
          (round(col("rel_mae"), 6) + lit(0.0)).as("rel_mae"))
    },
      // identical scaled-prefix EWMA: cum of y*(1/(1-a))^k, first_value
      // y0, lag for the one-step forecast
      """WITH e AS (SELECT floor(epoch(ts) / 86400)::BIGINT d FROM events
                WHERE ts IS NOT NULL),
         daily AS (SELECT d, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) t),
         series AS (SELECT spine.t, coalesce(daily.y, 0) y
                FROM spine LEFT JOIN daily ON daily.d = spine.t),
         kk AS (SELECT t - (SELECT min(t) FROM series) k, y FROM series),
         c AS (SELECT k, y,
                 sum(CASE WHEN k > 0 THEN y * pow(1 / 0.7, k) ELSE 0 END)
                   OVER (ORDER BY k) cum,
                 first_value(y) OVER (ORDER BY k) y0
               FROM kk),
         s AS (SELECT k, y, pow(0.7, k) * (y0 + 0.3 * cum) sv FROM c),
         f AS (SELECT k, y, lag(sv) OVER (ORDER BY k) fc,
                 lag(y) OVER (ORDER BY k) yp FROM s),
         m AS (SELECT count(*)::BIGINT n_scored, avg(abs(y - fc)) mae_e,
                 avg(abs(y - yp)) mae_n
               FROM f WHERE k > 0),
         nn AS (SELECT count(*)::BIGINT n FROM series)
         SELECT n, n_scored, round(mae_e, 6) + 0.0 AS mae_ewma,
           round(mae_n, 6) + 0.0 AS mae_naive1,
           CASE WHEN mae_n > 0
             THEN round(mae_e / mae_n, 6) + 0.0 END AS rel_mae
         FROM m, nn"""),

    // ---- chi-square GoF: weekday uniformity of events (Drift) -------------
    // pure-arithmetic day-of-epoch categories (engine-neutral); df = 6
    Case("q323_chisq_gof", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .select((floor(unix_timestamp(col("ts")) / 86400) % 7)
          .cast("string").as("dow"))
      StatTests.chiSquareGof(ev, "dow",
          (0 to 6).map(i => (i.toString, 1.0 / 7.0)))
        .select(col("n"), col("k"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // arithmetic day-of-epoch categories; uniform expectation; df = 6
      // closed survival exp(-x/2)(1 + x/2 + (x/2)^2/2)
      """WITH b AS (SELECT (floor(epoch(ts) / 86400)::BIGINT % 7)::VARCHAR v
                FROM events WHERE ts IS NOT NULL),
         o AS (SELECT v, count(*)::BIGINT o FROM b GROUP BY 1),
         e AS (SELECT unnest(range(0, 7))::VARCHAR v, 1.0 / 7 p),
         j AS (SELECT e.v, e.p, coalesce(o.o, 0) o
               FROM e LEFT JOIN o ON o.v = e.v),
         t AS (SELECT sum(o)::BIGINT n FROM j),
         x AS (SELECT sum(pow(o - n * p, 2) / (n * p)) chi2 FROM j, t)
         SELECT n, 7 AS k, round(chi2, 6) + 0.0 AS chi2, 6 AS df,
           round(exp(-chi2 / 2) * (1 + chi2 / 2 + pow(chi2 / 2, 2) / 2), 6)
             + 0.0 AS p_value
         FROM x, t"""),

    // ---- Holm adjustment over the runs-test battery (Drift) ---------------
    // per-type runs-test z -> two-sided A&S p -> Holm step-down; the
    // battery is 5 rows, so its sort windows are bounded by construction
    Case("q329_p_adjust", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      val battery = StatTests.runsTestByKey(ev, "event_type",
          Seq("ts", "event_id"), "value")
        .withColumn("_az", abs(col("z")) / math.sqrt(2.0))
        .withColumn("_t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("_az")))
        .withColumn("p", col("_t") * (lit(0.254829592) + col("_t") *
          (lit(-0.284496736) + col("_t") * (lit(1.421413741) + col("_t") *
            (lit(-1.453152027) + col("_t") * 1.061405429)))) *
          exp(-col("_az") * col("_az")))
        .select(col("key"), col("p"))
      StatTests.pAdjust(battery, "p", method = "holm")
        .select(col("key"),
          (round(col("p"), 6) + lit(0.0)).as("p"),
          (round(col("p_adjusted"), 6) + lit(0.0)).as("p_adjusted"))
        .gateOrdered(col("key"))
    },
      // the q309 battery, the shared A&S two-sided p, and the Holm
      // step-down (rank window + running max, both over 5 rows)
      """WITH b AS (SELECT event_type kk, ts, event_id, value v FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
         m AS (SELECT kk, sum(v) / count(*) mu FROM b GROUP BY 1),
         s AS (SELECT b.kk, ts, event_id,
                 CASE WHEN v > mu THEN 1 ELSE 0 END s
               FROM b JOIN m ON m.kk = b.kk WHERE v <> mu),
         lg AS (SELECT kk, s,
                 lag(s) OVER (PARTITION BY kk ORDER BY ts, event_id) p
               FROM s),
         r AS (SELECT kk, sum(s)::BIGINT n1, sum(1 - s)::BIGINT n2,
                 sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0
                   END)::BIGINT runs
               FROM lg GROUP BY 1),
         z AS (SELECT kk, (runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                   / (pow((n1 + n2)::DOUBLE, 2) * (n1 + n2 - 1))) zz
               FROM r),
         pv AS (SELECT kk, abs(zz) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)) t FROM z),
         pr AS (SELECT kk, t * (0.254829592 + t * (-0.284496736
                 + t * (1.421413741 + t * (-1.453152027
                 + t * 1.061405429)))) * exp(-az * az) p FROM pv),
         hm AS (SELECT kk, p,
                 p * (count(*) OVER () - row_number()
                   OVER (ORDER BY p ASC) + 1) raw
               FROM pr),
         ad AS (SELECT kk, p, least(max(raw) OVER (ORDER BY p ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 1.0) pa
               FROM hm)
         SELECT kk AS "key", round(p, 6) + 0.0 AS p,
           round(pa, 6) + 0.0 AS p_adjusted
         FROM ad ORDER BY kk"""),

    // ---- seasonal Mann-Kendall on daily volume, period 7 (Drift) ----------
    // within-weekday pairs only; combined S and variance across phases
    Case("q343_seasonal_mk", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      StatTests.seasonalMannKendall(ev, "ts", period = 7)
        .select(col("n_days"), col("period"), col("s"),
          (round(col("var_s"), 6) + lit(0.0)).as("var_s"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          col("trend"))
    },
      // the same phase-keyed pair join and per-phase tie algebra
      """WITH days AS (SELECT ts::DATE dd, count(*)::BIGINT y FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         d2 AS (SELECT dd, y,
                 ((dd - DATE '1970-01-01') % 7 + 7) % 7 g FROM days),
         sx AS (SELECT coalesce(sum(CASE WHEN b.y > a.y THEN 1
                   WHEN b.y < a.y THEN -1 ELSE 0 END), 0)::BIGINT s
               FROM d2 a JOIN d2 b ON a.g = b.g AND b.dd > a.dd),
         ps AS (SELECT g, count(*)::BIGINT ng FROM d2 GROUP BY 1),
         tp AS (SELECT g, sum(t * (t - 1) * (t * 2 + 5))::BIGINT tt FROM
                (SELECT g, y, count(*)::BIGINT t FROM d2 GROUP BY 1, 2)
               GROUP BY 1),
         vx AS (SELECT sum((ng * (ng - 1) * (ng * 2 + 5) - tt)::DOUBLE / 18) v,
                 sum(ng)::BIGINT n
               FROM ps JOIN tp USING (g))
         SELECT n AS n_days, 7 AS period, s,
           round(v, 6) + 0.0 AS var_s,
           CASE WHEN v > 0 THEN round(CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
             WHEN s < 0 THEN (s + 1) / sqrt(v) ELSE 0.0 END, 6) + 0.0
             END AS z,
           CASE WHEN v > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
               WHEN s < 0 THEN (s + 1) / sqrt(v) ELSE 0.0 END)
               > 1.959963984540054 THEN 'increasing'
             WHEN v > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
               WHEN s < 0 THEN (s + 1) / sqrt(v) ELSE 0.0 END)
               < -1.959963984540054 THEN 'decreasing'
             ELSE 'none' END AS trend
         FROM sx, vx"""),

    // ---- Benjamini-Yekutieli over the q329 battery (Drift) ----------------
    // FDR under arbitrary dependence: the harmonic penalty c(m) = H_m
    // accumulates as sum(1/rank) over the battery itself, so both engines
    // replay it exactly
    Case("q349_p_adjust_by", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      val battery = StatTests.runsTestByKey(ev, "event_type",
          Seq("ts", "event_id"), "value")
        .withColumn("_az", abs(col("z")) / math.sqrt(2.0))
        .withColumn("_t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("_az")))
        .withColumn("p", col("_t") * (lit(0.254829592) + col("_t") *
          (lit(-0.284496736) + col("_t") * (lit(1.421413741) + col("_t") *
            (lit(-1.453152027) + col("_t") * 1.061405429)))) *
          exp(-col("_az") * col("_az")))
        .select(col("key"), col("p"))
      StatTests.pAdjust(battery, "p", method = "by")
        .select(col("key"),
          (round(col("p"), 6) + lit(0.0)).as("p"),
          (round(col("p_adjusted"), 6) + lit(0.0)).as("p_adjusted"))
        .gateOrdered(col("key"))
    },
      // the q329 battery with the BY harmonic penalty: c(m) = sum(1/rank)
      // over the battery, running-min monotonicity down the descending p
      """WITH b AS (SELECT event_type kk, ts, event_id, value v FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
         m AS (SELECT kk, sum(v) / count(*) mu FROM b GROUP BY 1),
         s AS (SELECT b.kk, ts, event_id,
                 CASE WHEN v > mu THEN 1 ELSE 0 END s
               FROM b JOIN m ON m.kk = b.kk WHERE v <> mu),
         lg AS (SELECT kk, s,
                 lag(s) OVER (PARTITION BY kk ORDER BY ts, event_id) p
               FROM s),
         r AS (SELECT kk, sum(s)::BIGINT n1, sum(1 - s)::BIGINT n2,
                 sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0
                   END)::BIGINT runs
               FROM lg GROUP BY 1),
         z AS (SELECT kk, (runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                   / (pow((n1 + n2)::DOUBLE, 2) * (n1 + n2 - 1))) zz
               FROM r),
         pv AS (SELECT kk, abs(zz) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)) t FROM z),
         pr AS (SELECT kk, t * (0.254829592 + t * (-0.284496736
                 + t * (1.421413741 + t * (-1.453152027
                 + t * 1.061405429)))) * exp(-az * az) p FROM pv),
         rkd AS (SELECT kk, p, count(*) OVER () m,
                 count(*) OVER () - row_number() OVER (ORDER BY p DESC)
                   + 1 rnk
               FROM pr),
         cm AS (SELECT sum(1.0 / rnk) OVER () hm, kk, p, m, rnk FROM rkd),
         raw AS (SELECT kk, p, p * m * hm / rnk raw FROM cm),
         ad AS (SELECT kk, p, least(min(raw) OVER (ORDER BY p DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 1.0) pa
               FROM raw)
         SELECT kk AS "key", round(p, 6) + 0.0 AS p,
           round(pa, 6) + 0.0 AS p_adjusted
         FROM ad ORDER BY kk"""),

    // ---- Page's trend: does per-user activity GROW week over week? --------
    // the ordered-alternative twin of Friedman on complete user-week
    // blocks; mid-ranks within each user, L weights late weeks more
    Case("q398_page_trend", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 604800).as("wk"),
          lit(1L).as("one"))
      StatTests.pageTrend(ev, "user_id", "wk", "one")
        .select(col("n_items"), col("k"),
          (round(col("l_stat"), 6) + lit(0.0)).as("l_stat"),
          (round(col("mean_l"), 6) + lit(0.0)).as("mean_l"),
          (round(col("var_l"), 6) + lit(0.0)).as("var_l"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // generic mid-rank Page replay: item-keyed self-join for doubled
      // ranks (exact longs), row_number condition order, closed-form
      // moments, one-sided reflected A&S p
      """WITH pv AS (SELECT user_id it,
                 floor(epoch(ts) / 604800)::BIGINT c, count(*)::BIGINT v
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2),
         kk AS (SELECT count(DISTINCT c)::BIGINT k FROM pv),
         cm AS (SELECT it FROM pv GROUP BY it
               HAVING count(*) = (SELECT k FROM kk)),
         fl AS (SELECT pv.* FROM pv JOIN cm USING (it)),
         ji AS (SELECT c, row_number() OVER (ORDER BY c)::BIGINT j
               FROM (SELECT DISTINCT c FROM pv)),
         r2 AS (SELECT a.it, a.c,
                 2 + sum(CASE WHEN b.v < a.v THEN 2
                   WHEN b.v = a.v THEN 1 ELSE 0 END)::BIGINT r2
               FROM fl a JOIN fl b ON a.it = b.it AND a.c <> b.c
               GROUP BY a.it, a.c, a.v),
         ag AS (SELECT sum(j * r2)::BIGINT l2,
                 count(DISTINCT it)::BIGINT nb
               FROM r2 JOIN ji USING (c)),
         st AS (SELECT l2 / 2.0 l, nb, k,
                 nb * k * (k + 1.0) * (k + 1.0) / 4.0 ml,
                 nb * k * k * (k + 1.0) * (k + 1.0) * (k - 1.0) / 144.0 vl
               FROM ag, kk),
         zz AS (SELECT *, (l - ml) / sqrt(vl) z FROM st),
         sf AS (SELECT *, abs(z) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) tt FROM zz),
         pw AS (SELECT *, 0.5 * tt * (0.254829592 + tt * (-0.284496736
                 + tt * (1.421413741 + tt * (-1.453152027
                 + tt * 1.061405429)))) * exp(-az * az) half FROM sf)
         SELECT nb AS n_items, k, round(l, 6) + 0.0 AS l_stat,
           round(ml, 6) + 0.0 AS mean_l, round(vl, 6) + 0.0 AS var_l,
           round(z, 6) + 0.0 AS z,
           round(least(1.0, CASE WHEN z >= 0 THEN half
             ELSE 1.0 - half END), 6) + 0.0 AS p_value
         FROM pw"""),

    // ---- Jonckheere-Terpstra: do event values TREND across weeks? ---------
    // ordered-cohort trend test (KW asks "any difference", JT asks for a
    // monotone trend along the week order); integer-bucketed values keep
    // every J/tie ingredient half-integer-exact on both engines
    Case("q350_jonckheere", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(floor(unix_timestamp(col("ts")) / 604800).cast("string")
          .as("wk"), floor(col("value")).as("vb"))
      StatTests.jonckheereTerpstra(ev, "wk", "vb")
        .select(col("n"), col("k"),
          (round(col("j_stat"), 4) + lit(0.0)).as("j_stat"),
          (round(col("mean_j"), 4) + lit(0.0)).as("mean_j"),
          (round(col("var_j"), 4) + lit(0.0)).as("var_j"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // naive pairwise J* over the (week, bucket) count cells (bounded by
      // buckets x weeks), tie-corrected Hollander-Wolfe variance, shared
      // A&S two-sided p — every ingredient half-integer-exact
      """WITH gv AS (SELECT floor(epoch(ts) / 604800)::BIGINT::VARCHAR wk,
                  floor(value) vb
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         pgv AS (SELECT wk, vb, count(*)::BIGINT c FROM gv GROUP BY 1, 2),
         nn AS (SELECT count(*)::BIGINT n FROM gv),
         gsz AS (SELECT wk, sum(c)::DOUBLE ng FROM pgv GROUP BY 1),
         jj AS (SELECT sum(a.c::DOUBLE * b.c *
                 CASE WHEN a.vb < b.vb THEN 1.0 WHEN a.vb = b.vb THEN 0.5
                   ELSE 0.0 END) j
               FROM pgv a JOIN pgv b ON a.wk < b.wk),
         tm AS (SELECT sum(t * (t - 1) * (t * 2 + 5)) t1,
                 sum(t * (t - 1) * (t - 2)) t2, sum(t * (t - 1)) t3
               FROM (SELECT sum(c)::DOUBLE t FROM pgv GROUP BY vb)),
         gm AS (SELECT sum(ng * ng) sn2,
                 sum(ng * (ng - 1) * (ng * 2 + 5)) g1,
                 sum(ng * (ng - 1) * (ng - 2)) g2,
                 sum(ng * (ng - 1)) g3, count(*)::BIGINT k FROM gsz),
         st AS (SELECT n, k, j, (n::DOUBLE * n - sn2) / 4.0 meanj,
                 (n::DOUBLE * (n - 1) * (n::DOUBLE * 2 + 5) - g1 - t1)
                   / 72.0
                   + g2 * t2 / (36.0 * n * (n - 1.0) * (n - 2))
                   + g3 * t3 / (8.0 * n * (n - 1.0)) varj
               FROM nn, jj, tm, gm),
         zz AS (SELECT *, CASE WHEN k >= 2 AND varj > 0
                 THEN (j - meanj) / sqrt(varj) END z FROM st),
         pz AS (SELECT *, abs(z) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) t FROM zz)
         SELECT n, k, round(j, 4) + 0.0 AS j_stat,
           round(meanj, 4) + 0.0 AS mean_j, round(varj, 4) + 0.0 AS var_j,
           round(z, 6) + 0.0 AS z,
           CASE WHEN z IS NOT NULL THEN round(least(1.0,
             t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
               + t * (-1.453152027 + t * 1.061405429)))) * exp(-az * az)),
             6) + 0.0 END AS p_value
         FROM pz"""),

    // ---- seasonal-naive MASE backtest on daily volume (Drift) -------------
    // MASE < 1 = weekly structure beats yesterday; zero-filled day spine
    Case("q301_mase", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val daily = ev.groupBy(floor(unix_timestamp(col("ts")) / 86400).as("t"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("t"))
      val series = spine.join(daily, Seq("t"), "left").na.fill(0.0, Seq("y"))
      StatTests.maseBacktest(series, "t", "y", season = 7)
        .select(col("n"), col("n_scored"),
          (round(col("mae_seasonal"), 6) + lit(0.0)).as("mae_seasonal"),
          (round(col("mae_naive1"), 6) + lit(0.0)).as("mae_naive1"),
          (round(col("mase"), 6) + lit(0.0)).as("mase"))
    },
      // zero-filled day spine; two shifted equi-joins, one reduce
      """WITH e AS (SELECT floor(epoch(ts) / 86400)::BIGINT d FROM events
                WHERE ts IS NOT NULL),
         daily AS (SELECT d, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) d),
         series AS (SELECT spine.d t, coalesce(daily.y, 0) y
                FROM spine LEFT JOIN daily ON daily.d = spine.d),
         sc AS (SELECT s.y, s7.y ys, s1.y y1
                FROM series s
                JOIN series s7 ON s.t = s7.t + 7
                JOIN series s1 ON s.t = s1.t + 1),
         nn AS (SELECT count(*)::BIGINT n FROM series),
         t AS (SELECT count(*)::BIGINT ns, avg(abs(y - ys)) ms,
                 avg(abs(y - y1)) m1
               FROM sc)
         SELECT n, ns AS n_scored, round(ms, 6) + 0.0 AS mae_seasonal,
           round(m1, 6) + 0.0 AS mae_naive1,
           CASE WHEN m1 > 0 THEN round(ms / m1, 6) + 0.0 END AS mase
         FROM t, nn"""),

    // ---- Mann-Kendall monotone-trend test on the daily rate (Drift) -------
    // the significance companion of q265's Theil-Sen slope; integer-exact
    // S and tie mass
    Case("q272_mann_kendall", (s, dir) => {
      StatTests.mannKendall(EventsSource.read(s, s"$dir/events.parquet"), "ts")
        .select(col("n_days"), col("s"),
          (round(col("var_s"), 4) + lit(0.0)).as("var_s"),
          (round(col("z"), 6) + lit(0.0)).as("z"), col("trend"))
    },
      // integer-exact S and tie mass over the bounded day-pair join;
      // continuity-corrected z with the shared z-critical literal
      """WITH d AS (SELECT ts::DATE AS day, count(*)::BIGINT y FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         s AS (SELECT sum(CASE WHEN b.y > a.y THEN 1
                          WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT s
               FROM d a JOIN d b ON b.day > a.day),
         tt AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT m
                FROM (SELECT count(*)::BIGINT t FROM d GROUP BY y) ts2),
         nn AS (SELECT count(*)::BIGINT n FROM d),
         v AS (SELECT nn.n, s.s,
                 (nn.n::DOUBLE * (nn.n - 1) * (2 * nn.n + 5) - tt.m) / 18.0
                   vs
               FROM nn, s, tt)
         SELECT n AS n_days, s,
           round(vs, 4) + 0.0 AS var_s,
           (CASE WHEN vs > 0 THEN round(CASE WHEN s > 0
               THEN (s - 1) / sqrt(vs)
               WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END, 6) END)
             + 0.0 AS z,
           CASE WHEN vs > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(vs)
                  WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END)
                  > 1.959963984540054 THEN 'increasing'
                WHEN vs > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(vs)
                  WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END)
                  < -1.959963984540054 THEN 'decreasing'
                ELSE 'none' END AS trend
         FROM v"""))
}
