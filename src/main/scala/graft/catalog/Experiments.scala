package graft.catalog

import org.apache.spark.sql.functions._

import graft.profile.StatTests
import graft.sources.EventsSource

import Support._

/** Catalog family: A/B and causal-effect analysis from
  * [[graft.profile.StatTests]] on the events table: proportion tests and
  * intervals, sequential designs, treatment-effect estimators, variance
  * reduction and count-model checks. */
object Experiments {

  val cases: Seq[Case] = Seq(
    // ---- two-proportion z-test with Wilson intervals (Drift) --------------
    // error-rate shift between the first week of events and the rest
    Case("q239_proportion_z", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("is_err", col("event_type") === "error")
      val cut = lit("2024-01-08").cast("date")
      StatTests.proportionZTest(
          ev.filter(to_date(col("ts")) < cut),
          ev.filter(to_date(col("ts")) >= cut), "is_err")
        .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
          (round(col("rate_a"), 6) + lit(0.0)).as("rate_a"),
          (round(col("rate_b"), 6) + lit(0.0)).as("rate_b"),
          (round(col("diff"), 6) + lit(0.0)).as("diff"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("wilson_lo_a"), 6) + lit(0.0)).as("wilson_lo_a"),
          (round(col("wilson_hi_a"), 6) + lit(0.0)).as("wilson_hi_a"),
          (round(col("wilson_lo_b"), 6) + lit(0.0)).as("wilson_lo_b"),
          (round(col("wilson_hi_b"), 6) + lit(0.0)).as("wilson_hi_b"))
    },
      // pooled-variance z + Wilson score intervals with the shared
      // z-critical literal 1.959963984540054 on both engines; the
      // event_type IS NOT NULL predicate mirrors Spark's complete-case
      // filter (proportionZTest drops NULL successCol rows from n)
      """WITH sa AS (SELECT count(*)::BIGINT AS n_a,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
                    AS k_a
                FROM events WHERE ts::DATE < DATE '2024-01-08'
                  AND event_type IS NOT NULL),
         sb AS (SELECT count(*)::BIGINT AS n_b,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
                    AS k_b
                FROM events WHERE ts::DATE >= DATE '2024-01-08'
                  AND event_type IS NOT NULL),
         c AS (SELECT n_a, k_a, n_b, k_b,
                 k_a / n_a::DOUBLE AS pa, k_b / n_b::DOUBLE AS pb,
                 (k_a + k_b) / (n_a + n_b)::DOUBLE AS pool,
                 1.959963984540054 AS zc
               FROM sa, sb)
         SELECT n_a, k_a, n_b, k_b,
           round(pa, 6) + 0.0 AS rate_a, round(pb, 6) + 0.0 AS rate_b,
           round(pa - pb, 6) + 0.0 AS diff,
           (CASE WHEN pool > 0 AND pool < 1 THEN
             round((pa - pb) / sqrt(pool * (1 - pool)
               * (1.0 / n_a + 1.0 / n_b)), 6) END) + 0.0 AS z,
           round((pa + zc*zc/(2*n_a) - zc * sqrt(pa*(1-pa)/n_a
             + zc*zc/(4.0*n_a*n_a))) / (1 + zc*zc/n_a), 6) + 0.0 AS wilson_lo_a,
           round((pa + zc*zc/(2*n_a) + zc * sqrt(pa*(1-pa)/n_a
             + zc*zc/(4.0*n_a*n_a))) / (1 + zc*zc/n_a), 6) + 0.0 AS wilson_hi_a,
           round((pb + zc*zc/(2*n_b) - zc * sqrt(pb*(1-pb)/n_b
             + zc*zc/(4.0*n_b*n_b))) / (1 + zc*zc/n_b), 6) + 0.0 AS wilson_lo_b,
           round((pb + zc*zc/(2*n_b) + zc * sqrt(pb*(1-pb)/n_b
             + zc*zc/(4.0*n_b*n_b))) / (1 + zc*zc/n_b), 6) + 0.0 AS wilson_hi_b
         FROM c"""),

    // ---- proportion effect-size panel: even vs odd users (Drift) ----------
    // the size companion of q239's z test: risk ratio / odds ratio / risk
    // difference with their Wald/Woolf CIs, Cohen's h
    Case("q289_risk_ratio", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .select((col("user_id") % 2 === 0).as("even"),
          (col("event_type") === "error").as("is_err"))
      StatTests.proportionEffects(ev.filter(col("even")),
          ev.filter(!col("even")), "is_err")
        .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
          (round(col("p_a"), 6) + lit(0.0)).as("p_a"),
          (round(col("p_b"), 6) + lit(0.0)).as("p_b"),
          (round(col("risk_ratio"), 6) + lit(0.0)).as("risk_ratio"),
          (round(col("rr_lo"), 6) + lit(0.0)).as("rr_lo"),
          (round(col("rr_hi"), 6) + lit(0.0)).as("rr_hi"),
          (round(col("odds_ratio"), 6) + lit(0.0)).as("odds_ratio"),
          (round(col("or_lo"), 6) + lit(0.0)).as("or_lo"),
          (round(col("or_hi"), 6) + lit(0.0)).as("or_hi"),
          (round(col("risk_diff"), 6) + lit(0.0)).as("risk_diff"),
          (round(col("rd_lo"), 6) + lit(0.0)).as("rd_lo"),
          (round(col("rd_hi"), 6) + lit(0.0)).as("rd_hi"),
          (round(col("cohens_h"), 6) + lit(0.0)).as("cohens_h"))
    },
      // per-side counts -> the Wald/Woolf log-scale CIs and Cohen's h
      """WITH b AS (SELECT user_id % 2 = 0 ev, event_type = 'error' er
                FROM events
                WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         sa AS (SELECT count(*)::BIGINT n1, sum(CASE WHEN er THEN 1 ELSE 0
                  END)::BIGINT k1 FROM b WHERE ev),
         sb AS (SELECT count(*)::BIGINT n2, sum(CASE WHEN er THEN 1 ELSE 0
                  END)::BIGINT k2 FROM b WHERE NOT ev),
         f AS (SELECT n1, k1, n2, k2, n1::DOUBLE nd1, k1::DOUBLE kd1,
                 n2::DOUBLE nd2, k2::DOUBLE kd2, 1.959963984540054 zc
               FROM sa, sb),
         g AS (SELECT *, kd1 / nd1 p1, kd2 / nd2 p2,
                 sqrt(1 / kd1 - 1 / nd1 + 1 / kd2 - 1 / nd2) rrse,
                 (kd1 * (nd2 - kd2)) / (kd2 * (nd1 - kd1)) orr,
                 sqrt(1 / kd1 + 1 / (nd1 - kd1) + 1 / kd2
                   + 1 / (nd2 - kd2)) orse
               FROM f),
         h AS (SELECT *, sqrt(p1 * (1 - p1) / nd1 + p2 * (1 - p2) / nd2) rdse
               FROM g)
         SELECT n1 AS n_a, k1 AS k_a, n2 AS n_b, k2 AS k_b,
           round(p1, 6) + 0.0 AS p_a, round(p2, 6) + 0.0 AS p_b,
           CASE WHEN k2 > 0 THEN round(p1 / p2, 6) + 0.0 END AS risk_ratio,
           CASE WHEN k1 > 0 AND k2 > 0
             THEN round(exp(ln(p1 / p2) - zc * rrse), 6) + 0.0 END AS rr_lo,
           CASE WHEN k1 > 0 AND k2 > 0
             THEN round(exp(ln(p1 / p2) + zc * rrse), 6) + 0.0 END AS rr_hi,
           CASE WHEN k1 > 0 AND k2 > 0 AND k1 < n1 AND k2 < n2
             THEN round(orr, 6) + 0.0 END AS odds_ratio,
           CASE WHEN k1 > 0 AND k2 > 0 AND k1 < n1 AND k2 < n2
             THEN round(exp(ln(orr) - zc * orse), 6) + 0.0 END AS or_lo,
           CASE WHEN k1 > 0 AND k2 > 0 AND k1 < n1 AND k2 < n2
             THEN round(exp(ln(orr) + zc * orse), 6) + 0.0 END AS or_hi,
           round(p1 - p2, 6) + 0.0 AS risk_diff,
           round(p1 - p2 - zc * rdse, 6) + 0.0 AS rd_lo,
           round(p1 - p2 + zc * rdse, 6) + 0.0 AS rd_hi,
           round(2 * asin(sqrt(p1)) - 2 * asin(sqrt(p2)), 6) + 0.0 AS cohens_h
         FROM h"""),

    // ---- Poisson overdispersion of per-user event counts (Drift) ----------
    // Fisher's index-of-dispersion test: is per-user load Poisson or
    // bursty? closed-form normal approximation on both engines
    Case("q302_overdispersion", (s, dir) => {
      val perUser = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      StatTests.overdispersionTest(perUser, "c")
        .select(col("n"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("variance"), 6) + lit(0.0)).as("variance"),
          (round(col("dispersion"), 6) + lit(0.0)).as("dispersion"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    },
      // one keyed count + one moment reduce; same closed-form z
      """WITH u AS (SELECT user_id, count(*)::DOUBLE c FROM events
                WHERE user_id IS NOT NULL GROUP BY 1),
         m AS (SELECT count(*)::BIGINT n, avg(c) mu, var_samp(c) v FROM u)
         SELECT n, round(mu, 6) + 0.0 AS mean,
           round(v, 6) + 0.0 AS variance,
           round(v / mu, 6) + 0.0 AS dispersion,
           round((n - 1) * v / mu, 6) + 0.0 AS chi2,
           round(sqrt(2 * (n - 1) * v / mu) - sqrt(2.0 * (n - 1) - 1), 6)
             + 0.0 AS z
         FROM m"""),

    // ---- Bayesian A/B: is click's high-value rate above view's? (Drift) ---
    // Beta-posterior overlap by the same 4000-cell midpoint quadrature
    // on both engines (lgamma is the only engine-native function)
    Case("q318_bayesian_ab", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("hv", (col("value") > 50.0).cast("int"))
      StatTests.bayesianAB(ev, "event_type", "hv", armA = "view", armB = "click")
        .select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
          (round(col("mean_a"), 6) + lit(0.0)).as("mean_a"),
          (round(col("mean_b"), 6) + lit(0.0)).as("mean_b"),
          (round(col("prob_b_gt_a"), 6) + lit(0.0)).as("prob_b_gt_a"))
    },
      // identical midpoint quadrature: F_A by the shifted running sum,
      // P(B>A) = sum fb * F_A / m; engine lgamma differences are ~1e-10
      """WITH a AS (SELECT count(*)::BIGINT n,
                  sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::BIGINT s
                FROM events WHERE event_type = 'view' AND value IS NOT NULL),
         b AS (SELECT count(*)::BIGINT n,
                  sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::BIGINT s
                FROM events WHERE event_type = 'click' AND value IS NOT NULL),
         pr AS (SELECT a.s + 1.0 aa, a.n - a.s + 1.0 ab,
                 b.s + 1.0 ba, b.n - b.s + 1.0 bb FROM a, b),
         g AS (SELECT (unnest(range(0, 4000)) + 0.5) / 4000.0 x),
         pdf AS (SELECT x,
                 exp(lgamma(aa + ab) - lgamma(aa) - lgamma(ab)
                   + (aa - 1) * ln(x) + (ab - 1) * ln(1 - x)) fa,
                 exp(lgamma(ba + bb) - lgamma(ba) - lgamma(bb)
                   + (ba - 1) * ln(x) + (bb - 1) * ln(1 - x)) fb
               FROM g, pr),
         cum AS (SELECT x, fb,
                 (sum(fa) OVER (ORDER BY x) - 0.5 * fa) / 4000.0 cfa
               FROM pdf),
         p AS (SELECT least(1.0, sum(fb * cfa) / 4000.0) prob FROM cum)
         SELECT a.n AS n_a, a.s AS s_a, b.n AS n_b, b.s AS s_b,
           round((a.s + 1.0) / (a.n + 2.0), 6) + 0.0 AS mean_a,
           round((b.s + 1.0) / (b.n + 2.0), 6) + 0.0 AS mean_b,
           round(prob, 6) + 0.0 AS prob_b_gt_a
         FROM a, b, p"""),

    // ---- count-model fit of per-user-day event loads (Drift) --------------
    // zero-filled user x day grid; Poisson vs NB-MoM zero-mass diagnosis
    Case("q333_count_model", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      val counts = ev
        .groupBy(col("user_id"), floor(unix_timestamp(col("ts")) / 86400).as("d"))
        .agg(count(lit(1)).cast("double").as("c"))
      val users = ev.select(col("user_id")).distinct()
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts")))  / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("d"))
      val grid = users.crossJoin(broadcast(spine))
        .join(counts, Seq("user_id", "d"), "left").na.fill(0.0, Seq("c"))
      StatTests.countModelFit(grid, "c")
        .select(col("n"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("variance"), 6) + lit(0.0)).as("variance"),
          (round(col("zero_frac_obs"), 6) + lit(0.0)).as("zero_frac_obs"),
          (round(col("zero_frac_poisson"), 6) + lit(0.0))
            .as("zero_frac_poisson"),
          (round(col("nb_r"), 6) + lit(0.0)).as("nb_r"),
          (round(col("zero_frac_nb"), 6) + lit(0.0)).as("zero_frac_nb"))
    },
      // the same zero-filled grid; moment algebra and the MoM NB fit
      """WITH e AS (SELECT user_id u, floor(epoch(ts) / 86400)::BIGINT d
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         cts AS (SELECT u, d, count(*)::DOUBLE c FROM e GROUP BY 1, 2),
         us AS (SELECT DISTINCT u FROM e),
         sp AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) d),
         grid AS (SELECT coalesce(cts.c, 0) c
               FROM us CROSS JOIN sp
               LEFT JOIN cts ON cts.u = us.u AND cts.d = sp.d),
         m AS (SELECT count(*)::BIGINT n, sum(c) s, sum(c * c) q,
                 sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)::BIGINT z
               FROM grid),
         st AS (SELECT n, s / n mu, (q - s * s / n) / (n - 1) v,
                 z::DOUBLE / n zo FROM m)
         SELECT n, round(mu, 6) + 0.0 AS mean, round(v, 6) + 0.0 AS variance,
           round(zo, 6) + 0.0 AS zero_frac_obs,
           round(exp(-mu), 6) + 0.0 AS zero_frac_poisson,
           CASE WHEN v > mu AND mu > 0
             THEN round(mu * mu / (v - mu), 6) + 0.0 END AS nb_r,
           CASE WHEN v > mu AND mu > 0
             THEN round(pow((mu * mu / (v - mu))
               / (mu * mu / (v - mu) + mu), mu * mu / (v - mu)), 6) + 0.0
             END AS zero_frac_nb
         FROM st"""),

    // ---- Qini uplift deciles: does activity TARGET the treatment? ---------
    // the targeting-score audit table: parity cohort as treatment,
    // high-value purchase as outcome, activity volume as the score;
    // rank-exact decile edges, every cumulative an exact long sum
    Case("q360_qini", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          count(lit(1)).as("score"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("int"))
      StatTests.qiniDeciles(perUser, "t", "y", "score")
        .select(col("decile"), col("n_bin"), col("cum_treated"),
          col("cum_control"), col("cum_y_treated"), col("cum_y_control"),
          (round(col("qini"), 6) + lit(0.0)).as("qini"))
        .gateOrdered(col("decile"))
    },
      // rank-exact decile cutpoints over the distinct-score cumsum (the
      // q326 pattern), bin-desc cumulative longs, one mirrored double
      """WITH pu AS (SELECT user_id,
                  CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END t,
                  max(CASE WHEN event_type = 'purchase' AND value > 80
                      THEN 1 ELSE 0 END)::BIGINT y,
                  count(*)::DOUBLE s
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY user_id),
         dc AS (SELECT s, count(*)::BIGINT c FROM pu GROUP BY 1),
         cm AS (SELECT s, sum(c) OVER (ORDER BY s) hi FROM dc),
         nn AS (SELECT count(*)::BIGINT n FROM pu),
         rk AS (SELECT DISTINCT ((j * n + 9) // 10) r
               FROM unnest(range(1, 10)) u(j), nn),
         cuts AS (SELECT DISTINCT min(s) cut FROM cm, rk WHERE hi >= r
               GROUP BY r),
         bb AS (SELECT t, y,
                 (SELECT count(*) FROM cuts WHERE pu.s > cut) b FROM pu),
         byb AS (SELECT b, count(*)::BIGINT nb,
                 sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT nt,
                 sum(CASE WHEN t <> 1 THEN 1 ELSE 0 END)::BIGINT nc,
                 sum(CASE WHEN t = 1 THEN y ELSE 0 END)::BIGINT yt,
                 sum(CASE WHEN t <> 1 THEN y ELSE 0 END)::BIGINT yc
               FROM bb GROUP BY 1),
         cum AS (SELECT row_number() OVER (ORDER BY b DESC) decile, nb,
                 sum(nt) OVER w cnt, sum(nc) OVER w cnc,
                 sum(yt) OVER w cyt, sum(yc) OVER w cyc
               FROM byb
               WINDOW w AS (ORDER BY b DESC ROWS UNBOUNDED PRECEDING))
         SELECT decile::INT AS decile, nb AS n_bin,
           cnt::BIGINT AS cum_treated, cnc::BIGINT AS cum_control,
           cyt::BIGINT AS cum_y_treated, cyc::BIGINT AS cum_y_control,
           (CASE WHEN cnc = 0 THEN NULL
            ELSE round(cyt - cyc * (cnt::DOUBLE / cnc), 6) + 0.0 END)
             AS qini
         FROM cum ORDER BY decile"""),

    // ---- jackknife SE for revenue-per-event (unit-bucketed) ---------------
    // the honest error bar for a ratio KPI: rows correlate within a user,
    // so 32 md5 user-buckets are deleted one at a time and the replicate
    // spread prices the SE — cluster-robust by construction
    Case("q374_jackknife_ratio", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          when(col("event_type") === "purchase",
            coalesce(col("value"), lit(0.0))).otherwise(lit(0.0)).as("rev"),
          lit(1.0).as("one"))
      StatTests.jackknifeRatio(ev, "user_id", "rev", "one")
        .select(col("n"), col("buckets"),
          (round(col("ratio"), 6) + lit(0.0)).as("ratio"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    },
      // the md5 unit-bucket mirror, per-bucket exact decimal(38,12) sums,
      // leave-one-out replicates from exact subtractions, (B-1)/B variance
      """WITH e AS (SELECT
                 ('0x' || substr(md5('jk:' || user_id::VARCHAR), 1, 8))
                   ::UBIGINT % 32 b,
                 CASE WHEN event_type = 'purchase'
                   THEN coalesce(value, 0.0) ELSE 0.0 END rev
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         pb AS (SELECT b, count(*)::BIGINT c,
                 sum(CAST(round(CAST(rev AS DOUBLE), 12)
                   AS DECIMAL(38,12))) sn,
                 sum(CAST(round(1.0, 12) AS DECIMAL(38,12))) sd
               FROM e GROUP BY 1),
         tt AS (SELECT sum(c)::BIGINT n, sum(sn) tn, sum(sd) td,
                 count(*)::BIGINT bn FROM pb),
         reps AS (SELECT CAST(tn - sn AS DOUBLE)
                 / CAST(td - sd AS DOUBLE) r
               FROM pb, tt),
         mm AS (SELECT avg(r) rbar, count(*)::BIGINT bn2 FROM reps),
         vv AS (SELECT sqrt((bn2 - 1.0) / bn2
                 * sum((r - rbar) * (r - rbar))) se
               FROM reps, mm GROUP BY bn2),
         f AS (SELECT n, CAST(tn AS DOUBLE) / CAST(td AS DOUBLE) ratio,
                 se FROM tt, vv)
         SELECT n, 32::INT AS buckets, round(ratio, 6) + 0.0 AS ratio,
           round(se, 6) + 0.0 AS se,
           round(ratio - 1.959963984540054 * se, 6) + 0.0 AS ci_lo,
           round(ratio + 1.959963984540054 * se, 6) + 0.0 AS ci_hi
         FROM f"""),

    // ---- Hodges-Lehmann: HOW MUCH do click values exceed view values? -----
    // the robust shift estimate (median of all pairwise differences) +
    // Lehmann rank CI; cells quantized to 0.1 so the pair multiset is a
    // bounded cell cross join, never row-wise
    Case("q376_hodges_lehmann", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("value").isNotNull)
      val av = ev.filter(col("event_type") === "view")
        .select((round(col("value"), 1) + lit(0.0)).as("v"))
      val bv = ev.filter(col("event_type") === "click")
        .select((round(col("value"), 1) + lit(0.0)).as("v"))
      StatTests.hodgesLehmann(av, bv, "v")
        .select(col("n_a"), col("n_b"), col("n_pairs"),
          (round(col("hl_shift"), 6) + lit(0.0)).as("hl_shift"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    },
      // per-side value cells, the cell cross-join difference table, the
      // exclusive-count window, and four exact order statistics (two
      // middles + the Lehmann CI ranks) resolved per block
      """WITH av AS (SELECT round(value, 1) + 0.0 v FROM events
                WHERE value IS NOT NULL AND event_type = 'view'),
         bv AS (SELECT round(value, 1) + 0.0 v FROM events
                WHERE value IS NOT NULL AND event_type = 'click'),
         ca AS (SELECT v va, count(*)::BIGINT wa FROM av GROUP BY 1),
         cb AS (SELECT v vb, count(*)::BIGINT wb FROM bv GROUP BY 1),
         nn AS (SELECT (SELECT sum(wa) FROM ca)::BIGINT na,
                 (SELECT sum(wb) FROM cb)::BIGINT nb),
         df AS (SELECT (vb - va) d, sum(wb * wa)::BIGINT c
               FROM cb, ca GROUP BY 1),
         cum AS (SELECT *, coalesce(sum(c) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT b FROM df),
         tot AS (SELECT sum(c)::BIGINT np FROM df),
         rk AS (SELECT na, nb, np, (np + 1) // 2 r1, (np + 2) // 2 r2,
                 greatest(1, floor(np / 2.0 - 1.959963984540054
                   * sqrt(na::DOUBLE * nb * (na + nb + 1) / 12.0))
                   ::BIGINT + 1) klo,
                 least(np, np - floor(np / 2.0 - 1.959963984540054
                   * sqrt(na::DOUBLE * nb * (na + nb + 1) / 12.0))
                   ::BIGINT) khi
               FROM nn, tot),
         os AS (SELECT
                 min(CASE WHEN b < r1 AND b + c >= r1 THEN d END) o1,
                 min(CASE WHEN b < r2 AND b + c >= r2 THEN d END) o2,
                 min(CASE WHEN b < klo AND b + c >= klo THEN d END) olo,
                 min(CASE WHEN b < khi AND b + c >= khi THEN d END) ohi
               FROM cum, rk)
         SELECT na AS n_a, nb AS n_b, np AS n_pairs,
           round((o1 + o2) / 2.0, 6) + 0.0 AS hl_shift,
           round(olo, 6) + 0.0 AS ci_lo, round(ohi, 6) + 0.0 AS ci_hi
         FROM os, rk"""),

    // ---- regression-adjusted ATE: parity effect on purchases, x absorbs ---
    // the ANCOVA estimator: y = a + tau*t + b*x by closed-form OLS from
    // exact moment sums; the covariate tightens the CI, never the point
    Case("q379_regression_ate", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"),
          ((sum(when(col("value") > 50, 1L).otherwise(0L)) - 24) / 10.0)
            .as("x_highval"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.regressionAdjustedAte(perUser, "t", "y", "x_highval")
        .select(col("n"),
          (round(col("ate"), 6) + lit(0.0)).as("ate"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"),
          (round(col("beta_covariate"), 6) + lit(0.0)).as("beta_covariate"))
    },
      // the exact 9-moment reduce and the closed-form Frisch-Waugh
      // 2-regressor solution, classical sigma^2 * cXX / det variance
      """WITH du AS (SELECT
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   ::BIGINT y,
                 CAST((sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) - 24)
                   / 10.0 AS DECIMAL(8,4)) x,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         mo AS (SELECT count(*)::BIGINT n, sum(t)::DOUBLE st,
                 sum(y)::DOUBLE sy, CAST(sum(x) AS DOUBLE) sx,
                 sum(t * y)::DOUBLE sty,
                 CAST(sum(CAST(t AS DECIMAL(10,0)) * x) AS DOUBLE) stx,
                 CAST(sum(CAST(y AS DECIMAL(18,0)) * x) AS DOUBLE) sxy,
                 CAST(sum(x * x) AS DOUBLE) sxx, sum(y * y)::DOUBLE syy
               FROM du),
         cm AS (SELECT n, st - st * st / n ctt, sxx - sx * sx / n cxx,
                 stx - st * sx / n ctx, sty - st * sy / n cty,
                 sxy - sx * sy / n cxy, syy - sy * sy / n cyy
               FROM mo),
         sol AS (SELECT n, ctt * cxx - ctx * ctx det,
                 (cty * cxx - ctx * cxy) / (ctt * cxx - ctx * ctx) ate,
                 (cxy * ctt - ctx * cty) / (ctt * cxx - ctx * ctx) bx,
                 cty, cxy, cyy, cxx
               FROM cm),
         st2 AS (SELECT n, ate, bx,
                 sqrt(greatest(cyy - ate * cty - bx * cxy, 0.0)
                   / (n - 3.0) * cxx / det) se
               FROM sol),
         zz AS (SELECT *, ate / se z, abs(ate / se) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(ate / se) / sqrt(2.0)) tt
               FROM st2)
         SELECT n, round(ate, 6) + 0.0 AS ate, round(se, 6) + 0.0 AS se,
           round(z, 6) + 0.0 AS z,
           round(least(1.0, tt * (0.254829592 + tt * (-0.284496736
             + tt * (1.421413741 + tt * (-1.453152027
             + tt * 1.061405429)))) * exp(-az * az)), 6) + 0.0 AS p_value,
           round(bx, 6) + 0.0 AS beta_covariate
         FROM zz"""),

    // ---- mSPRT: always-valid p for the parity conversion difference -------
    // the anytime-peeking A/B p-value (N(0, tau) mixing prior); parity is
    // a true null, so p_always should sit near 1 — and stay valid there
    Case("q380_msprt", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.msprtProportions(perUser, "t", "y", tau = 0.0001)
        .select(col("n_a"), col("n_b"),
          (round(col("p_a"), 6) + lit(0.0)).as("p_a"),
          (round(col("p_b"), 6) + lit(0.0)).as("p_b"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("lambda_stat"), 6) + lit(0.0)).as("lambda_stat"),
          (round(col("p_always"), 6) + lit(0.0)).as("p_always"),
          col("reject_05"))
    },
      // one 4-long reduce + the closed mSPRT mixture formula
      """WITH du AS (SELECT
                 max(CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ag AS (SELECT sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT na,
                 sum(CASE WHEN t <> 0 THEN 1 ELSE 0 END)::BIGINT nb,
                 sum(CASE WHEN t = 0 THEN y ELSE 0 END)::BIGINT sa,
                 sum(CASE WHEN t <> 0 THEN y ELSE 0 END)::BIGINT sb
               FROM du),
         st AS (SELECT na, nb, sa::DOUBLE / na pa, sb::DOUBLE / nb pb,
                 (sa + sb)::DOUBLE / (na + nb) pp FROM ag),
         vv AS (SELECT *, pp * (1.0 - pp) * (1.0 / na + 1.0 / nb) v,
                 pb - pa delta FROM st),
         lm AS (SELECT *, sqrt(v / (v + 0.0001))
                 * exp(delta * delta * 0.0001
                   / (2.0 * v * (v + 0.0001))) lam FROM vv),
         f AS (SELECT *, least(1.0, 1.0 / lam) pav FROM lm)
         SELECT na AS n_a, nb AS n_b, round(pa, 6) + 0.0 AS p_a,
           round(pb, 6) + 0.0 AS p_b, round(delta, 6) + 0.0 AS delta,
           round(lam, 6) + 0.0 AS lambda_stat,
           round(pav, 6) + 0.0 AS p_always, (pav < 0.05) AS reject_05
         FROM f"""),

    // ---- quantile treatment effects: parity's effect across the deciles ---
    // where in the activity distribution the "treatment" acts — rank-
    // exact per-arm deciles, differenced; flat ATE + loud tail = QTE's job
    Case("q383_qte", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("activity"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.quantileTreatmentEffects(perUser, "t", "activity")
        .select((round(col("quantile"), 1) + lit(0.0)).as("quantile"),
          col("n_treated"), col("n_control"),
          (round(col("q_treated"), 6) + lit(0.0)).as("q_treated"),
          (round(col("q_control"), 6) + lit(0.0)).as("q_control"),
          (round(col("qte"), 6) + lit(0.0)).as("qte"))
        .gateOrdered(col("quantile"))
    },
      // the full Breslow-Newton replay (coxCtes): 4 unrolled iterations,
      // exact decimal risk-set sums, 12-dp term/β rounding, closed-form
      // 2×2 solve, SE from the final information, shared A&S two-sided p
      // per-arm per-value counts, exclusive-count windows, rank ceil(q*n)
      // hit per block — the repo's tie-collapsing cutpoint convention
      """WITH du AS (SELECT count(*)::BIGINT v,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ct AS (SELECT v::DOUBLE v, count(*)::BIGINT c FROM du
               WHERE t = 1 GROUP BY 1),
         cc AS (SELECT v::DOUBLE v, count(*)::BIGINT c FROM du
               WHERE t = 0 GROUP BY 1),
         wt AS (SELECT *, coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT e FROM ct),
         wc AS (SELECT *, coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT e FROM cc),
         nt AS (SELECT sum(c)::BIGINT n FROM ct),
         nc AS (SELECT sum(c)::BIGINT n FROM cc),
         qs AS (SELECT unnest(range(1, 10))::BIGINT i),
         ht AS (SELECT i, min(v) qv FROM qs, wt, nt
               WHERE (i * n + 9) // 10 > e
                 AND (i * n + 9) // 10 <= e + c GROUP BY i),
         hc AS (SELECT i, min(v) qv FROM qs, wc, nc
               WHERE (i * n + 9) // 10 > e
                 AND (i * n + 9) // 10 <= e + c GROUP BY i)
         SELECT round(i / 10.0, 1) + 0.0 AS quantile,
           (SELECT n FROM nt) AS n_treated,
           (SELECT n FROM nc) AS n_control,
           round(ht.qv, 6) + 0.0 AS q_treated,
           round(hc.qv, 6) + 0.0 AS q_control,
           round(ht.qv - hc.qv, 6) + 0.0 AS qte
         FROM qs JOIN ht USING (i) JOIN hc USING (i)
         ORDER BY quantile"""),

    // ---- difference-in-differences: parity lift net of the common drift ---
    // per-user purchases before/after the calendar midpoint; DiD removes
    // both the arm level gap and the shared time shock — parity is a
    // true null, so did should sit near 0 with an honest Welch SE
    Case("q384_did", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("hr", floor(unix_timestamp(col("ts")) / 3600))
      val mid = ev.agg(floor((min(col("hr")) + max(col("hr"))) / 2)
        .as("__mid"))
      val perUser = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase" &&
            col("hr") <= col("__mid"), 1L).otherwise(0L)).as("y_pre"),
          sum(when(col("event_type") === "purchase" &&
            col("hr") > col("__mid"), 1L).otherwise(0L)).as("y_post"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.diffInDiff(perUser, "t", "y_pre", "y_post")
        .select(col("n_treated"), col("n_control"),
          (round(col("pre_treated"), 6) + lit(0.0)).as("pre_treated"),
          (round(col("post_treated"), 6) + lit(0.0)).as("post_treated"),
          (round(col("pre_control"), 6) + lit(0.0)).as("pre_control"),
          (round(col("post_control"), 6) + lit(0.0)).as("post_control"),
          (round(col("did"), 6) + lit(0.0)).as("did"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // the calendar-midpoint split, exact per-user integer change sums,
      // and the closed-form Welch algebra on the per-arm changes
      """WITH eh AS (SELECT user_id, event_type,
                 floor(epoch(ts) / 3600)::BIGINT hr
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         md AS (SELECT (min(hr) + max(hr)) // 2 mid FROM eh),
         du AS (SELECT user_id,
                 sum(CASE WHEN event_type = 'purchase' AND hr <= mid
                   THEN 1 ELSE 0 END)::BIGINT ypre,
                 sum(CASE WHEN event_type = 'purchase' AND hr > mid
                   THEN 1 ELSE 0 END)::BIGINT ypost,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM eh, md GROUP BY user_id, mid),
         ag AS (SELECT sum(t)::BIGINT n1, sum(1 - t)::BIGINT n0,
                 sum(t * ypre)::BIGINT p1, sum(t * ypost)::BIGINT q1,
                 sum((1 - t) * ypre)::BIGINT p0,
                 sum((1 - t) * ypost)::BIGINT q0,
                 sum(t * (ypost - ypre) * (ypost - ypre))::BIGINT s1,
                 sum((1 - t) * (ypost - ypre) * (ypost - ypre))::BIGINT s0
               FROM du),
         st AS (SELECT n1, n0, p1, q1, p0, q0,
                 (q1 - p1)::DOUBLE / n1 - (q0 - p0)::DOUBLE / n0 did,
                 sqrt(greatest((s1 - (q1 - p1)::DOUBLE * (q1 - p1) / n1)
                     / (n1 - 1.0), 0.0) / n1 +
                   greatest((s0 - (q0 - p0)::DOUBLE * (q0 - p0) / n0)
                     / (n0 - 1.0), 0.0) / n0) se
               FROM ag),
         zz AS (SELECT *, did / se z, abs(did / se) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(did / se) / sqrt(2.0)) tt
               FROM st)
         SELECT n1 AS n_treated, n0 AS n_control,
           round(p1::DOUBLE / n1, 6) + 0.0 AS pre_treated,
           round(q1::DOUBLE / n1, 6) + 0.0 AS post_treated,
           round(p0::DOUBLE / n0, 6) + 0.0 AS pre_control,
           round(q0::DOUBLE / n0, 6) + 0.0 AS post_control,
           round(did, 6) + 0.0 AS did, round(se, 6) + 0.0 AS se,
           round(z, 6) + 0.0 AS z,
           round(least(1.0, tt * (0.254829592 + tt * (-0.284496736
             + tt * (1.421413741 + tt * (-1.453152027
             + tt * 1.061405429)))) * exp(-az * az)), 6) + 0.0 AS p_value
         FROM zz"""),

    // ---- power / MDE: how long must the next conversion test run? ---------
    // the design table from the observed arms: detectable effect at the
    // current n, required n per arm for the observed delta, achieved power
    Case("q385_power_mde", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.powerTwoProportions(perUser, "t", "y")
        .select(col("n_a"), col("n_b"),
          (round(col("p_a"), 6) + lit(0.0)).as("p_a"),
          (round(col("p_b"), 6) + lit(0.0)).as("p_b"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("mde"), 6) + lit(0.0)).as("mde"),
          col("n_required_per_arm"),
          (round(col("power_at_n"), 6) + lit(0.0)).as("power_at_n"))
    },
      // one exact count reduce; the published z quantiles; achieved power
      // via the reflected A&S survival (q lands either side of zero)
      """WITH du AS (SELECT
                 max(CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ag AS (SELECT sum(1 - t)::BIGINT na, sum(t)::BIGINT nb,
                 sum((1 - t) * y)::BIGINT sa, sum(t * y)::BIGINT sb
               FROM du),
         st AS (SELECT na, nb, sa::DOUBLE / na pa, sb::DOUBLE / nb pb,
                 (sa + sb)::DOUBLE / (na + nb) pp FROM ag),
         vv AS (SELECT *, pb - pa delta,
                 sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)) se
               FROM st),
         qq AS (SELECT *, abs(delta) / se - 1.959963985 q,
                 (1.959963985 + 0.8416212336) zsum FROM vv),
         sf AS (SELECT *, abs(q) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(q) / sqrt(2.0)) tt FROM qq),
         pw AS (SELECT *, 0.5 * tt * (0.254829592 + tt * (-0.284496736
                 + tt * (1.421413741 + tt * (-1.453152027
                 + tt * 1.061405429)))) * exp(-az * az) half FROM sf)
         SELECT na AS n_a, nb AS n_b,
           round(pa, 6) + 0.0 AS p_a, round(pb, 6) + 0.0 AS p_b,
           round(delta, 6) + 0.0 AS delta,
           round(zsum * se, 6) + 0.0 AS mde,
           CASE WHEN delta = 0 THEN NULL ELSE
             ceil(zsum * zsum * 2.0 * pp * (1.0 - pp)
               / (delta * delta))::BIGINT END AS n_required_per_arm,
           round(1.0 - (CASE WHEN q >= 0 THEN half
             ELSE 1.0 - half END), 6) + 0.0 AS power_at_n
         FROM pw"""),

    // ---- SRM: is the parity "assignment" actually 50/50? ------------------
    // the assignment-health gate before any metric read; chi-square vs
    // the design shares with the platform-standard p < 0.001 red flag
    Case("q386_srm", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id")).agg(count(lit(1)).as("__n"))
        .withColumn("arm", (col("user_id") % 2).cast("string"))
      StatTests.srmCheck(perUser, "arm", Seq("0" -> 0.5, "1" -> 0.5))
        .select(col("arm"), col("n"),
          (round(col("expected"), 6) + lit(0.0)).as("expected"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"), col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"),
          col("srm_flag"))
        .gateOrdered(col("arm"))
    },
      // exact arm counts vs the 50/50 design; chi2_1 survival as the
      // reflected normal: p = 2*Phi(-sqrt(chi2)) via the erf polynomial
      """WITH du AS (SELECT (user_id % 2)::VARCHAR arm FROM events
               WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         c AS (SELECT arm, count(*)::BIGINT n FROM du GROUP BY arm),
         t AS (SELECT sum(n)::BIGINT tot FROM c),
         x AS (SELECT sum((n - 0.5 * tot) * (n - 0.5 * tot)
                 / (0.5 * tot)) chi2 FROM c, t),
         p AS (SELECT chi2, sqrt(chi2) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * sqrt(chi2) / sqrt(2.0)) tt
               FROM x),
         pv AS (SELECT chi2, least(1.0, tt * (0.254829592
                 + tt * (-0.284496736 + tt * (1.421413741
                 + tt * (-1.453152027 + tt * 1.061405429))))
                 * exp(-az * az)) pval FROM p)
         SELECT c.arm, c.n, round(0.5 * t.tot, 6) + 0.0 AS expected,
           round(pv.chi2, 6) + 0.0 AS chi2, 1::BIGINT AS df,
           round(pv.pval, 6) + 0.0 AS p_value, pv.pval < 0.001 AS srm_flag
         FROM c, t, pv ORDER BY c.arm"""),

    // ---- O'Brien-Fleming sequential looks over enrollment quintiles -------
    // the 5-look interim-analysis table: cumulative pooled z per look vs
    // the 2.0401*sqrt(5/k) boundary — early looks need overwhelming
    // evidence, the final look spends the full level
    Case("q387_obf_sequential", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("hr", floor(unix_timestamp(col("ts")) / 3600))
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(col("hr")).as("__f"),
          max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      val span = perUser.agg(min(col("__f")).as("__lo"),
        max(col("__f")).as("__hi"))
      val looked = perUser.crossJoin(broadcast(span))
        .withColumn("look", least(lit(5L), lit(1L) +
          floor((col("__f") - col("__lo")) * 5 /
            (col("__hi") - col("__lo") + 1))))
      StatTests.groupSequentialObf(looked, "look", "t", "y")
        .select(col("look"), col("n_a"), col("n_b"), col("x_a"), col("x_b"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("boundary"), 6) + lit(0.0)).as("boundary"),
          col("crossed"))
        .gateOrdered(col("look"))
    },
      // enrollment quintiles, cumulative pooled z per look via a 5-row
      // window, and the OBF sqrt(K/k) boundary from the published constant
      """WITH eh AS (SELECT user_id,
                 floor(epoch(ts) / 3600)::BIGINT hr,
                 CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END cv
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         du AS (SELECT user_id, min(hr) f, max(cv)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM eh GROUP BY user_id),
         sp AS (SELECT min(f) lo, max(f) hi FROM du),
         lk AS (SELECT least(5, 1 + (f - lo) * 5 // (hi - lo + 1)) look,
                 t, y FROM du, sp),
         per AS (SELECT look, sum(1 - t)::BIGINT na, sum(t)::BIGINT nb,
                 sum((1 - t) * y)::BIGINT xa, sum(t * y)::BIGINT xb
               FROM lk GROUP BY look),
         kk AS (SELECT count(*)::BIGINT ktot FROM per),
         cum AS (SELECT look,
                 sum(na) OVER (ORDER BY look)::BIGINT cna,
                 sum(nb) OVER (ORDER BY look)::BIGINT cnb,
                 sum(xa) OVER (ORDER BY look)::BIGINT cxa,
                 sum(xb) OVER (ORDER BY look)::BIGINT cxb,
                 row_number() OVER (ORDER BY look)::BIGINT k
               FROM per),
         st AS (SELECT look, cna, cnb, cxa, cxb, k, ktot,
                 (cxa + cxb)::DOUBLE / (cna + cnb) pp,
                 cxb::DOUBLE / cnb - cxa::DOUBLE / cna delta
               FROM cum, kk),
         zz AS (SELECT *, CASE WHEN pp > 0 AND pp < 1 THEN
                 delta / sqrt(pp * (1.0 - pp)
                   * (1.0 / cna + 1.0 / cnb)) END z,
                 2.0401 * sqrt(ktot::DOUBLE / k) bnd
               FROM st)
         SELECT look, cna AS n_a, cnb AS n_b, cxa AS x_a, cxb AS x_b,
           round(delta, 6) + 0.0 AS delta, round(z, 6) + 0.0 AS z,
           round(bnd, 6) + 0.0 AS boundary,
           coalesce(abs(z) > bnd, FALSE) AS crossed
         FROM zz ORDER BY look"""),

    // ---- E-value: how strong a confounder could kill the parity RR? -------
    // the sensitivity headline next to any observational risk ratio;
    // parity is a true null, so the CI should cross 1 and e_value_ci = 1
    Case("q394_e_value", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.eValueRR(perUser, "t", "y")
        .select(col("n_exposed"), col("n_unexposed"),
          (round(col("rr"), 6) + lit(0.0)).as("rr"),
          (round(col("rr_lo"), 6) + lit(0.0)).as("rr_lo"),
          (round(col("rr_hi"), 6) + lit(0.0)).as("rr_hi"),
          (round(col("e_value"), 6) + lit(0.0)).as("e_value"),
          (round(col("e_value_ci"), 6) + lit(0.0)).as("e_value_ci"))
    },
      // one exact 2x2 reduce, Wald log-RR interval, and the VanderWeele-
      // Ding transform at the point and the near-null CI bound
      """WITH du AS (SELECT
                 max(CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ag AS (SELECT sum(t)::BIGINT n1, (count(*) - sum(t))::BIGINT n0,
                 sum(t * y)::BIGINT a, sum((1 - t) * y)::BIGINT c
               FROM du),
         st AS (SELECT n1, n0,
                 (a::DOUBLE / n1) / (c::DOUBLE / n0) rr,
                 sqrt(1.0 / a - 1.0 / n1 + 1.0 / c - 1.0 / n0) seln
               FROM ag),
         ci AS (SELECT *, exp(ln(rr) - 1.959963985 * seln) lo,
                 exp(ln(rr) + 1.959963985 * seln) hi FROM st),
         ev AS (SELECT *,
                 CASE WHEN rr >= 1.0 THEN rr + sqrt(rr * (rr - 1.0))
                   ELSE (1.0 / rr)
                     + sqrt((1.0 / rr) * (1.0 / rr - 1.0)) END e_pt,
                 CASE WHEN lo <= 1.0 AND hi >= 1.0 THEN 1.0
                   WHEN rr >= 1.0 THEN lo + sqrt(lo * (lo - 1.0))
                   ELSE (1.0 / hi)
                     + sqrt((1.0 / hi) * (1.0 / hi - 1.0)) END e_ci
               FROM ci)
         SELECT n1 AS n_exposed, n0 AS n_unexposed,
           round(rr, 6) + 0.0 AS rr, round(lo, 6) + 0.0 AS rr_lo,
           round(hi, 6) + 0.0 AS rr_hi, round(e_pt, 6) + 0.0 AS e_value,
           round(e_ci, 6) + 0.0 AS e_value_ci
         FROM ev"""),

    // ---- Newcombe-Wilson CI for the parity conversion difference ----------
    // the proportion-difference interval that behaves at boundary rates
    // where Wald collapses; per-arm Wilson bounds squared into the diff
    Case("q399_newcombe_ci", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.newcombeDiffCI(perUser, "t", "y")
        .select(col("n_a"), col("n_b"),
          (round(col("p_a"), 6) + lit(0.0)).as("p_a"),
          (round(col("p_b"), 6) + lit(0.0)).as("p_b"),
          (round(col("wilson_lo_a"), 6) + lit(0.0)).as("wilson_lo_a"),
          (round(col("wilson_hi_a"), 6) + lit(0.0)).as("wilson_hi_a"),
          (round(col("wilson_lo_b"), 6) + lit(0.0)).as("wilson_lo_b"),
          (round(col("wilson_hi_b"), 6) + lit(0.0)).as("wilson_hi_b"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    },
      // one exact count reduce; per-arm Wilson score bounds; the Newcombe
      // square-and-add difference interval
      """WITH du AS (SELECT
                 max(CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ag AS (SELECT sum(1 - t)::BIGINT na, sum(t)::BIGINT nb,
                 sum((1 - t) * y)::BIGINT sa, sum(t * y)::BIGINT sb
               FROM du),
         zz AS (SELECT 1.959963985 zc, 1.959963985 * 1.959963985 z2),
         wa AS (SELECT na, nb, sa, sb, zc, z2, sa::DOUBLE / na pa,
                 (sa::DOUBLE / na + z2 / (2.0 * na)) / (1.0 + z2 / na) ca,
                 zc * sqrt((sa::DOUBLE / na) * (1.0 - sa::DOUBLE / na)
                   / na + z2 / (4.0 * na * na)) / (1.0 + z2 / na) ha
               FROM ag, zz),
         wb AS (SELECT *, sb::DOUBLE / nb pb,
                 (sb::DOUBLE / nb + z2 / (2.0 * nb)) / (1.0 + z2 / nb) cb,
                 zc * sqrt((sb::DOUBLE / nb) * (1.0 - sb::DOUBLE / nb)
                   / nb + z2 / (4.0 * nb * nb)) / (1.0 + z2 / nb) hb
               FROM wa),
         f AS (SELECT na, nb, pa, pb, ca - ha la, ca + ha ua,
                 cb - hb lb, cb + hb ub, pb - pa delta FROM wb)
         SELECT na AS n_a, nb AS n_b, round(pa, 6) + 0.0 AS p_a,
           round(pb, 6) + 0.0 AS p_b,
           round(la, 6) + 0.0 AS wilson_lo_a,
           round(ua, 6) + 0.0 AS wilson_hi_a,
           round(lb, 6) + 0.0 AS wilson_lo_b,
           round(ub, 6) + 0.0 AS wilson_hi_b,
           round(delta, 6) + 0.0 AS delta,
           round(delta - sqrt((pb - lb) * (pb - lb)
             + (ua - pa) * (ua - pa)), 6) + 0.0 AS ci_lo,
           round(delta + sqrt((ub - pb) * (ub - pb)
             + (pa - la) * (pa - la)), 6) + 0.0 AS ci_hi
         FROM f"""),

    // ---- Wilcoxon signed-rank: per-user H1 vs H2 activity (Drift) ---------
    // the PAIRED shift test (q229's MW assumes independent samples);
    // zero-difference users drop, ties get average ranks
    Case("q294_wilcoxon", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      val split = lit("2024-01-16").cast("date")
      val perUser = ev.groupBy(col("user_id")).agg(
        sum(when(to_date(col("ts")) < split, 1L).otherwise(0L))
          .cast("double").as("x"),
        sum(when(to_date(col("ts")) >= split, 1L).otherwise(0L))
          .cast("double").as("y"))
      StatTests.wilcoxonSignedRank(perUser, "x", "y")
        .select(col("n_pairs"), col("n_nonzero"),
          col("w_plus"), col("w_minus"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    },
      // same distinct-|d| average-rank cumsum and tie-corrected variance
      """WITH pu AS (SELECT user_id,
                  sum(CASE WHEN ts::DATE < DATE '2024-01-16'
                    THEN 1 ELSE 0 END)::DOUBLE x,
                  sum(CASE WHEN ts::DATE >= DATE '2024-01-16'
                    THEN 1 ELSE 0 END)::DOUBLE y
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                GROUP BY 1),
         dd AS (SELECT x - y d FROM pu),
         nz AS (SELECT abs(d) v, d FROM dd WHERE d <> 0),
         byv AS (SELECT v, count(*)::BIGINT cnt,
                  sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT pos
                FROM nz GROUP BY 1),
         c AS (SELECT v, cnt, pos,
                 coalesce(sum(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bef
               FROM byv),
         t AS (SELECT sum(pos * (bef + (cnt + 1) / 2.0)) wp,
                 sum(cnt::DOUBLE * cnt * cnt - cnt) tmass,
                 sum(cnt)::BIGINT n
               FROM c),
         np AS (SELECT count(*)::BIGINT npairs FROM pu)
         SELECT npairs AS n_pairs, n AS n_nonzero, wp AS w_plus,
           n::DOUBLE * (n + 1) / 2 - wp AS w_minus,
           round((wp - n::DOUBLE * (n + 1) / 4)
             / sqrt(n::DOUBLE * (n + 1) * (2 * n + 1) / 24 - tmass / 48), 6)
             + 0.0 AS z
         FROM t, np"""),

    // ---- CUPED variance reduction (Drift) ---------------------------------
    // per-user week-1 activity as the pre-period covariate for the
    // rest-of-month activity metric; one co-moment aggregation pass
    Case("q244_cuped", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val cut = lit("2024-01-08").cast("date")
      val perUser = ev.groupBy(col("user_id")).agg(
        sum(when(to_date(col("ts")) < cut, 1L).otherwise(0L)).as("pre"),
        sum(when(to_date(col("ts")) >= cut, 1L).otherwise(0L)).as("post"))
      StatTests.cuped(perUser, "pre", "post")
        .select(col("n"),
          (round(col("theta"), 6) + lit(0.0)).as("theta"),
          (round(col("mean_metric"), 6) + lit(0.0)).as("mean_metric"),
          (round(col("var_metric"), 6) + lit(0.0)).as("var_metric"),
          (round(col("var_adjusted"), 6) + lit(0.0)).as("var_adjusted"),
          (round(col("var_reduction"), 6) + lit(0.0)).as("var_reduction"))
    },
      // same var_samp/covar_samp primitives; the adjusted variance uses the
      // exact identity var_y - cov^2/var_x on both engines
      """WITH pu AS (SELECT user_id,
                  sum(CASE WHEN ts::DATE < DATE '2024-01-08' THEN 1 ELSE 0 END)
                    ::DOUBLE AS x,
                  sum(CASE WHEN ts::DATE >= DATE '2024-01-08' THEN 1 ELSE 0 END)
                    ::DOUBLE AS y
                FROM events GROUP BY 1),
         s AS (SELECT count(*)::BIGINT AS n, var_samp(x) AS vx,
                 var_samp(y) AS vy, covar_samp(x, y) AS cxy, avg(y) AS my
               FROM pu)
         SELECT n,
           (CASE WHEN vx > 0 THEN round(cxy / vx, 6) END) + 0.0 AS theta,
           round(my, 6) + 0.0 AS mean_metric,
           round(vy, 6) + 0.0 AS var_metric,
           round(CASE WHEN vx > 0 THEN vy - cxy * cxy / vx ELSE vy END, 6)
             + 0.0 AS var_adjusted,
           (CASE WHEN vy > 0 THEN round(1.0 - (CASE WHEN vx > 0
                 THEN vy - cxy * cxy / vx ELSE vy END) / vy, 6) END)
             + 0.0 AS var_reduction
         FROM s"""))
}
