package graft.catalog

import org.apache.spark.sql.functions._

import graft.operators.{Behavior, LinearModel}
import graft.sources.EventsSource

import Support._

/** Catalog family: survival analysis ([[graft.operators.Behavior]]:
  * Kaplan-Meier, Nelson-Aalen, Cox, AFT, competing risks) and the GLM
  * fits of [[graft.operators.LinearModel]] with the causal estimators
  * built on them. */
object SurvivalGlm {

  /** q356 oracle: the Poisson-GLM Newton loop replayed as chained CTEs —
    * the coxCtes shape without risk sets. Every moment (Σy, Σyx, Σμ,
    * Σμx, Σμx²) is an exact decimal/long sum; β re-rounds to 12 dp per
    * iteration; the 2×2 step/SE mirror the driver verbatim. */
  private def poissonCtes(iterations: Int): String = {
    // du MATERIALIZED: referenced by every iteration's score pass (and
    // q375's NB chain on top) — inlining would recompute the per-user
    // groupby once per reference
    val base = """du AS MATERIALIZED (SELECT
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT y,
             CAST((count(*) - 66) / 10.0 AS DECIMAL(8,4)) x0
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY user_id),
         nn AS (SELECT count(*)::BIGINT n, CAST(sum(y) AS DOUBLE) sy,
             CAST(sum(CAST(y AS DECIMAL(12,0)) * x0) AS DOUBLE) syx
           FROM du),
         cb0 AS (SELECT round(ln(sy / n), 12)::DOUBLE b0, 0.0::DOUBLE b1
           FROM nn)"""
    // iterations stepping passes + ONE trailing no-step pass that
    // re-evaluates the Fisher information at the converged β (the
    // driver's SE-at-reported-β convention): SE reads gt{iterations+1}
    val iters = (1 to iterations + 1).map { i =>
      val prev = s"cb${i - 1}"
      s"""sc$i AS (SELECT y, x0,
             CAST(exp(b0 + CAST(x0 AS DOUBLE) * b1) AS DECIMAL(20,12)) mu
           FROM du, $prev),
         gt$i AS (SELECT CAST(sum(mu) AS DOUBLE) h00,
             CAST(sum(mu * x0) AS DOUBLE) h01,
             CAST(sum(mu * x0 * x0) AS DOUBLE) h11
           FROM sc$i)""" +
        (if (i > iterations) "" else s""",
         cb$i AS (SELECT
             round(b0 + (h11 * (sy - h00) - h01 * (syx - h01))
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * (syx - h01) - h01 * (sy - h00))
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, gt$i, nn)""")
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** q370 oracle: the logistic-GLM Newton loop replayed as chained CTEs —
    * the poissonCtes shape with a BOUNDED mean: μ = σ(η) rounds to 12 dp
    * as DECIMAL(14,12) (no overflow mode), gradient moments are exact
    * decimal sums, the IRLS weight terms μ(1−μ)xᵢxⱼ round to 12 dp
    * (computed in double from the shared 12-dp μ) before exact sums,
    * β re-rounds to 12 dp; intercept starts at round₁₂(logit ȳ). The
    * trailing no-step pass prices the SE at the converged β. */
  private def binomialCtes(iterations: Int,
      yExpr: String = """max(CASE WHEN event_type = 'purchase'
             AND value > 80 THEN 1 ELSE 0 END)""",
      extraCols: String = ""): String = {
    val base = s"""du AS (SELECT
             $yExpr::BIGINT y,
             CAST((count(*) - 66) / 10.0 AS DECIMAL(8,4)) x0$extraCols
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY user_id),
         nn AS (SELECT count(*)::BIGINT n, CAST(sum(y) AS DOUBLE) sy,
             CAST(sum(CAST(y AS DECIMAL(12,0)) * x0) AS DOUBLE) syx
           FROM du),
         cb0 AS (SELECT round(ln(sy / (n - sy)), 12)::DOUBLE b0,
             0.0::DOUBLE b1 FROM nn)"""
    def w12(tail: String) =
      "CAST(sum(CAST(round(CAST(mu AS DOUBLE) * (1.0 - CAST(mu AS DOUBLE))" +
        s"$tail, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    val iters = (1 to iterations + 1).map { i =>
      val prev = s"cb${i - 1}"
      s"""sc$i AS (SELECT du.*,
             CAST(round(1.0 / (1.0 + exp(-(b0 + CAST(x0 AS DOUBLE) * b1))),
               12) AS DECIMAL(14,12)) mu
           FROM du, $prev),
         gt$i AS (SELECT CAST(sum(mu) AS DOUBLE) g0m,
             CAST(sum(mu * x0) AS DOUBLE) g1m,
             ${w12(" * 1.0 * 1.0")} h00,
             ${w12(" * 1.0 * CAST(x0 AS DOUBLE)")} h01,
             ${w12(" * CAST(x0 AS DOUBLE) * CAST(x0 AS DOUBLE)")} h11
           FROM sc$i)""" +
        (if (i > iterations) "" else s""",
         cb$i AS (SELECT
             round(b0 + (h11 * (sy - g0m) - h01 * (syx - g1m))
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * (syx - g1m) - h01 * (sy - g0m))
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, gt$i, nn)""")
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** q388 oracle: the gamma-GLM Fisher scoring replayed as chained
    * CTEs — the poissonCtes shape with a CONSTANT information (under
    * the log link the Fisher weight is 1, so XᵀX is computed once in
    * `xx` and every iteration only adds a score reduce); per-row score
    * and Pearson terms round to 12 dp before exact decimal sums,
    * β re-rounds to 12 dp, intercept starts at round₁₂(ln ȳ). */
  private def gammaCtes(iterations: Int): String = {
    val spend = """sum(CASE WHEN event_type = 'purchase' AND value > 0
             THEN CAST(round(value, 2) AS DECIMAL(12,2))
             ELSE CAST(0 AS DECIMAL(12,2)) END)"""
    val base = s"""du AS MATERIALIZED (SELECT
             CAST($spend AS DECIMAL(18,6)) y,
             CAST((count(*) - 66) / 10.0 AS DECIMAL(8,4)) x0
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY user_id
           HAVING $spend > 0),
         nn AS (SELECT count(*)::BIGINT n, CAST(sum(y) AS DOUBLE) sy
           FROM du),
         xx AS (SELECT CAST(count(*) AS DOUBLE) s00,
             CAST(sum(x0) AS DOUBLE) s01,
             CAST(sum(x0 * x0) AS DOUBLE) s11 FROM du),
         dt AS (SELECT s00, s01, s11, s00 * s11 - s01 * s01 det FROM xx),
         cb0 AS (SELECT round(ln(sy / n), 12)::DOUBLE b0, 0.0::DOUBLE b1
           FROM nn)"""
    def s12(expr: String) =
      s"CAST(sum(CAST(round($expr, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    val iters = (1 to iterations).map { i =>
      val prev = s"cb${i - 1}"
      s"""sc$i AS (SELECT y, x0,
             CAST(exp(b0 + CAST(x0 AS DOUBLE) * b1) AS DECIMAL(20,12)) mu
           FROM du, $prev),
         gt$i AS (SELECT
             ${s12("CAST(y AS DOUBLE) / CAST(mu AS DOUBLE) - 1.0")} g0,
             ${s12("(CAST(y AS DOUBLE) / CAST(mu AS DOUBLE) - 1.0)" +
               " * CAST(x0 AS DOUBLE)")} g1
           FROM sc$i),
         cb$i AS (SELECT
             round(b0 + (s11 * g0 - s01 * g1) / det, 12) b0,
             round(b1 + (s00 * g1 - s01 * g0) / det, 12) b1
           FROM $prev, gt$i, dt)"""
    }.mkString(",\n         ")
    // the trailing pass: means at the REPORTED β for the Pearson φ̂
    val trail = s"""scf AS (SELECT y, x0,
             CAST(exp(b0 + CAST(x0 AS DOUBLE) * b1) AS DECIMAL(20,12)) mu
           FROM du, cb$iterations)"""
    s"$base,\n         $iters,\n         $trail"
  }

  /** q392 oracle: the censored-exponential (Poisson-with-exposure)
    * Newton replayed as chained CTEs — the poissonCtes shape with
    * w = t·e^η as the per-row weight, each moment term 12-dp-rounded
    * before its exact decimal sum; β starts at the constant-hazard MLE
    * round₁₂(ln(Σd/Σt)); trailing no-step pass prices the SE at the
    * reported β. */
  private def expAftCtes(iterations: Int): String = {
    val base = """pu AS (SELECT user_id,
             min(floor(epoch(ts) / 3600))::BIGINT f,
             max(floor(epoch(ts) / 3600))::BIGINT l,
             CAST((count(*) - 66) / 10.0 AS DECIMAL(8,4)) x0
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY user_id),
         hz AS (SELECT max(l) hmax FROM pu),
         du AS MATERIALIZED (SELECT (l - f)::BIGINT t,
             (CASE WHEN hmax - l < 24 THEN 0 ELSE 1 END)::BIGINT d, x0
           FROM pu, hz),
         nn AS (SELECT count(*)::BIGINT n, sum(d)::BIGINT sd,
             sum(t)::BIGINT st,
             CAST(sum(CAST(d AS DECIMAL(12,0)) * x0) AS DOUBLE) sdx
           FROM du),
         cb0 AS (SELECT round(ln(CAST(sd AS DOUBLE) / st), 12)::DOUBLE b0,
             0.0::DOUBLE b1 FROM nn)"""
    def t12(expr: String) =
      s"CAST(sum(CAST(round($expr, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    val w = "CAST(t AS DOUBLE) * exp(b0 + CAST(x0 AS DOUBLE) * b1)"
    val iters = (1 to iterations + 1).map { i =>
      val prev = s"cb${i - 1}"
      s"""gt$i AS (SELECT
             ${t12(s"$w * 1.0 * 1.0")} h00,
             ${t12(s"$w * 1.0 * CAST(x0 AS DOUBLE)")} h01,
             ${t12(s"$w * CAST(x0 AS DOUBLE) * CAST(x0 AS DOUBLE)")} h11
           FROM du, $prev)""" +
        (if (i > iterations) "" else s""",
         cb$i AS (SELECT
             round(b0 + (h11 * (sd - h00) - h01 * (sdx - h01))
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * (sdx - h01) - h01 * (sd - h00))
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, gt$i, nn)""")
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** q375 oracle: poissonCtes warm-up (sc5 = means at the converged
    * Poisson cb4), moment α̂ from 12-dp-rounded residual terms, then
    * unrolled NB2 Fisher iterations at fixed α̂ from the Poisson β —
    * every expression mirrors
    * [[graft.operators.LinearModel.negativeBinomialGlm]] verbatim. */
  private def nbCtes(nbIterations: Int): String = {
    // MATERIALIZED cuts the NB subtree off from re-inlining the whole
    // Poisson warm-up chain per reference (DuckDB 1.0 inlines CTEs, so
    // ten chained iterations would otherwise re-evaluate exponentially)
    val alpha = """al AS MATERIALIZED (SELECT round(greatest(0.0,
             CAST(sum(CAST(round((y - CAST(mu AS DOUBLE))
                 * (y - CAST(mu AS DOUBLE)) - CAST(mu AS DOUBLE), 12)
               AS DECIMAL(28,12))) AS DOUBLE)
             / CAST(sum(CAST(round(CAST(mu AS DOUBLE)
                 * CAST(mu AS DOUBLE), 12)
               AS DECIMAL(28,12))) AS DOUBLE)), 12) a
           FROM sc5),
         ncb0 AS MATERIALIZED (SELECT b0, b1 FROM cb4)"""
    def t12(expr: String) =
      s"CAST(sum(CAST(round($expr, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    val iters = (1 to nbIterations + 1).map { i =>
      val prev = s"ncb${i - 1}"
      val res = "(y - CAST(mu AS DOUBLE)) / (1.0 + a * CAST(mu AS DOUBLE))"
      val wt = "CAST(mu AS DOUBLE) / (1.0 + a * CAST(mu AS DOUBLE))"
      s"""ns$i AS (SELECT y, x0,
             CAST(exp(b0 + CAST(x0 AS DOUBLE) * b1) AS DECIMAL(20,12)) mu
           FROM du, $prev),
         ng$i AS (SELECT
             ${t12(s"$res * 1.0")} g0,
             ${t12(s"$res * CAST(x0 AS DOUBLE)")} g1,
             ${t12(s"$wt * 1.0 * 1.0")} h00,
             ${t12(s"$wt * 1.0 * CAST(x0 AS DOUBLE)")} h01,
             ${t12(s"$wt * CAST(x0 AS DOUBLE) * CAST(x0 AS DOUBLE)")} h11
           FROM ns$i, al)""" +
        (if (i > nbIterations) "" else s""",
         ncb$i AS (SELECT
             round(b0 + (h11 * g0 - h01 * g1)
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * g1 - h01 * g0)
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, ng$i)""")
    }.mkString(",\n         ")
    s"${poissonCtes(iterations = 4)},\n         $alpha,\n         $iters"
  }

  /** q352 oracle: the Cox Breslow-Newton loop replayed as chained CTEs —
    * the [[logregCtes]] deterministic-decimal recipe on survival data.
    * Per iteration: DECIMAL(20,12) scores at the previous 12-dp β, exact
    * per-duration decimal sums, suffix (risk-set) sums via a bounded
    * duration-DESC window, gradient/information from 12-dp-rounded
    * per-event-time terms summed exactly, closed-form 2×2 Newton step,
    * round-12 β — every expression mirrors
    * [[graft.operators.Behavior.coxPH]] verbatim. */
  private def coxCtes(iterations: Int): String = {
    val base = """pu AS (SELECT user_id,
             min(floor(epoch(ts) / 3600))::BIGINT f,
             max(floor(epoch(ts) / 3600))::BIGINT l,
             (count(*) - 66) / 10.0 xe,
             (sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) - 24) / 10.0 xt
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1),
         hz AS (SELECT max(l) hm FROM pu),
         du AS (SELECT (l - f)::BIGINT life,
             CASE WHEN (hm - l) < 24 THEN 0 ELSE 1 END ev,
             CAST(xe AS DECIMAL(8,4)) x0, CAST(xt AS DECIMAL(8,4)) x1
           FROM pu, hz),
         nn AS (SELECT count(*)::BIGINT n, sum(ev)::BIGINT ne FROM du),
         cb0 AS (SELECT 0.0::DOUBLE b0, 0.0::DOUBLE b1)"""
    def ratio(c: String) = s"CAST($c AS DOUBLE) / CAST(cS0 AS DOUBLE)"
    def term12(expr: String) =
      s"CAST(sum(CAST(round($expr, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    // iterations stepping passes (sc/pl/sf/gt/cb) + ONE trailing no-step
    // pass (sc/pl/sf/gt only) that re-evaluates the information at the
    // converged β — mirroring coxPH's SE-at-reported-β convention, so
    // the SE CTE reads gt{iterations+1} beside cb{iterations}
    val iters = (1 to iterations + 1).map { i =>
      val prev = s"cb${i - 1}"
      s"""sc$i AS (SELECT life, ev, x0, x1,
             CAST(exp(CAST(x0 AS DOUBLE) * b0 + CAST(x1 AS DOUBLE) * b1)
               AS DECIMAL(20,12)) s
           FROM du, $prev),
         pl$i AS (SELECT life, sum(ev)::BIGINT d,
             sum(CAST(ev AS DECIMAL(8,0)) * x0) sx0,
             sum(CAST(ev AS DECIMAL(8,0)) * x1) sx1,
             sum(s) s0, sum(s * x0) s10, sum(s * x1) s11,
             sum(s * x0 * x0) s200, sum(s * x0 * x1) s201,
             sum(s * x1 * x1) s211
           FROM sc$i GROUP BY 1),
         sf$i AS (SELECT *, sum(s0) OVER w cS0, sum(s10) OVER w cS10,
             sum(s11) OVER w cS11, sum(s200) OVER w cS200,
             sum(s201) OVER w cS201, sum(s211) OVER w cS211
           FROM pl$i
           WINDOW w AS (ORDER BY life DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         gt$i AS (SELECT
             CAST(sum(sx0) AS DOUBLE)
               - ${term12(s"d * (${ratio("cS10")})")} g0,
             CAST(sum(sx1) AS DOUBLE)
               - ${term12(s"d * (${ratio("cS11")})")} g1,
             ${term12(s"d * (${ratio("cS200")} - ${ratio("cS10")} * (${ratio("cS10")}))")} h00,
             ${term12(s"d * (${ratio("cS201")} - ${ratio("cS10")} * (${ratio("cS11")}))")} h01,
             ${term12(s"d * (${ratio("cS211")} - ${ratio("cS11")} * (${ratio("cS11")}))")} h11
           FROM sf$i WHERE d > 0)""" +
        (if (i > iterations) "" else s""",
         cb$i AS (SELECT
             round(b0 + (h11 * g0 - h01 * g1)
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * g1 - h01 * g0)
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, gt$i)""")
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  val cases: Seq[Case] = Seq(
    // ---- Kaplan-Meier time-to-first-purchase survival (Behavior) ---------
    // right-censored: a user with no purchase by corpus end contributes a
    // lower-bound duration (first event -> horizon). Hour granularity; the
    // survival product is exp of a fixed-point prefix sum, identical on
    // both engines (no float product-order ambiguity)
    Case("q235_km_survival", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
      val horizon = ev.agg(max(col("ts")).as("h_ts"))
      val durations = perUser.crossJoin(broadcast(horizon)).select(
        floor((unix_timestamp(coalesce(col("p_ts"), col("h_ts"))) -
          unix_timestamp(col("first_ts"))) / 3600).cast("long").as("dur_h"),
        col("p_ts").isNull.as("cens"))
      Behavior.kmCurve(durations, "dur_h", "cens")
        .select(col("duration").as("hours"), col("n_risk"), col("n_churned")
            .as("n_events"), col("n_censored"),
          (round(col("survival"), 6) + lit(0.0)).as("survival"))
        .gateOrdered(col("hours"))
    },
      // Kaplan-Meier via two chained prefix sums; the survival product is
      // exp of a 1e-12 fixed-point running sum on BOTH engines, so float
      // product-order can never diverge
      """WITH pu AS (SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
                FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS hm FROM events),
         bl AS (SELECT floor((floor(epoch(coalesce(p, hm))) -
                  floor(epoch(f))) / 3600)::BIGINT AS life,
                  (p IS NULL) AS cens
                FROM pu, h),
         g AS (SELECT life,
                 sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
                 sum(CASE WHEN cens THEN 1 ELSE 0 END)::BIGINT AS cns,
                 count(*)::BIGINT AS al
               FROM bl GROUP BY 1),
         w AS (SELECT *, coalesce(sum(al) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
                 (SELECT sum(al) FROM g) AS n
               FROM g),
         x AS (SELECT life, d, cns, (n - bef)::BIGINT AS nr,
                 CASE WHEN d > 0 AND d < (n - bef)
                      THEN round(ln(1 - d / (n - bef)::DOUBLE) * 1e12)::BIGINT
                      ELSE 0 END AS lnq,
                 (d = (n - bef)) AS dead
               FROM w),
         y AS (SELECT *, sum(lnq) OVER (ORDER BY life
                 ROWS UNBOUNDED PRECEDING) AS lncum FROM x)
         SELECT life AS hours, nr AS n_risk, d AS n_events,
           cns AS n_censored,
           (CASE WHEN dead THEN 0.0 ELSE round(exp(lncum / 1e12), 6) END)
             + 0.0 AS survival
         FROM y WHERE d > 0 ORDER BY 1"""),

    // ---- KM curve with Greenwood log(-log) confidence bands ---------------
    // the q235 curve nobody should ship bare: the Greenwood term rides
    // the SAME fixed-point cumsum pass as the ln-survival prefix; the
    // exponential-Greenwood band stays inside [0,1]
    Case("q366_km_ci", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
      val horizon = ev.agg(max(col("ts")).as("h_ts"))
      val durations = perUser.crossJoin(broadcast(horizon)).select(
        floor((unix_timestamp(coalesce(col("p_ts"), col("h_ts"))) -
          unix_timestamp(col("first_ts"))) / 3600).cast("long").as("dur_h"),
        col("p_ts").isNull.as("cens"))
      Behavior.kmCurveCI(durations, "dur_h", "cens")
        .select(col("duration").as("hours"), col("n_risk"), col("n_events"),
          (round(col("survival"), 6) + lit(0.0)).as("survival"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
        .gateOrdered(col("hours"))
    },
      // the q235 fixed-point chain with the Greenwood increment as a second
      // quantized cumsum column; exponential-Greenwood band mirrored
      """WITH pu AS (SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
                FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS hm FROM events),
         bl AS (SELECT floor((floor(epoch(coalesce(p, hm))) -
                  floor(epoch(f))) / 3600)::BIGINT AS life,
                  (p IS NULL) AS cens
                FROM pu, h),
         g AS (SELECT life,
                 sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
                 count(*)::BIGINT AS al
               FROM bl GROUP BY 1),
         w AS (SELECT *, coalesce(sum(al) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
                 (SELECT sum(al) FROM g) AS n
               FROM g),
         x AS (SELECT life, d, (n - bef)::BIGINT AS nr,
                 (d = (n - bef)) AS dead,
                 CASE WHEN d > 0 AND d < (n - bef)
                      THEN round(ln(1 - d / (n - bef)::DOUBLE)
                        * 1e12)::BIGINT ELSE 0 END AS lnq,
                 CASE WHEN d > 0 AND d < (n - bef)
                      THEN round(d / ((n - bef)::DOUBLE * ((n - bef) - d))
                        * 1e12)::BIGINT ELSE 0 END AS gq
               FROM w),
         y AS (SELECT *,
                 coalesce(sum(lnq) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS lnbef,
                 coalesce(sum(gq) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS gbef
               FROM x),
         z AS (SELECT life, d, nr, dead,
                 CASE WHEN dead THEN 0.0
                      ELSE exp((lnbef + lnq) / 1e12) END AS s,
                 (gbef + gq) / 1e12 AS gg
               FROM y),
         f AS (SELECT *, CASE WHEN dead THEN 0.0
                 ELSE 1.959964::DOUBLE * sqrt(gg) / ln(s) END AS theta
               FROM z WHERE d > 0)
         SELECT life AS hours, nr AS n_risk, d AS n_events,
           round(s, 6) + 0.0 AS survival,
           (CASE WHEN dead THEN 0.0 ELSE round(s * sqrt(gg), 6) END)
             + 0.0 AS se,
           (CASE WHEN dead THEN 0.0
                 ELSE round(pow(s, exp(-theta)), 6) END) + 0.0 AS ci_lo,
           (CASE WHEN dead THEN 0.0
                 ELSE round(pow(s, exp(theta)), 6) END) + 0.0 AS ci_hi
         FROM f ORDER BY hours"""),

    // ---- Nelson-Aalen cumulative hazard (Behavior) -------------------------
    // q235's additive companion on the same censored durations; hazard and
    // variance ride one two-column fixed-point cumsum
    Case("q290_nelson_aalen", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
      val horizon = ev.agg(max(col("ts")).as("h_ts"))
      val durations = perUser.crossJoin(broadcast(horizon)).select(
        floor((unix_timestamp(coalesce(col("p_ts"), col("h_ts"))) -
          unix_timestamp(col("first_ts"))) / 3600).cast("long").as("dur_h"),
        col("p_ts").isNull.as("cens"))
      Behavior.naCurve(durations, "dur_h", "cens")
        .select(col("duration").as("hours"), col("n_risk"),
          col("n_churned").as("n_events"), col("n_censored"),
          (round(col("cum_hazard"), 6) + lit(0.0)).as("cum_hazard"),
          (round(col("var_hazard"), 8) + lit(0.0)).as("var_hazard"),
          (round(col("survival_na"), 6) + lit(0.0)).as("survival_na"))
        .gateOrdered(col("hours"))
    },
      // q235's duration construction; hazard + variance through the same
      // 1e12 fixed-point prefix sums
      """WITH pu AS (SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
                FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS hm FROM events),
         bl AS (SELECT floor((floor(epoch(coalesce(p, hm))) -
                  floor(epoch(f))) / 3600)::BIGINT AS life,
                  (p IS NULL) AS cens
                FROM pu, h),
         g AS (SELECT life,
                 sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
                 sum(CASE WHEN cens THEN 1 ELSE 0 END)::BIGINT AS cns,
                 count(*)::BIGINT AS al
               FROM bl GROUP BY 1),
         w AS (SELECT *, coalesce(sum(al) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
                 (SELECT sum(al) FROM g) AS n
               FROM g),
         x AS (SELECT life, d, cns, (n - bef)::BIGINT AS nr,
                 round(d / (n - bef)::DOUBLE * 1e12)::BIGINT AS hq,
                 round(d / ((n - bef)::DOUBLE * (n - bef)) * 1e12)::BIGINT
                   AS vq
               FROM w),
         y AS (SELECT *, sum(hq) OVER (ORDER BY life
                 ROWS UNBOUNDED PRECEDING) AS hc,
                 sum(vq) OVER (ORDER BY life
                 ROWS UNBOUNDED PRECEDING) AS vc
               FROM x)
         SELECT life AS hours, nr AS n_risk, d AS n_events, cns AS n_censored,
           round(hc / 1e12, 6) + 0.0 AS cum_hazard,
           round(vc / 1e12, 8) + 0.0 AS var_hazard,
           round(exp(-hc / 1e12), 6) + 0.0 AS survival_na
         FROM y WHERE d > 0 ORDER BY 1"""),

    // ---- Restricted mean survival time: churn-free hours within 700 -------
    // the model-free companion of q352's Cox fit (no proportional-hazards
    // assumption): expected active hours within the first 700, per user-id
    // parity cohort, with the Klein variance; same churn-span durations
    Case("q353_rmst", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          when(col("user_id") % 2 === 0, "even").otherwise("odd").as("grp"))
      Behavior.rmst(durations, "duration", "censored", "grp", tau = 700L)
        .select(col("grp"), col("tau"), col("n"), col("events"),
          (round(col("rmst"), 6) + lit(0.0)).as("rmst"),
          (round(col("rmst_se"), 6) + lit(0.0)).as("rmst_se"))
        .gateOrdered(col("grp"))
    },
      // the KM fixed-point ln cumsum (q235's 1e12 trick) per parity group,
      // then RMST by parts: τ·S(τ) + Σ tᵢ·ΔSᵢ with every τ-window sum
      // quantized to BIGINT before summing (order-independent on both
      // engines); Klein variance via the expanded Σw·A² identity
      """WITH pu AS (SELECT user_id, min(floor(epoch(ts)/3600)) AS f,
                  max(floor(epoch(ts)/3600)) AS l
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY 1),
         h AS (SELECT max(l) AS hm FROM pu),
         bl AS (SELECT (CASE WHEN user_id % 2 = 0 THEN 'even'
                        ELSE 'odd' END) AS g,
                  (l - f)::BIGINT AS life, (hm - l < 24) AS cens
                FROM pu, h),
         g1 AS (SELECT g, life,
                  sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
                  count(*)::BIGINT AS al
                FROM bl GROUP BY 1, 2),
         t AS (SELECT *, coalesce(sum(al) OVER (PARTITION BY g ORDER BY life
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS bef,
                 sum(al) OVER (PARTITION BY g) AS n
               FROM g1),
         x AS (SELECT *, (n - bef)::BIGINT AS nr,
                 (d > 0 AND d = n - bef) AS dead,
                 CASE WHEN d > 0 AND d < n - bef
                      THEN round(ln(1 - d / (n - bef)::DOUBLE)
                        * 1e12)::BIGINT
                      ELSE 0 END AS lnq
               FROM t),
         y AS (SELECT *, coalesce(sum(lnq) OVER (PARTITION BY g
                  ORDER BY life
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS lb
               FROM x),
         z AS (SELECT *, exp(lb / 1e12) AS sbef,
                 CASE WHEN dead THEN 0.0
                      ELSE exp((lb + lnq) / 1e12) END AS s
               FROM y),
         a1 AS (SELECT *, CASE WHEN d > 0
                  THEN round(life * (sbef - s) * 1e12)::BIGINT
                  ELSE 0 END AS aq
                FROM z),
         a2 AS (SELECT *, coalesce(sum(aq) OVER (PARTITION BY g
                  ORDER BY life
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS ab
                FROM a1),
         a3 AS (SELECT *, life * s + (ab + aq) / 1e12 AS area,
                 CASE WHEN d > 0 AND NOT dead
                      THEN d / (nr::DOUBLE * (nr - d))
                      ELSE 0.0 END AS w
                FROM a2),
         gr AS (SELECT g, max(n)::BIGINT AS n FROM t GROUP BY 1),
         f AS (SELECT g, sum(aq)::BIGINT AS saq,
                 sum(round(w * 1e12)::BIGINT)::BIGINT AS sw,
                 sum(round(area * w * 1e12)::BIGINT)::BIGINT AS saw,
                 sum(round(area * area * w * 1e9)::BIGINT)::BIGINT AS sa2w,
                 min(CASE WHEN d > 0 THEN s END) AS stau,
                 sum(d)::BIGINT AS ev
               FROM a3 WHERE life <= 700 GROUP BY 1),
         r AS (SELECT gr.g, 700::BIGINT AS tau, gr.n,
                 coalesce(ev, 0)::BIGINT AS events,
                 700.0 * coalesce(stau, 1.0) + coalesce(saq, 0) / 1e12
                   AS rm,
                 coalesce(sw, 0) / 1e12 AS swd,
                 coalesce(saw, 0) / 1e12 AS sawd,
                 coalesce(sa2w, 0) / 1e9 AS sa2wd
               FROM gr LEFT JOIN f ON gr.g = f.g)
         SELECT g AS grp, tau, n, events,
           round(rm, 6) + 0.0 AS rmst,
           round(sqrt(greatest(rm * rm * swd - 2.0 * rm * sawd + sa2wd,
             0.0)), 6) + 0.0 AS rmst_se
         FROM r ORDER BY grp"""),

    // ---- Poisson GLM: purchases-per-user rate model (LinearModel) ---------
    // count regression with a log link: purchase volume vs feature-scaled
    // activity; 4 Newton steps on exact decimal moment sums (the q352
    // recipe without risk sets), closed-form 2x2 step replayed verbatim
    Case("q356_poisson_glm", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      LinearModel.poissonGlm(perUser, "y", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    },
      // the Poisson-Newton replay (poissonCtes): 4 unrolled iterations on
      // exact decimal moment sums, closed-form 2x2 step, SE from the
      // Fisher information re-evaluated at the converged cb4 (gt5 — the
      // trailing no-step pass), shared A&S two-sided p
      s"""WITH ${poissonCtes(iterations = 4)},
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(b1, 6) + 0.0,
             round(se1, 6) + 0.0, round(z1, 6) + 0.0, round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term"""),

    // ---- quasi-Poisson: the q356 fit with overdispersion-honest SEs -------
    // identical betas, standard errors scaled by sqrt(Pearson X^2/(n-p));
    // the correction q302's diagnostic calls for
    Case("q367_quasi_poisson", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      LinearModel.quasiPoissonGlm(perUser, "y", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("phi"), 6) + lit(0.0)).as("phi"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    },
      // poissonCtes (whose trailing no-step pass sc5/gt5 prices the SE at
      // the converged cb4): Pearson X^2 terms from the same sc5 means,
      // rounded to 12dp before the exact decimal sum, SEs scaled by sqrt(phi)
      s"""WITH ${poissonCtes(iterations = 4)},
         ph0 AS (SELECT CAST(sum(CAST(round((y - CAST(mu AS DOUBLE))
                   * (y - CAST(mu AS DOUBLE)) / CAST(mu AS DOUBLE), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) x2
               FROM sc5),
         ph AS (SELECT x2 / (n - 2) phi FROM ph0, nn),
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, b0, b1, phi,
                 sqrt(h11 / det) * sqrt(phi) se0,
                 sqrt(h00 / det) * sqrt(phi) se1 FROM fin, nn, ph),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n, round(phi, 6) + 0.0 AS phi,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(phi, 6) + 0.0,
             round(b1, 6) + 0.0, round(se1, 6) + 0.0, round(z1, 6) + 0.0,
             round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term"""),

    // ---- Cox proportional hazards: covariate-adjusted time-to-churn -------
    // per-user active-span durations (hour-index granularity), censored
    // when still active within 24 hours of the horizon; two feature-scaled
    // integer covariates. Breslow ties, 4 Newton steps, the logreg
    // deterministic-decimal recipe — the oracle replays every iteration
    Case("q352_cox_ph", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"),
          ((sum(when(col("value") > 50, 1L).otherwise(0L)) - 24) / 10.0)
            .as("x_highval"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          col("x_events"), col("x_highval"))
      Behavior.coxPH(durations, "duration", "censored",
          Seq("x_events", "x_highval"))
        .select(col("covariate"), col("n"), col("n_events"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("covariate"))
    },
      s"""WITH ${coxCtes(iterations = 4)},
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, ne, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'x_events' AS covariate, n, ne AS n_events,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_highval', n, ne, round(b1, 6) + 0.0,
             round(se1, 6) + 0.0, round(z1, 6) + 0.0, round(p1, 6) + 0.0
           FROM pp)
         ORDER BY covariate"""),

    // ---- Logistic GLM: P(user ever buys high-value) ~ activity ------------
    // the plain inferential logistic fit (Wald SEs) the propensity/
    // calibration recipes start from; 4 Newton steps on exact decimal
    // moments with 12-dp means — the oracle replays every iteration
    Case("q370_logistic_glm", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      LinearModel.binomialGlm(perUser, "y", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    },
      // the logistic-Newton replay (binomialCtes): 4 unrolled iterations on
      // exact decimal moments with 12-dp bounded means, closed-form 2x2
      // step, SE from the trailing no-step information at the converged
      // cb4, shared A&S two-sided p
      s"""WITH ${binomialCtes(iterations = 4)},
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(b1, 6) + 0.0,
             round(se1, 6) + 0.0, round(z1, 6) + 0.0, round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term"""),

    // ---- IPW ATE: parity-cohort effect on high-value purchase -------------
    // Hajek inverse-propensity estimate with the q370 logistic propensity
    // (T = even user ~ activity), influence-function SE; every weighted
    // sum decimal-exact, arm means re-rounded at 12 dp — full replay
    Case("q371_ipw_ate", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      LinearModel.ipwAte(perUser, "t", "y", Seq("x_events"))
        .select(col("n"), col("n_treated"),
          (round(col("mu_treated"), 6) + lit(0.0)).as("mu_treated"),
          (round(col("mu_control"), 6) + lit(0.0)).as("mu_control"),
          (round(col("ate"), 6) + lit(0.0)).as("ate"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // the q370 logistic Newton refit with T = parity as the response
      // (binomialCtes yExpr), propensity = sc5's converged 12-dp mean,
      // exact clip, decimal-exact Hajek sums, re-rounded arm means, one
      // phi-squared reduce — the full IPW replay
      s"""WITH ${binomialCtes(iterations = 4,
          yExpr = "max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)",
          extraCols = """,
             max(CASE WHEN event_type = 'purchase' AND value > 80
               THEN 1 ELSE 0 END)::DOUBLE yo""")},
         ec AS (SELECT y, yo,
                 greatest(0.01, least(0.99, CAST(mu AS DOUBLE))) e
               FROM sc5),
         s1 AS (SELECT count(*)::BIGINT n, sum(y)::BIGINT nt,
             CAST(sum(CAST(round(CAST(y AS DOUBLE) / e, 12)
               AS DECIMAL(28,12))) AS DOUBLE) sw1,
             CAST(sum(CAST(round(CAST(y AS DOUBLE) * yo / e, 12)
               AS DECIMAL(28,12))) AS DOUBLE) swy1,
             CAST(sum(CAST(round((1.0 - CAST(y AS DOUBLE)) / (1.0 - e), 12)
               AS DECIMAL(28,12))) AS DOUBLE) sw0,
             CAST(sum(CAST(round((1.0 - CAST(y AS DOUBLE)) * yo
               / (1.0 - e), 12) AS DECIMAL(28,12))) AS DOUBLE) swy0
           FROM ec),
         m AS (SELECT n, nt, round(swy1 / sw1, 12) mu1,
                 round(swy0 / sw0, 12) mu0,
                 round(round(swy1 / sw1, 12) - round(swy0 / sw0, 12), 12)
                   ate
               FROM s1),
         v AS (SELECT CAST(sum(CAST(round(
                 (CAST(y AS DOUBLE) * (yo - mu1) / e
                   - (1.0 - CAST(y AS DOUBLE)) * (yo - mu0) / (1.0 - e))
                 * (CAST(y AS DOUBLE) * (yo - mu1) / e
                   - (1.0 - CAST(y AS DOUBLE)) * (yo - mu0) / (1.0 - e)),
                 9) AS DECIMAL(28,9))) AS DOUBLE) sphi
               FROM ec, m),
         f AS (SELECT n, nt, mu1, mu0, ate, sqrt(sphi) / n se FROM m, v),
         zz AS (SELECT *, ate / se z, abs(ate / se) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(ate / se) / sqrt(2.0)) t
               FROM f)
         SELECT n, nt AS n_treated, round(mu1, 6) + 0.0 AS mu_treated,
           round(mu0, 6) + 0.0 AS mu_control, round(ate, 6) + 0.0 AS ate,
           round(se, 6) + 0.0 AS se, round(z, 6) + 0.0 AS z,
           round(least(1.0, t * (0.254829592 + t * (-0.284496736
             + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
             * exp(-az * az)), 6) + 0.0 AS p_value
         FROM zz"""),

    // ---- Aalen-Johansen cumulative incidence: purchase vs error -----------
    // competing first events per user (earlier of first-purchase /
    // first-error, ties to purchase; neither = censored at the horizon):
    // what fraction converts vs breaks within 700 hours, honestly — the
    // 1-KM-per-type overstatement this estimator exists to avoid
    Case("q372_cumulative_incidence", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val hr = floor(unix_timestamp(col("ts")) / 3600)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(hr).as("__f"), max(hr).as("__l"),
          min(when(col("event_type") === "purchase", hr)).as("__p"),
          min(when(col("event_type") === "error", hr)).as("__e"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val etype = when(col("__p").isNotNull &&
          (col("__e").isNull || col("__p") <= col("__e")), "purchase")
        .when(col("__e").isNotNull, "error")
      val durations = perUser.crossJoin(broadcast(horizon))
        .select(
          when(etype === "purchase", col("__p") - col("__f"))
            .when(etype === "error", col("__e") - col("__f"))
            .otherwise(col("__hmax") - col("__f")).as("duration"),
          etype.as("first_event"))
      Behavior.cumulativeIncidence(durations, "duration", "first_event",
          tau = 700L)
        .select(col("event_type"), col("tau"), col("n"), col("events"),
          (round(col("cif"), 6) + lit(0.0)).as("cif"))
        .gateOrdered(col("event_type"))
    },
      // the rmst cumsum recipe with competing first events: all-cause KM
      // via the 1e12-quantized exclusive ln cumsum, per-type increments
      // S(t-)*d_k/n quantized to 1e12 longs before the tau-filtered sum
      """WITH pu AS (SELECT user_id,
                  min(floor(epoch(ts) / 3600))::BIGINT f,
                  max(floor(epoch(ts) / 3600))::BIGINT l,
                  min(CASE WHEN event_type = 'purchase'
                    THEN floor(epoch(ts) / 3600) END)::BIGINT p,
                  min(CASE WHEN event_type = 'error'
                    THEN floor(epoch(ts) / 3600) END)::BIGINT e
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY 1),
         hz AS (SELECT max(l) hm FROM pu),
         du AS (SELECT
                 CASE WHEN p IS NOT NULL AND (e IS NULL OR p <= e)
                        THEN 'purchase'
                      WHEN e IS NOT NULL THEN 'error' END k,
                 (CASE WHEN p IS NOT NULL AND (e IS NULL OR p <= e)
                         THEN p - f
                       WHEN e IS NOT NULL THEN e - f
                       ELSE hm - f END)::BIGINT life
               FROM pu, hz),
         gl AS (SELECT life, count(*)::BIGINT alln,
                 sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT dall,
                 sum(CASE WHEN k = 'error' THEN 1 ELSE 0 END)::BIGINT d0,
                 sum(CASE WHEN k = 'purchase' THEN 1 ELSE 0 END)::BIGINT d1
               FROM du GROUP BY 1),
         nn AS (SELECT sum(alln)::BIGINT n FROM gl),
         w AS (SELECT gl.*, nn.n,
                 coalesce(sum(alln) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) b
               FROM gl, nn),
         l1 AS (SELECT *, (n - b)::BIGINT nr,
                 CASE WHEN dall > 0 AND dall < (n - b)
                   THEN round(ln(1.0 - dall::DOUBLE / (n - b))
                     * 1e12)::BIGINT ELSE 0 END lnq
               FROM w),
         l2 AS (SELECT *, coalesce(sum(lnq) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) lb
               FROM l1),
         inc AS (SELECT life, d0, d1,
                 CASE WHEN nr > 0 AND d0 > 0 THEN
                   round(exp(lb / 1e12) * d0 / nr * 1e12)::BIGINT
                   ELSE 0 END i0,
                 CASE WHEN nr > 0 AND d1 > 0 THEN
                   round(exp(lb / 1e12) * d1 / nr * 1e12)::BIGINT
                   ELSE 0 END i1
               FROM l2),
         f AS (SELECT sum(i0)::BIGINT c0, sum(i1)::BIGINT c1,
                 sum(d0)::BIGINT e0, sum(d1)::BIGINT e1
               FROM inc WHERE life <= 700)
         SELECT * FROM (
           SELECT 'error' AS event_type, 700::BIGINT AS tau, n,
             e0 AS events, round(c0 / 1e12, 6) + 0.0 AS cif FROM f, nn
           UNION ALL SELECT 'purchase', 700, n, e1,
             round(c1 / 1e12, 6) + 0.0 FROM f, nn)
         ORDER BY event_type"""),

    // ---- Negative-binomial GLM: purchases with an honest variance law ----
    // quasi-Poisson (q367) patches the SEs; NB2 changes the MODEL
    // (Var = mu + alpha*mu^2): moment alpha from the q356 Poisson fit,
    // then Fisher scoring at fixed alpha from the Poisson beta
    Case("q375_negative_binomial", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      LinearModel.negativeBinomialGlm(perUser, "y", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("alpha"), 6) + lit(0.0)).as("alpha"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    },
      // poissonCtes warm-up -> moment alpha -> 4 unrolled NB2 Fisher
      // iterations (nbCtes); SE from the trailing ng5 at the converged ncb4
      s"""WITH ${nbCtes(nbIterations = 4)},
         fin AS (SELECT a, b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM ncb4, ng5, al),
         st AS (SELECT n, a, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n, round(a, 6) + 0.0 AS alpha,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(a, 6) + 0.0,
             round(b1, 6) + 0.0, round(se1, 6) + 0.0, round(z1, 6) + 0.0,
             round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term"""),

    // ---- Cox PH at d = 3: the Newton fixed point as a CONTRACT ------------
    // the Gaussian-elimination path (d > 2) cannot be replayed as closed
    // 2x2 CTEs, but its fixed point CAN be verified (the q316 eigen
    // pattern): the partial-likelihood score at the reported beta-hat —
    // computed from the SAME per-duration decimal sums by the trailing
    // no-step pass — must vanish, and the information inverse must yield
    // positive SEs. The oracle recomputes the anchors (n, n_events) from
    // the parquet and pins the booleans
    Case("q369_cox_d3_contract", (s, dir) => {
      import s.implicits._
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"),
          ((sum(when(col("value") > 50, 1L).otherwise(0L)) - 24) / 10.0)
            .as("x_highval"),
          ((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            - 13) / 5.0).as("x_purch"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          col("x_events"), col("x_highval"), col("x_purch"))
      val rows = Behavior.coxPHWithGradient(durations, "duration",
        "censored", Seq("x_events", "x_highval", "x_purch"),
        iterations = 6).collect()
      rows.map { r =>
        val nEv = r.getLong(2)
        val converged = !r.isNullAt(r.fieldIndex("grad")) && nEv > 0 &&
          math.abs(r.getAs[Double]("grad")) / nEv < 1e-6
        val sePos = !r.isNullAt(r.fieldIndex("se")) &&
          r.getAs[Double]("se") > 0
        val betaFin = !r.isNullAt(r.fieldIndex("beta")) &&
          java.lang.Double.isFinite(r.getAs[Double]("beta"))
        (r.getString(0), r.getLong(1), nEv, converged, sePos, betaFin)
      }.toSeq
        .toDF("covariate", "n", "n_events", "converged", "se_positive",
          "beta_finite")
        .gateOrdered(col("covariate"))
    },
      // fixed-point contract for the d=3 Gaussian-elimination path: the
      // anchors (n, n_events) recompute from the parquet with the same
      // duration construction; the convergence/SE/finiteness booleans pin
      // to true (the score at beta-hat is computed by the operator itself
      // from the per-duration decimal sums — the q316 residual pattern)
      """WITH pu AS (SELECT user_id,
                  min(floor(epoch(ts) / 3600))::BIGINT f,
                  max(floor(epoch(ts) / 3600))::BIGINT l
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY 1),
         hz AS (SELECT max(l) hm FROM pu),
         du AS (SELECT CASE WHEN (hm - l) < 24 THEN 0 ELSE 1 END ev
               FROM pu, hz),
         nn AS (SELECT count(*)::BIGINT n, sum(ev)::BIGINT ne FROM du)
         SELECT c AS covariate, n, ne AS n_events, true AS converged,
           true AS se_positive, true AS beta_finite
         FROM nn, (VALUES ('x_events'), ('x_highval'), ('x_purch')) t(c)
         ORDER BY covariate"""),

    // ---- gamma GLM: per-user spend with the constant-CV variance law ------
    // spend is positive and right-skewed with sd ~ mean — Gamma's home
    // turf; log link, Fisher scoring with the constant XtX information,
    // Pearson dispersion at the reported beta
    Case("q388_gamma_glm", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase" && col("value") > 0,
            round(col("value"), 2).cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)"))).as("spend"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
        .filter(col("spend") > 0)
      LinearModel.gammaGlm(perUser, "spend", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("phi"), 6) + lit(0.0)).as("phi"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    },
      // gammaCtes: constant-XtX Fisher scoring, 4 unrolled score reduces,
      // Pearson dispersion at the converged beta (scf), closed-form 2x2 SE
      s"""WITH ${gammaCtes(iterations = 4)},
         ph0 AS (SELECT CAST(sum(CAST(round((CAST(y AS DOUBLE)
                   - CAST(mu AS DOUBLE)) * (CAST(y AS DOUBLE)
                   - CAST(mu AS DOUBLE)) / (CAST(mu AS DOUBLE)
                   * CAST(mu AS DOUBLE)), 12) AS DECIMAL(28,12)))
                   AS DOUBLE) x2
               FROM scf),
         ph AS (SELECT x2 / (n - 2) phi FROM ph0, nn),
         st AS (SELECT n, b0, b1, phi,
                 sqrt(phi * s11 / det) se0,
                 sqrt(phi * s00 / det) se1 FROM cb4, dt, nn, ph),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n, round(phi, 6) + 0.0 AS phi,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(phi, 6) + 0.0,
             round(b1, 6) + 0.0, round(se1, 6) + 0.0, round(z1, 6) + 0.0,
             round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term"""),

    // ---- AIPW doubly-robust ATE: the efficient influence function --------
    // q371's IPW leans on the propensity alone; AIPW adds per-arm
    // outcome regressions and reweights only their residuals — right
    // if EITHER model is right
    Case("q389_aipw_ate", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      LinearModel.aipwAte(perUser, "t", "y", "x_events")
        .select(col("n"), col("n_treated"),
          (round(col("ate"), 6) + lit(0.0)).as("ate"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // the q371 propensity replay (binomialCtes with the parity response)
      // + per-arm closed-form OLS outcome models from exact moments + one
      // 12-dp psi reduce — consistent if EITHER model is right
      s"""WITH ${binomialCtes(iterations = 4,
          yExpr = "max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)",
          extraCols = """,
             max(CASE WHEN event_type = 'purchase' AND value > 80
               THEN 1 ELSE 0 END)::BIGINT yo""")},
         mo AS (SELECT sum(y)::BIGINT n1, (count(*) - sum(y))::BIGINT n0,
                 CAST(sum(CASE WHEN y = 1 THEN x0
                   ELSE CAST(0 AS DECIMAL(8,4)) END) AS DOUBLE) sx1,
                 sum(CASE WHEN y = 1 THEN yo ELSE 0 END)::DOUBLE sy1,
                 CAST(sum(CASE WHEN y = 1
                   THEN CAST(yo AS DECIMAL(18,0)) * x0
                   ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE) sxy1,
                 CAST(sum(CASE WHEN y = 1 THEN x0 * x0
                   ELSE CAST(0 AS DECIMAL(16,8)) END) AS DOUBLE) sxx1,
                 CAST(sum(CASE WHEN y = 0 THEN x0
                   ELSE CAST(0 AS DECIMAL(8,4)) END) AS DOUBLE) sx0,
                 sum(CASE WHEN y = 0 THEN yo ELSE 0 END)::DOUBLE sy0,
                 CAST(sum(CASE WHEN y = 0
                   THEN CAST(yo AS DECIMAL(18,0)) * x0
                   ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE) sxy0,
                 CAST(sum(CASE WHEN y = 0 THEN x0 * x0
                   ELSE CAST(0 AS DECIMAL(16,8)) END) AS DOUBLE) sxx0
               FROM du),
         co AS (SELECT n1, n0,
                 round((sxy1 - sx1 * sy1 / n1)
                   / (sxx1 - sx1 * sx1 / n1), 12) b1c,
                 round((sxy0 - sx0 * sy0 / n0)
                   / (sxx0 - sx0 * sx0 / n0), 12) b0c
               FROM mo),
         ci AS (SELECT co.n1, co.n0, b1c, b0c,
                 round(sy1 / co.n1 - b1c * sx1 / co.n1, 12) a1c,
                 round(sy0 / co.n0 - b0c * sx0 / co.n0, 12) a0c
               FROM co, mo),
         ps AS (SELECT sc5.y, sc5.yo, sc5.x0,
                 greatest(0.01, least(0.99, CAST(mu AS DOUBLE))) e,
                 a1c + CAST(x0 AS DOUBLE) * b1c m1,
                 a0c + CAST(x0 AS DOUBLE) * b0c m0
               FROM sc5, ci),
         pz AS (SELECT (m1 - m0 + CAST(y AS DOUBLE) * (yo - m1) / e
                 - (1.0 - CAST(y AS DOUBLE)) * (yo - m0) / (1.0 - e)) psi
               FROM ps),
         s1 AS (SELECT
                 CAST(sum(CAST(round(psi, 12) AS DECIMAL(28,12)))
                   AS DOUBLE) sp,
                 CAST(sum(CAST(round(psi * psi, 9) AS DECIMAL(28,9)))
                   AS DOUBLE) sp2
               FROM pz),
         f AS (SELECT n, n1, round(sp / n, 12) ate, sp, sp2 FROM s1, nn, ci),
         g AS (SELECT n, n1, ate,
                 sqrt(greatest(sp2 - 2.0 * ate * sp + n * ate * ate, 0.0))
                   / n se
               FROM f),
         zz AS (SELECT *, ate / se z, abs(ate / se) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(ate / se) / sqrt(2.0)) t
               FROM g)
         SELECT n, n1 AS n_treated, round(ate, 6) + 0.0 AS ate,
           round(se, 6) + 0.0 AS se, round(z, 6) + 0.0 AS z,
           round(least(1.0, t * (0.254829592 + t * (-0.284496736
             + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
             * exp(-az * az)), 6) + 0.0 AS p_value
         FROM zz"""),

    // ---- propensity stratification: compare like with like, then average --
    // the transparent third leg of the causal shelf (q371 IPW, q389
    // AIPW): rank-exact propensity quintiles, per-stratum arm-mean
    // differences, treated-share weights
    Case("q390_propensity_strata", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      LinearModel.propensityStratifiedAtt(perUser, "t", "y", "x_events")
        .select(col("n"), col("n_treated"), col("k_strata"), col("k_used"),
          (round(col("att"), 6) + lit(0.0)).as("att"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // the q371 propensity replay, the q344 rank-exact cutpoint idiom on
      // the 12-dp propensity (quintile ranks ceil(i*n/5)), per-stratum
      // exact long sums, treated-share-weighted difference + variance
      s"""WITH ${binomialCtes(iterations = 4,
          yExpr = "max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)",
          extraCols = """,
             max(CASE WHEN event_type = 'purchase' AND value > 80
               THEN 1 ELSE 0 END)::BIGINT yo""")},
         ee AS (SELECT y t, yo, CAST(mu AS DOUBLE) e FROM sc5),
         dc AS (SELECT e, count(*)::BIGINT c FROM ee GROUP BY 1),
         cm AS (SELECT e, sum(c) OVER (ORDER BY e) hi FROM dc),
         n2 AS (SELECT count(*)::BIGINT nq FROM ee),
         rk AS (SELECT DISTINCT ((j * nq + 4) // 5) r
               FROM unnest(range(1, 5)) u(j), n2),
         cuts AS (SELECT DISTINCT min(e) cut FROM cm, rk WHERE hi >= r
               GROUP BY r),
         sb AS (SELECT t, yo,
                 1 + (SELECT count(*) FROM cuts WHERE ee.e > cut) s
               FROM ee),
         per AS (SELECT s, sum(t)::BIGINT n1,
                 (count(*) - sum(t))::BIGINT n0,
                 sum(t * yo)::BIGINT sy1,
                 sum((1 - t) * yo)::BIGINT sy0
               FROM sb GROUP BY s),
         nt AS (SELECT sum(n1)::BIGINT ntr FROM per),
         us AS (SELECT * FROM per WHERE n1 > 0 AND n0 > 0),
         t1 AS (SELECT sum(n1)::BIGINT n1u, count(*)::BIGINT ku FROM us),
         at AS (SELECT sum((n1::DOUBLE / n1u)
                 * (sy1::DOUBLE / n1 - sy0::DOUBLE / n0)) att
               FROM us, t1),
         sv AS (SELECT sqrt(sum((n1::DOUBLE / n1u) * (n1::DOUBLE / n1u)
                 * (greatest((sy1 - sy1::DOUBLE * sy1 / n1)
                     / (n1 - 1.0), 0.0) / n1
                   + greatest((sy0 - sy0::DOUBLE * sy0 / n0)
                     / (n0 - 1.0), 0.0) / n0))) sev
               FROM us, t1),
         zz AS (SELECT att, sev, att / sev z, abs(att / sev) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(att / sev) / sqrt(2.0)) t
               FROM at, sv)
         SELECT nq AS n, ntr AS n_treated, 5::BIGINT AS k_strata,
           ku AS k_used, round(att, 6) + 0.0 AS att,
           round(sev, 6) + 0.0 AS se, round(z, 6) + 0.0 AS z,
           round(least(1.0, t * (0.254829592 + t * (-0.284496736
             + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
             * exp(-az * az)), 6) + 0.0 AS p_value
         FROM zz, n2, nt, t1"""),

    // ---- exponential survival regression: the parametric Cox baseline -----
    // constant-hazard AFT on the q352 duration table via the censored-
    // exponential = Poisson-with-exposure identity: one whole-table
    // reduce per Newton step, no risk sets — the cheap first-pass twin
    Case("q392_exponential_aft", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          col("x_events"))
      Behavior.exponentialAft(durations, "duration", "censored",
          Seq("x_events"))
        .select(col("term"), col("n"), col("n_events"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    },
      // expAftCtes: 4 unrolled weighted-moment reduces (w = t*e^eta),
      // closed-form 2x2 steps, SE from the trailing gt5 at cb4
      s"""WITH ${expAftCtes(iterations = 4)},
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, sd, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n, sd AS n_events,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, sd,
             round(b1, 6) + 0.0, round(se1, 6) + 0.0, round(z1, 6) + 0.0,
             round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term"""),

    // ---- Weibull AFT: the non-constant-hazard contract (q369 pattern) -----
    // 3-parameter (mu, beta, ln sigma) Newton cannot replay as closed
    // CTEs, but its fixed point CAN be pinned: score-at-reported-theta
    // vanishes, SEs positive, theta finite; anchors recomputed
    Case("q401_weibull_aft", (s, dir) => {
      import s.implicits._
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          col("x_events"))
        .filter(col("duration") >= 1)
      val rows = Behavior.weibullAft(durations, "duration", "censored",
        Seq("x_events")).collect()
      rows.map { r =>
        val ne = r.getLong(2)
        // ne < 2 is the operator's DOCUMENTED degenerate path (weibullAft
        // returns all-NULL rows — one event cannot identify two shape
        // parameters); the contract booleans are vacuously true there so
        // the fixed-point assertion only bites where a fit is claimed
        val degenerate = ne < 2
        val converged = degenerate ||
          (!r.isNullAt(r.fieldIndex("grad")) && ne > 0 &&
            math.abs(r.getAs[Double]("grad")) / ne < 1e-6)
        val sePos = degenerate || (!r.isNullAt(r.fieldIndex("se")) &&
          r.getAs[Double]("se") > 0)
        val thetaFin = degenerate || (!r.isNullAt(r.fieldIndex("beta")) &&
          java.lang.Double.isFinite(r.getAs[Double]("beta")))
        (r.getString(0), r.getLong(1), ne, converged, sePos, thetaFin)
      }.toSeq
        .toDF("term", "n", "n_events", "converged", "se_positive",
          "theta_finite")
        .gateOrdered(col("term"))
    },
      // the q369 anchor recipe: recompute (n, n_events) over the
      // positive-duration subjects from the parquet, pin the booleans
      """WITH pu AS (SELECT user_id,
                  min(floor(epoch(ts) / 3600))::BIGINT f,
                  max(floor(epoch(ts) / 3600))::BIGINT l
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY 1),
         hz AS (SELECT max(l) hm FROM pu),
         du AS (SELECT l - f t,
                 CASE WHEN (hm - l) < 24 THEN 0 ELSE 1 END ev
               FROM pu, hz),
         fl AS (SELECT * FROM du WHERE t >= 1),
         nn AS (SELECT count(*)::BIGINT n, sum(ev)::BIGINT ne FROM fl)
         SELECT c AS term, n, ne AS n_events, true AS converged,
           true AS se_positive, true AS theta_finite
         FROM nn, (VALUES ('intercept'), ('ln_scale'), ('x_events')) t(c)
         ORDER BY term"""),

    // ---- two-group log-rank survival test (Behavior) -----------------------
    // do even- and odd-user time-to-first-purchase curves differ? the
    // Mantel-Cox companion of q235's KM curve, same duration construction
    Case("q274_log_rank", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
      val horizon = ev.agg(max(col("ts")).as("h_ts"))
      val durations = perUser.crossJoin(broadcast(horizon)).select(
        floor((unix_timestamp(coalesce(col("p_ts"), col("h_ts"))) -
          unix_timestamp(col("first_ts"))) / 3600).cast("long").as("dur_h"),
        col("p_ts").isNull.as("cens"),
        when(col("user_id") % 2 === 0, "even").otherwise("odd").as("grp"))
      Behavior.logRankTest(durations, "dur_h", "cens", "grp")
        .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
          col("events_a"), col("events_b"),
          (round(col("expected_a"), 6) + lit(0.0)).as("expected_a"),
          (round(col("var_a"), 6) + lit(0.0)).as("var_a"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"))
    },
      // the q235 duration construction split even/odd; at-risk prefixes via
      // exclusive cumulative exits, pooled hypergeometric O/E/V
      """WITH pu AS (SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
                FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS hm FROM events),
         bl AS (SELECT floor((floor(epoch(coalesce(p, hm))) -
                  floor(epoch(f))) / 3600)::BIGINT AS life,
                  (p IS NULL) AS cens,
                  CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g
                FROM pu, h),
         gl AS (SELECT life,
                 sum(CASE WHEN g = 'even' AND NOT cens THEN 1 ELSE 0 END)::BIGINT da,
                 sum(CASE WHEN g = 'odd' AND NOT cens THEN 1 ELSE 0 END)::BIGINT db,
                 sum(CASE WHEN g = 'even' THEN 1 ELSE 0 END)::BIGINT alla,
                 sum(CASE WHEN g = 'odd' THEN 1 ELSE 0 END)::BIGINT allb
               FROM bl GROUP BY 1),
         w AS (SELECT *,
                 coalesce(sum(alla) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) ba,
                 coalesce(sum(allb) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bb,
                 (SELECT sum(alla) FROM gl) na,
                 (SELECT sum(allb) FROM gl) nb
               FROM gl),
         x AS (SELECT da, db, (na - ba)::BIGINT nra, (nb - bb)::BIGINT nrb
               FROM w WHERE da + db > 0),
         agg AS (SELECT sum(da)::BIGINT oa, sum(db)::BIGINT ob,
             sum((da + db)::DOUBLE * nra / (nra + nrb)) ea,
             sum(CASE WHEN nra + nrb > 1 THEN
               (da + db)::DOUBLE * nra / (nra + nrb) * nrb / (nra + nrb)
                 * (nra + nrb - da - db) / (nra + nrb - 1) ELSE 0.0 END) va
           FROM x),
         tot AS (SELECT (SELECT sum(alla) FROM gl)::BIGINT na,
                   (SELECT sum(allb) FROM gl)::BIGINT nb)
         SELECT 'even' AS group_a, 'odd' AS group_b, tot.na AS n_a,
           tot.nb AS n_b, agg.oa AS events_a, agg.ob AS events_b,
           round(agg.ea, 6) + 0.0 AS expected_a,
           round(agg.va, 6) + 0.0 AS var_a,
           (CASE WHEN agg.va > 0 THEN
             round((agg.oa - agg.ea) * (agg.oa - agg.ea) / agg.va, 6) END)
             + 0.0 AS chi2
         FROM agg, tot"""))
}
