package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Drift.{chi2Survival, normalSfAS}

/** Classical hypothesis tests and experimentation statistics — the
  * "is this difference real" shelf, split out of [[Drift]] (which keeps
  * the two-sample DISTRIBUTION-drift operators: PSI/KS/EDF distances)
  * so each file owns one nature: location/scale/trend tests
  * (t/ANOVA/rank families), time-series diagnostics (unit root,
  * autocorrelation, changepoints, spectra), regression diagnostics,
  * experimentation machinery (CUPED, bootstrap, Bayesian A/B, uplift
  * deciles) and multiple-testing correction.
  *
  * Shared numeric kernels (χ² survival, the A&S normal survival, ψ/ψ′)
  * stay in [[Drift]] and are imported — both shelves replay them
  * verbatim in oracle SQL.
  *
  * Scale design is per-operator (see each scaladoc); the common shape is
  * ONE partial-aggregated moment/count pass, value- or group-bounded
  * intermediate tables, and closed-form driver algebra — no data-sized
  * driver state, no unkeyed windows.
  *
  * Output convention: a one-row statistic names its columns once, in one
  * `Seq((…)).toDF(…)`; a degenerate input (an empty side, too few rows,
  * zero variance) leaves the affected stats `None`, so its row has the
  * same columns and types as a normal one.
  */
object StatTests {

  /** Quantile treatment effects at the deciles — WHERE in the
    * distribution the treatment acts ([[regressionAdjustedAte]] gives
    * one mean shift; a treatment that lifts the tail while leaving the
    * median alone shows a flat ATE and a loud QTE₀.₉): per arm, the
    * rank-exact decile values (rank ⌈q·n⌉ of the expanded multiset —
    * the repo's tie-collapsing cutpoint convention), and
    * QTE(q) = v_treated(q) − v_control(q). One row per decile:
    * `(quantile, n_treated, n_control, q_treated, q_control, qte)`.
    *
    * Scale: per arm ONE per-distinct-value count aggregate + the shared
    * deterministic-bucket exclusive cumsum; each decile resolves per
    * block (the rank-hit filter), only ≤ 9 hit rows reach the driver.
    * No global sort, no data-sized window. */
  def quantileTreatmentEffects(df: DataFrame, treatCol: String,
      valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(treatCol).isNotNull && col(valueCol).isNotNull)
      .select(col(treatCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__v"))
    def armQuantiles(arm: DataFrame): (Long, Map[Long, Double]) = {
      val counts = arm.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      val (cum, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
        counts, col("__v"), Seq("__c"), Seq("__e"), persistInput = false)
      graft.ops.ScaleOps.releasing(cum) {
        val n = grand.head
        if (n == 0) return (0L, Map.empty)
        val targets = (1L to 9L).map(i => (i * n + 9) / 10)
          .filter(t => t >= 1 && t <= n).distinct.sorted
        val tArr = typedLit(targets)
        val hits = cum
          .select(col("__v"), explode(filter(tArr,
            t => t > col("__e") && t <= col("__e") + col("__c")))
            .as("__r"))
          .collect().map(r => r.getLong(1) -> r.getDouble(0)).toMap
        (n, hits)
      }
    }
    val (nT, qT) = armQuantiles(base.filter(col("__t") =!= 0))
    val (nC, qC) = armQuantiles(base.filter(col("__t") === 0))
    (1 to 9).map { i =>
      val rT = (i * nT + 9) / 10; val rC = (i * nC + 9) / 10
      val vT = qT.get(rT); val vC = qC.get(rC)
      (i / 10.0, nT, nC, vT, vC,
        for (a <- vT; b <- vC) yield a - b)
    }.toDF("quantile", "n_treated", "n_control", "q_treated",
      "q_control", "qte")
  }

  /** Difference-in-differences on a two-period panel — the
    * before/after × treated/control estimator that removes any level
    * difference between arms AND any common time shock ([[cuped]] and
    * [[regressionAdjustedAte]] adjust with a covariate; DiD adjusts
    * with the unit's OWN pre-period, the parallel-trends workhorse):
    * with per-unit change d = y_post − y_pre,
    * DiD = mean(d | treated) − mean(d | control), and the SE is the
    * Welch two-sample error of the per-unit changes — clustered at the
    * unit by construction (each unit contributes ONE d). One row:
    * `(n_treated, n_control, pre_treated, post_treated, pre_control,
    * post_control, did, se, z, p_value)` — the four cell means are the
    * audit trail (treated lift minus the counterfactual drift). NULL
    * stats when an arm is empty or both change variances vanish.
    *
    * Determinism contract: treatment is 0/1, outcomes cast to long, so
    * every sum (Σd, Σd² per arm) is an exact integer; the closed-form
    * Welch algebra runs on identical doubles in both engines.
    *
    * Scale: ONE whole-table reduce to 8 exact sums, O(1) driver math. */
  def diffInDiff(df: DataFrame, treatCol: String, preCol: String,
      postCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val t = col(treatCol).cast("long")
    val pre = col(preCol).cast("long"); val post = col(postCol).cast("long")
    val d = post - pre
    val r = df.filter(t.isNotNull && pre.isNotNull && post.isNotNull)
      .agg(
        sum(when(t =!= 0, 1L).otherwise(0L)).as("n1"),
        sum(when(t === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(t =!= 0, pre).otherwise(0L)).as("pre1"),
        sum(when(t =!= 0, post).otherwise(0L)).as("post1"),
        sum(when(t === 0, pre).otherwise(0L)).as("pre0"),
        sum(when(t === 0, post).otherwise(0L)).as("post0"),
        sum(when(t =!= 0, d * d).otherwise(0L)).as("sdd1"),
        sum(when(t === 0, d * d).otherwise(0L)).as("sdd0"))
      .head()
    def lg(o: Int): Long = if (r.isNullAt(o)) 0L else r.getLong(o)
    val (n1, n0) = (lg(0), lg(1))
    val (sPre1, sPost1, sPre0, sPost0) = (lg(2), lg(3), lg(4), lg(5))
    val (sdd1, sdd0) = (lg(6), lg(7))
    val ok = n1 >= 2 && n0 >= 2
    def mean(s: Long, n: Long) = Option.when(ok)(s.toDouble / n)
    val did = for (d1 <- mean(sPost1 - sPre1, n1);
        d0 <- mean(sPost0 - sPre0, n0)) yield d1 - d0
    // Welch: per-arm sample variance of d from exact Σd, Σd²
    val v1 = (sdd1 - (sPost1 - sPre1).toDouble * (sPost1 - sPre1) / n1) /
      (n1 - 1.0)
    val v0 = (sdd0 - (sPost0 - sPre0).toDouble * (sPost0 - sPre0) / n0) /
      (n0 - 1.0)
    val se = Option.when(ok)(
      math.sqrt(math.max(v1, 0.0) / n1 + math.max(v0, 0.0) / n0))
      .filter(_ > 0)
    val z = for (d <- did; s <- se) yield d / s
    Seq((n1, n0, mean(sPre1, n1), mean(sPost1, n1), mean(sPre0, n0),
        mean(sPost0, n0), did, se, z,
        z.map(x => math.min(1.0, 2.0 * normalSfAS(math.abs(x))))))
      .toDF("n_treated", "n_control", "pre_treated", "post_treated",
        "pre_control", "post_control", "did", "se", "z", "p_value")
  }

  /** Two-proportion power analysis — the experiment-DESIGN companion of
    * [[proportionEffects]] (that shelf judges a finished test; this one
    * answers "how long must the next one run"): from the observed arm
    * rates, (a) the minimum detectable effect at the CURRENT sample
    * sizes — MDE = (z_{α/2} + z_pow)·√(p̄(1−p̄)(1/n_a + 1/n_b)) — and
    * (b) the per-arm n required to detect the OBSERVED delta —
    * n = (z_{α/2} + z_pow)²·2·p̄(1−p̄)/Δ̂² (ceiling; NULL when Δ̂ = 0) —
    * and (c) the achieved power of the observed delta at the current n,
    * Φ(|Δ̂|/SE − z_{α/2}). One row: `(n_a, n_b, p_a, p_b, delta, mde,
    * n_required_per_arm, power_at_n)`. NULL stats when an arm is empty
    * or the pooled rate is degenerate.
    *
    * The quantiles z_{0.975} = 1.959963985 and z_{0.80} = 0.8416212336
    * are the published normal quantiles both engines hard-code; Φ
    * replays via the shared A&S survival polynomial.
    *
    * Scale: one whole-table reduce to four exact longs. */
  def powerTwoProportions(df: DataFrame, armCol: String,
      successCol: String, zAlpha: Double = 1.959963985,
      zPower: Double = 0.8416212336): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val t = col(armCol).cast("long"); val y = col(successCol).cast("long")
    val r = df.filter(t.isNotNull && y.isNotNull)
      .agg(sum(when(t === 0, 1L).otherwise(0L)).as("na"),
        sum(when(t =!= 0, 1L).otherwise(0L)).as("nb"),
        sum(when(t === 0, y).otherwise(0L)).as("sa"),
        sum(when(t =!= 0, y).otherwise(0L)).as("sb"))
      .head()
    val (na, nb, sa, sb) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
    val pA = sa.toDouble / na; val pB = sb.toDouble / nb
    val pPool = (sa + sb).toDouble / (na + nb)
    val v = pPool * (1.0 - pPool) * (1.0 / na + 1.0 / nb)
    val ok = na > 0 && nb > 0 && v > 0
    val se = math.sqrt(v)
    val delta = pB - pA
    val nReq = Option.when(ok && delta != 0)(math.ceil(
      (zAlpha + zPower) * (zAlpha + zPower) * 2.0 *
        pPool * (1.0 - pPool) / (delta * delta)).toLong)
    // Φ(q) = 1 − SF(q); the SF reflects for q < 0, so both engines
    // replay the same polynomial whichever side of zero q lands on
    Seq((na, nb, Option.when(ok)(pA), Option.when(ok)(pB),
        Option.when(ok)(delta), Option.when(ok)((zAlpha + zPower) * se), nReq,
        Option.when(ok)(1.0 - normalSfAS(math.abs(delta) / se - zAlpha))))
      .toDF("n_a", "n_b", "p_a", "p_b", "delta", "mde",
        "n_required_per_arm", "power_at_n")
  }

  /** Sample-ratio-mismatch check — the assignment-health gate every
    * experimentation platform runs BEFORE reading any metric (a 50/50
    * split that lands 52/48 at scale means the randomizer, logging, or
    * bot filter is biased, and every downstream estimate inherits it):
    * χ² goodness-of-fit of the observed arm counts against the design
    * shares, df = arms − 1, with the standard p < 0.001 red flag
    * (SRM alarms demand a stricter bar than metric tests — an unhealthy
    * assignment invalidates the whole experiment). One row per arm with
    * the shared verdict: `(arm, n, expected, chi2, df, p_value,
    * srm_flag)`.
    *
    * Determinism: ONE count aggregation to exact longs; expected counts
    * and the χ² sum are closed-form driver doubles; p replays via the
    * shared Wilson–Hilferty χ² survival.
    *
    * Scale: one count reduce to an arm-bounded table (≤ 64 arms). */
  def srmCheck(df: DataFrame, armCol: String,
      shares: Seq[(String, Double)]): DataFrame = {
    require(shares.nonEmpty && shares.size <= 64,
      s"srmCheck needs 1..64 design shares, got ${shares.size}")
    require(math.abs(shares.map(_._2).sum - 1.0) < 1e-9,
      s"design shares must sum to 1, got ${shares.map(_._2).sum}")
    require(shares.forall(_._2 > 0), "design shares must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val shareMap = shares.toMap
    val counts = df.filter(col(armCol).isNotNull)
      .groupBy(col(armCol).cast("string").as("arm"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val extra = counts.keySet -- shareMap.keySet
    require(extra.isEmpty,
      s"arms not in the design: ${extra.toSeq.sorted.mkString(", ")}")
    val total = counts.values.sum
    val rows = shares.sortBy(_._1).map { case (a, s) =>
      (a, counts.getOrElse(a, 0L), s * total)
    }
    val chi2 = rows.map { case (_, o, e) => (o - e) * (o - e) / e }.sum
    val dfree = shares.size - 1
    // df = 1 (the two-arm norm) via χ²₁ SF(x) = 2·Φ(−√x) so the oracle
    // replays the shared erf polynomial; even df via the closed sum
    val p = if (total == 0 || dfree == 0) 1.0
      else if (dfree == 1) math.min(1.0, 2.0 * normalSfAS(math.sqrt(chi2)))
      else chi2Survival(dfree, chi2)
    rows.map { case (a, o, e) =>
      (a, o, e, chi2, dfree.toLong, p, p < 0.001)
    }.toDF("arm", "n", "expected", "chi2", "df", "p_value", "srm_flag")
  }

  /** Group-sequential monitoring table with O'Brien–Fleming boundaries
    * — the SCHEDULED-peeking discipline ([[msprtProportions]] prices
    * continuous peeking; OBF is the classical K-interim-looks design
    * that spends almost no alpha early and the full level at the end):
    * per look k = 1..K, the pooled two-proportion z from the CUMULATIVE
    * arm counts against the OBF critical value c·√(K/k) (c is the
    * published constant for the (K, α) design — 2.0401 for K = 5,
    * two-sided α = 0.05, O'Brien & Fleming 1979). One row per look:
    * `(look, n_a, n_b, x_a, x_b, delta, z, boundary, crossed)`; z NULL
    * (crossed false) while the pooled variance is degenerate.
    *
    * Determinism: ONE per-look count aggregation to exact longs; the
    * ≤ `maxLooks` cumulative table accumulates on the driver in look
    * order — both engines replay identical doubles.
    *
    * Scale: one aggregation to a K-bounded table (`maxLooks` ≤ 64
    * fail-stop); no window, no data-sized driver state. */
  def groupSequentialObf(df: DataFrame, lookCol: String, armCol: String,
      successCol: String, critical: Double = 2.0401,
      maxLooks: Int = 64): DataFrame = {
    require(critical > 0, s"critical must be > 0: $critical")
    require(maxLooks >= 1 && maxLooks <= 64,
      s"maxLooks must be in [1, 64]: $maxLooks")
    val spark = df.sparkSession
    import spark.implicits._
    val t = col(armCol).cast("long"); val y = col(successCol).cast("long")
    val per = df.filter(col(lookCol).isNotNull && t.isNotNull && y.isNotNull)
      .groupBy(col(lookCol).cast("long").as("look"))
      .agg(sum(when(t === 0, 1L).otherwise(0L)).as("na"),
        sum(when(t =!= 0, 1L).otherwise(0L)).as("nb"),
        sum(when(t === 0, y).otherwise(0L)).as("xa"),
        sum(when(t =!= 0, y).otherwise(0L)).as("xb"))
      .collect()
    require(per.length <= maxLooks,
      s"groupSequentialObf: ${per.length} looks exceed maxLooks $maxLooks")
    val looks = per.sortBy(_.getLong(0))
    val kTot = looks.length
    var (cna, cnb, cxa, cxb) = (0L, 0L, 0L, 0L)
    looks.zipWithIndex.map { case (r, i) =>
      def lg(o: Int): Long = if (r.isNullAt(o)) 0L else r.getLong(o)
      cna += lg(1); cnb += lg(2); cxa += lg(3); cxb += lg(4)
      val zOpt: Option[Double] =
        if (cna == 0 || cnb == 0) None
        else {
          val pPool = (cxa + cxb).toDouble / (cna + cnb)
          val v = pPool * (1.0 - pPool) * (1.0 / cna + 1.0 / cnb)
          if (v <= 0) None
          else Some((cxb.toDouble / cnb - cxa.toDouble / cna) /
            math.sqrt(v))
        }
      val boundary = critical * math.sqrt(kTot.toDouble / (i + 1))
      (r.getLong(0), cna, cnb, cxa, cxb,
        if (cna > 0 && cnb > 0)
          Some(cxb.toDouble / cnb - cxa.toDouble / cna) else None,
        zOpt, boundary, zOpt.exists(z => math.abs(z) > boundary))
    }.toSeq.toDF("look", "n_a", "n_b", "x_a", "x_b", "delta", "z",
      "boundary", "crossed")
  }

  /** Oaxaca–Blinder twofold decomposition — HOW MUCH of a group gap the
    * covariate explains ([[diffInDiff]] nets out time, this nets out
    * COMPOSITION: two sources can differ in mean document length simply
    * because one carries longer-tokenized text): fit y = aᵍ + bᵍ·x per
    * group by closed-form OLS; with group B's structure as reference,
    * gap = ȳ_A − ȳ_B = explained + unexplained, where
    * explained = b_B·(x̄_A − x̄_B) (the part composition accounts for)
    * and unexplained = (a_A − a_B) + x̄_A·(b_A − b_B) (the structural
    * part). One row: `(n_a, n_b, mean_a, mean_b, gap, explained,
    * unexplained, pct_explained)`; NULL decomposition when either
    * group's design is degenerate (constant x, n < 3) — pct NULL when
    * the gap is 0.
    *
    * Determinism contract: y casts to long, x quantizes to
    * DECIMAL(8,4); per-group moments are exact long/decimal sums in
    * ONE conditional reduce; the decomposition is closed-form driver
    * algebra both engines replay from identical sums.
    *
    * Scale: ONE whole-table reduce to 10 exact sums. */
  def oaxacaBlinder(df: DataFrame, groupCol: String, groupA: String,
      groupB: String, outcomeCol: String,
      covariateCol: String): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val g = col(groupCol).cast("string")
    val base = df.filter((g === groupA || g === groupB) &&
        col(outcomeCol).isNotNull && col(covariateCol).isNotNull)
      .select((g === groupA).as("__a"),
        col(outcomeCol).cast("long").as("__y"),
        col(covariateCol).cast("decimal(8,4)").as("__x"))
    def armAggs(a: Boolean) = {
      val m = if (a) col("__a") else !col("__a")
      val tag = if (a) "a" else "b"
      Seq(sum(when(m, 1L).otherwise(0L)).as(s"__n$tag"),
        sum(when(m, col("__x")).otherwise(lit(0).cast("decimal(8,4)")))
          .as(s"__sx$tag"),
        sum(when(m, col("__y")).otherwise(0L)).as(s"__sy$tag"),
        sum(when(m, col("__y").cast("decimal(18,0)") * col("__x"))
          .otherwise(lit(0).cast("decimal(26,4)"))).as(s"__sxy$tag"),
        sum(when(m, col("__x") * col("__x"))
          .otherwise(lit(0).cast("decimal(16,8)"))).as(s"__sxx$tag"))
    }
    val aggs = armAggs(true) ++ armAggs(false)
    val r = base.agg(aggs.head, aggs.tail: _*).head()
    def lg(o: Int): Long = if (r.isNullAt(o)) 0L else r.getLong(o)
    def dc(o: Int): Double =
      if (r.isNullAt(o)) 0.0 else BigDecimal(r.getDecimal(o)).toDouble
    val (na, sxa, sya, sxya, sxxa) = (lg(0), dc(1), lg(2).toDouble,
      dc(3), dc(4))
    val (nb, sxb, syb, sxyb, sxxb) = (lg(5), dc(6), lg(7).toDouble,
      dc(8), dc(9))
    def ols(nn: Long, sx: Double, sy: Double, sxy: Double,
        sxx: Double): Option[(Double, Double)] = {
      val den = sxx - sx * sx / nn
      if (den <= 0) None
      else {
        val b = (sxy - sx * sy / nn) / den
        Some((sy / nn - b * sx / nn, b))
      }
    }
    val fits = if (na < 3 || nb < 3) None
      else ols(na, sxa, sya, sxya, sxxa).zip(ols(nb, sxb, syb, sxyb, sxxb))
    val gap = Option.when(na > 0 && nb > 0)(sya / na - syb / nb)
    val explained = fits.map { case (_, (_, bB)) => bB * (sxa / na - sxb / nb) }
    val unexplained = fits.map { case ((aA, bA), (aB, bB)) =>
      (aA - aB) + (sxa / na) * (bA - bB) }
    Seq((na, nb, Option.when(na > 0)(sya / na),
        Option.when(nb > 0)(syb / nb), gap, explained, unexplained,
        for (e <- explained; g <- gap if g != 0) yield e / g))
      .toDF("n_a", "n_b", "mean_a", "mean_b", "gap", "explained",
        "unexplained", "pct_explained")
  }

  /** Page's trend test — the ORDERED-alternative twin of Friedman
    * ([[graft.profile.Association.friedmanTest]] asks "do the k
    * repeated conditions differ at
    * all"; Page asks for a MONOTONE trend along a specified condition
    * order — week-over-week growth per user, dose response — exactly
    * as [[jonckheereTerpstra]] sharpens Kruskal–Wallis for independent
    * groups): within each complete block (an item observed under ALL k
    * conditions), mid-rank the k values; L = Σⱼ j·R̄ⱼ over blocks,
    * z = (L − μ_L)/σ_L with μ_L = b·k(k+1)²/4 and
    * σ²_L = b·k²(k+1)²(k−1)/144, one-sided p (trend in the given
    * ascending-condition order; ties use mid-ranks with the no-tie
    * variance — the standard conservative approximation, documented).
    * One row: `(n_items, k, l_stat, mean_l, var_l, z, p_value)`. NULL
    * stats when fewer than 2 complete blocks or k < 3.
    *
    * Determinism contract: condition labels cast to LONG and order
    * numerically; per-(item, condition) values aggregate to exact long
    * sums; mid-ranks double to stay integer (R2 = 2R), so L2 = 2L is
    * an exact long sum — no float enters before the final closed-form
    * z.
    *
    * Scale: one keyed aggregation to (item, condition), one item-keyed
    * self-join with fan-out k ≤ `maxConditions` per item (bounded, no
    * window), one reduce. */
  def pageTrend(df: DataFrame, itemCol: String, conditionCol: String,
      valueCol: String, maxConditions: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pv = df.filter(col(itemCol).isNotNull &&
        col(conditionCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(itemCol).cast("string").as("__it"),
        col(conditionCol).cast("long").as("__c"))
      .agg(sum(col(valueCol).cast("long")).as("__v"))
    val conds = pv.select(col("__c")).distinct()
      .orderBy(col("__c")).collect().map(_.getLong(0))
    val k = conds.length
    require(k <= maxConditions,
      s"pageTrend: $k conditions exceed maxConditions $maxConditions")
    // l = L once at least 2 complete blocks exist
    def out(bN: Long, l: Option[Double]) = {
      val kD = k.toDouble
      val meanL = bN * kD * (kD + 1) * (kD + 1) / 4.0
      val varL = bN * kD * kD * (kD + 1) * (kD + 1) * (kD - 1) / 144.0
      val z = l.map(v => (v - meanL) / math.sqrt(varL))
      Seq((bN, k.toLong, l, l.map(_ => meanL), l.map(_ => varL), z,
          z.map(v => math.min(1.0, normalSfAS(v)))))
        .toDF("n_items", "k", "l_stat", "mean_l", "var_l", "z", "p_value")
    }
    if (k < 3) return out(0, None)
    val condIdx = conds.zipWithIndex.map { case (c, i) => c -> (i + 1L) }
    // complete blocks only: the item appears under ALL k conditions
    val complete = pv.groupBy(col("__it"))
      .agg(count(lit(1)).as("__kc")).filter(col("__kc") === k)
      .select(col("__it"))
    val full = pv.join(complete, "__it")
    // doubled mid-ranks from the item-keyed self-join: R2 = 2R is exact
    val a = full.select(col("__it"), col("__c"), col("__v"))
    val b = full.select(col("__it").as("__it2"), col("__c").as("__c2"),
      col("__v").as("__v2"))
    val r2 = a.join(b, col("__it") === col("__it2") &&
        col("__c") =!= col("__c2"))
      .groupBy(col("__it"), col("__c"))
      .agg((lit(2L) + sum(when(col("__v2") < col("__v"), 2L)
        .when(col("__v2") === col("__v"), 1L).otherwise(0L))).as("__r2"))
    val jIdx = typedLit(condIdx.toMap)
    val agg = r2.agg(sum(jIdx(col("__c")) * col("__r2")).as("__l2"),
        countDistinct(col("__it")).as("__b"))
      .head()
    val bN = agg.getLong(1)
    out(bN, Option.when(bN >= 2)(agg.getLong(0).toDouble / 2.0))
  }

  /** Newcombe hybrid-Wilson confidence interval for a proportion
    * difference — the CI the Wald interval should have been (Wald
    * collapses to zero width at p̂ ∈ {0,1} and undercovers small
    * samples; Newcombe 1998 squares the per-arm WILSON score intervals
    * into the difference, the method comparative-rate reports should
    * quote): per arm the Wilson bounds
    * (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n), then for
    * δ = p_b − p_a: lo = δ − √((p_b−l_b)² + (u_a−p_a)²),
    * hi = δ + √((u_b−p_b)² + (p_a−l_a)²). One row: `(n_a, n_b, p_a,
    * p_b, wilson_lo_a, wilson_hi_a, wilson_lo_b, wilson_hi_b, delta,
    * ci_lo, ci_hi)`. NULL stats when an arm is empty. Works at the
    * boundary rates Wald cannot handle.
    *
    * Determinism: ONE reduce to four exact longs; closed-form doubles
    * both engines share.
    *
    * Scale: one whole-table reduce, O(1) driver math. */
  def newcombeDiffCI(df: DataFrame, armCol: String, successCol: String,
      zCrit: Double = 1.959963985): DataFrame = {
    require(zCrit > 0, s"zCrit must be > 0: $zCrit")
    val spark = df.sparkSession
    import spark.implicits._
    val t = col(armCol).cast("long"); val y = col(successCol).cast("long")
    val r = df.filter(t.isNotNull && y.isNotNull)
      .agg(sum(when(t === 0, 1L).otherwise(0L)).as("na"),
        sum(when(t =!= 0, 1L).otherwise(0L)).as("nb"),
        sum(when(t === 0, y).otherwise(0L)).as("sa"),
        sum(when(t =!= 0, y).otherwise(0L)).as("sb"))
      .head()
    val (na, nb, sa, sb) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
    val z2 = zCrit * zCrit
    def wilson(s: Long, n: Long): (Double, Double, Double) = {
      val p = s.toDouble / n
      val center = (p + z2 / (2.0 * n)) / (1.0 + z2 / n)
      val half = zCrit * math.sqrt(p * (1.0 - p) / n +
        z2 / (4.0 * n * n)) / (1.0 + z2 / n)
      (p, center - half, center + half)
    }
    val (pA, lA, uA) = wilson(sa, na)
    val (pB, lB, uB) = wilson(sb, nb)
    val delta = pB - pA
    val lo = delta - math.sqrt((pB - lB) * (pB - lB) +
      (uA - pA) * (uA - pA))
    val hi = delta + math.sqrt((uB - pB) * (uB - pB) +
      (pA - lA) * (pA - lA))
    def stat(v: Double) = Option.when(na > 0 && nb > 0)(v)
    Seq((na, nb, stat(pA), stat(pB), stat(lA), stat(uA), stat(lB),
        stat(uB), stat(delta), stat(lo), stat(hi)))
      .toDF("n_a", "n_b", "p_a", "p_b", "wilson_lo_a", "wilson_hi_a",
        "wilson_lo_b", "wilson_hi_b", "delta", "ci_lo", "ci_hi")
  }

  /** Deming regression — the ERRORS-IN-BOTH-VARIABLES line (ordinary
    * OLS assumes x is exact and attenuates the slope when x carries
    * measurement noise; when CALIBRATING one instrument/pipeline
    * against another, both sides are noisy and Deming splits the error
    * by the variance ratio λ): with centered moments cxx, cyy, cxy,
    * β = (cyy − λ·cxx + √((cyy − λ·cxx)² + 4λ·cxy²)) / (2·cxy),
    * α = ȳ − β·x̄ (λ = 1 is orthogonal regression). One row:
    * `(n, mean_x, mean_y, slope, intercept, pearson_r)`. NULL
    * slope/intercept when cxy = 0 (no association — the line is
    * degenerate), NULL r when either variance vanishes.
    *
    * Determinism contract: both variables cast to LONG (pre-quantize
    * fractional measures), all six raw moments are exact long/decimal
    * sums; the closed form is shared driver algebra.
    *
    * Scale: ONE whole-table reduce to six exact sums. */
  def demingRegression(df: DataFrame, xCol: String, yCol: String,
      lambda: Double = 1.0): DataFrame = {
    require(lambda > 0, s"lambda must be > 0: $lambda")
    val spark = df.sparkSession
    import spark.implicits._
    val x = col(xCol).cast("long"); val y = col(yCol).cast("long")
    val r = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("__x"), y.as("__y"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(38,0)")).as("sx"),
        sum(col("__y").cast("decimal(38,0)")).as("sy"),
        sum(col("__x").cast("decimal(38,0)") * col("__x")).as("sxx"),
        sum(col("__y").cast("decimal(38,0)") * col("__y")).as("syy"),
        sum(col("__x").cast("decimal(38,0)") * col("__y")).as("sxy"))
      .head()
    val n = r.getLong(0)
    val ok = n >= 2
    def dec(o: Int): Double =
      if (r.isNullAt(o)) 0.0 else BigDecimal(r.getDecimal(o)).toDouble
    val (sx, sy, sxx, syy, sxy) = (dec(1), dec(2), dec(3), dec(4), dec(5))
    val nD = n.toDouble
    val cxx = sxx - sx * sx / nD
    val cyy = syy - sy * sy / nD
    val cxy = sxy - sx * sy / nD
    val mx = sx / nD; val my = sy / nD
    val rOpt = Option.when(ok && cxx > 0 && cyy > 0)(
      cxy / math.sqrt(cxx * cyy))
    val slope = Option.when(ok && cxy != 0) {
      val d = cyy - lambda * cxx
      (d + math.sqrt(d * d + 4.0 * lambda * cxy * cxy)) / (2.0 * cxy)
    }
    Seq((n, Option.when(ok)(mx), Option.when(ok)(my), slope,
        slope.map(b => my - b * mx), rOpt))
      .toDF("n", "mean_x", "mean_y", "slope", "intercept", "pearson_r")
  }

  /** Method-agreement summary: Lin's concordance correlation + the
    * Bland–Altman limits — do two pipelines measuring the SAME quantity
    * actually agree ([[demingRegression]] fits the calibration line;
    * this scores agreement with the identity line and brackets the
    * per-row disagreement): CCC = 2·σxy / (σxx + σyy + (x̄−ȳ)²) with
    * POPULATION (1/n) moments — Lin's original form, penalizing both
    * scale and location shift where Pearson's r forgives them — and
    * bias = ȳ−x̄ with the 95% limits of agreement bias ± 1.96·sd(d)
    * (sample sd of the paired differences). One row: `(n, mean_x,
    * mean_y, ccc, pearson_r, bias, loa_lo, loa_hi)`. NULL ccc/r when
    * the denominators vanish, NULL limits when n < 2.
    *
    * Determinism contract: LONG-cast inputs, six exact moment sums,
    * shared closed-form driver algebra (the [[demingRegression]]
    * reduce — one scan serves both when composed).
    *
    * Scale: ONE whole-table reduce to six exact sums. */
  def methodAgreement(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = col(xCol).cast("long"); val y = col(yCol).cast("long")
    val r = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("__x"), y.as("__y"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(38,0)")).as("sx"),
        sum(col("__y").cast("decimal(38,0)")).as("sy"),
        sum(col("__x").cast("decimal(38,0)") * col("__x")).as("sxx"),
        sum(col("__y").cast("decimal(38,0)") * col("__y")).as("syy"),
        sum(col("__x").cast("decimal(38,0)") * col("__y")).as("sxy"))
      .head()
    val n = r.getLong(0)
    def dec(o: Int): Double =
      if (r.isNullAt(o)) 0.0 else BigDecimal(r.getDecimal(o)).toDouble
    val (sx, sy, sxx, syy, sxy) = (dec(1), dec(2), dec(3), dec(4), dec(5))
    val nD = n.toDouble
    val mx = sx / nD; val my = sy / nD
    // population (1/n) moments — Lin's original CCC convention
    val vx = sxx / nD - mx * mx
    val vy = syy / nD - my * my
    val cxy = sxy / nD - mx * my
    val cccDen = vx + vy + (mx - my) * (mx - my)
    def stat(v: Double) = Option.when(n >= 2)(v)
    val ccc = Option.when(n >= 2 && cccDen > 0)(2.0 * cxy / cccDen)
    val rP = Option.when(n >= 2 && vx > 0 && vy > 0)(
      cxy / math.sqrt(vx * vy))
    val bias = my - mx
    // sample variance of the paired differences from the same moments
    val sdd = syy - 2.0 * sxy + sxx
    val sd2 = sy - sx
    val varD = (sdd - sd2 * sd2 / nD) / (nD - 1.0)
    val sdD = math.sqrt(math.max(varD, 0.0))
    Seq((n, stat(mx), stat(my), ccc, rP, stat(bias),
        stat(bias - 1.959963985 * sdD), stat(bias + 1.959963985 * sdD)))
      .toDF("n", "mean_x", "mean_y", "ccc", "pearson_r", "bias",
        "loa_lo", "loa_hi")
  }

  /** E-value for unmeasured confounding (VanderWeele & Ding 2017) —
    * how STRONG a lurking confounder would have to be to explain an
    * observed risk ratio away — the modern sensitivity-analysis
    * headline ("an unmeasured confounder associated with both exposure
    * and outcome by RR ≥ E could nullify this"), the natural companion
    * of the q289 risk-ratio shelf: for RR ≥ 1,
    * E = RR + √(RR·(RR−1)); RR < 1 transforms
    * through 1/RR first. Reported for the point estimate AND for the
    * CI bound closer to the null (E = 1 when the CI crosses 1 — no
    * strength needed). One row: `(n_exposed, n_unexposed, rr, rr_lo,
    * rr_hi, e_value, e_value_ci)` with the Wald log-RR interval. NULL
    * stats when a margin is empty or an arm is event-free (log of 0);
    * an arm at risk exactly 1 stays defined — its Wald term vanishes.
    *
    * Determinism: ONE reduce to four exact longs; closed-form doubles
    * after (ln/exp/√ replay in oracle SQL).
    *
    * Scale: one whole-table reduce, O(1) driver math. */
  def eValueRR(df: DataFrame, exposureCol: String,
      outcomeCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val t = col(exposureCol).cast("long")
    val y = col(outcomeCol).cast("long")
    val r = df.filter(t.isNotNull && y.isNotNull)
      .agg(sum(when(t =!= 0, 1L).otherwise(0L)).as("n1"),
        sum(when(t === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(t =!= 0, y).otherwise(0L)).as("a"),
        sum(when(t === 0, y).otherwise(0L)).as("c"))
      .head()
    val (n1, n0) = (r.getLong(0), r.getLong(1))
    val a = if (r.isNullAt(2)) 0L else r.getLong(2)
    val c = if (r.isNullAt(3)) 0L else r.getLong(3)
    // a == n1 / c == n0 (risk exactly 1 in an arm) stays DEFINED: the
    // Wald term 1/a − 1/n1 just vanishes — only an empty margin or an
    // event-free arm (log of 0) is degenerate, mirroring the oracle
    def stat(v: Double) = Option.when(n1 > 0 && n0 > 0 && a > 0 && c > 0)(v)
    val rr = (a.toDouble / n1) / (c.toDouble / n0)
    val seLn = math.sqrt(1.0 / a - 1.0 / n1 + 1.0 / c - 1.0 / n0)
    val lo = math.exp(math.log(rr) - 1.959963985 * seLn)
    val hi = math.exp(math.log(rr) + 1.959963985 * seLn)
    def eOf(v: Double): Double = {
      val w = if (v >= 1.0) v else 1.0 / v
      w + math.sqrt(w * (w - 1.0))
    }
    // CI bound closer to the null; crossing 1 needs no confounding at all
    val eCi =
      if (lo <= 1.0 && hi >= 1.0) 1.0
      else if (rr >= 1.0) eOf(lo)
      else eOf(hi)
    Seq((n1, n0, stat(rr), stat(lo), stat(hi), stat(eOf(rr)), stat(eCi)))
      .toDF("n_exposed", "n_unexposed", "rr", "rr_lo", "rr_hi",
        "e_value", "e_value_ci")
  }

  /** Mixture sequential probability ratio test (mSPRT) for a two-arm
    * proportion difference — the ALWAYS-VALID p-value that lets an
    * experimenter peek continuously without inflating false positives
    * ([[graft.ops.QualityOps.sprtGate]] is Wald's single-stream H₀/H₁
    * gate; this is the A/B form with a N(0, τ) mixing prior over effect
    * sizes, the standard "anytime p" construction): with Δ̂ = p_b − p_a
    * and V = p̄(1−p̄)(1/n_a + 1/n_b),
    * Λ = √(V/(V+τ)) · exp(Δ̂²τ / (2V(V+τ))) and p_always = min(1, 1/Λ)
    * is conservative at EVERY look. One row: `(n_a, n_b, p_a, p_b,
    * delta, lambda_stat, p_always, reject_05)`. NULL stats when an arm
    * is empty or the pooled rate is degenerate (V = 0).
    *
    * Determinism: ONE reduce to four exact longs; everything after is
    * closed-form double algebra both engines share.
    *
    * Scale: one whole-table reduce, O(1) driver math. */
  def msprtProportions(df: DataFrame, armCol: String, successCol: String,
      tau: Double = 0.0001): DataFrame = {
    require(tau > 0, s"tau must be > 0: $tau")
    val spark = df.sparkSession
    import spark.implicits._
    val t = col(armCol).cast("long"); val y = col(successCol).cast("long")
    val r = df.filter(t.isNotNull && y.isNotNull)
      .agg(sum(when(t === 0, 1L).otherwise(0L)).as("na"),
        sum(when(t =!= 0, 1L).otherwise(0L)).as("nb"),
        sum(when(t === 0, y).otherwise(0L)).as("sa"),
        sum(when(t =!= 0, y).otherwise(0L)).as("sb"))
      .head()
    val (na, nb, sa, sb) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
    val pA = sa.toDouble / na; val pB = sb.toDouble / nb
    val pPool = (sa + sb).toDouble / (na + nb)
    val v = pPool * (1.0 - pPool) * (1.0 / na + 1.0 / nb)
    def stat[T](x: T) = Option.when(na > 0 && nb > 0 && v > 0)(x)
    val delta = pB - pA
    val lambda = math.sqrt(v / (v + tau)) *
      math.exp(delta * delta * tau / (2.0 * v * (v + tau)))
    val pAlways = math.min(1.0, 1.0 / lambda)
    Seq((na, nb, stat(pA), stat(pB), stat(delta), stat(lambda),
        stat(pAlways), stat(pAlways < 0.05)))
      .toDF("n_a", "n_b", "p_a", "p_b", "delta", "lambda_stat",
        "p_always", "reject_05")
  }

  /** Empirical-Bayes shrinkage of per-group success rates — the honest
    * leaderboard for rates over groups of very different sizes (a
    * 2-doc source at 100% must not outrank a 10k-doc source at 96%):
    * normal-approximation James–Stein with a moment prior — grand rate
    * m = Σy/Σn, signal variance τ̂² = max(0, between-group variance −
    * average binomial noise m(1−m)/n_g), and each group shrinks by
    * B_g = τ̂²/(τ̂² + m(1−m)/n_g) toward m. One row per group:
    * `(group, n, successes, raw_rate, shrinkage, shrunk_rate)`;
    * τ̂² = 0 (no real between-group signal) collapses every group to m.
    *
    * Determinism: per-group exact long sums; the driver algebra runs
    * over groups in key order — both engines replay the same doubles.
    *
    * Scale: ONE aggregation to the group-bounded table, ≤ `maxGroups`
    * driver rows (fail-stop). */
  def ebShrinkRates(df: DataFrame, groupCol: String, successCol: String,
      maxGroups: Int = 100000): DataFrame = {
    val per = df.filter(col(groupCol).isNotNull &&
        col(successCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("group"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("long")).as("y"))
      .collect()
    require(per.length <= maxGroups,
      s"ebShrinkRates: ${per.length} groups exceed maxGroups $maxGroups")
    val spark = df.sparkSession
    import spark.implicits._
    if (per.isEmpty)
      return Seq.empty[(String, Long, Long, Double, Double, Double)]
        .toDF("group", "n", "successes", "raw_rate", "shrinkage",
          "shrunk_rate")
    val rows = per.sortBy(_.getString(0))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val totN = rows.map(_._2).sum; val totY = rows.map(_._3).sum
    val m = totY.toDouble / totN
    val g = rows.length
    val rates = rows.map(r => r._3.toDouble / r._2)
    val varHat =
      if (g < 2) 0.0
      else rates.map(p => (p - m) * (p - m)).sum / (g - 1.0)
    val noiseBar = rows.map(r => m * (1.0 - m) / r._2).sum / g
    val tau2 = math.max(0.0, varHat - noiseBar)
    rows.zip(rates).map { case ((k, n, y), p) =>
      val b = if (tau2 <= 0) 0.0 else tau2 / (tau2 + m * (1.0 - m) / n)
      (k, n, y, p, b, m + b * (p - m))
    }.toSeq.toDF("group", "n", "successes", "raw_rate", "shrinkage",
      "shrunk_rate")
  }

  /** Regression-adjusted treatment effect (ANCOVA) — the randomized-
    * experiment companion of [[cuped]] with an inferential SE: fit
    * y = a + τ·t + b·x by OLS and report τ̂ with its classical standard
    * error. Under randomization the covariate only ABSORBS VARIANCE
    * (the ATE stays unbiased either way), so the CI tightens by the
    * covariate's R² — the same win CUPED buys, but with the Wald
    * z/p machinery attached. One row: `(n, ate, se, z, p_value,
    * beta_covariate)`; NULL stats when the design is collinear
    * (one arm empty, constant covariate) or n ≤ 3.
    *
    * Determinism contract: t is 0/1, y casts to long, x quantizes to
    * DECIMAL(8,4); every raw moment (Σt, Σx, Σy, Σtx, Σty, Σxy, Σx²,
    * Σy²) is an exact decimal/long sum, and the closed-form centered-
    * moment solution (Frisch–Waugh for the 2-regressor design) is plain
    * driver algebra both engines replay from identical sums.
    *
    * Scale: ONE whole-table reduce to 9 exact sums. */
  def regressionAdjustedAte(df: DataFrame, treatCol: String,
      outcomeCol: String, covariateCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(treatCol).isNotNull &&
        col(outcomeCol).isNotNull && col(covariateCol).isNotNull)
      .select(col(treatCol).cast("long").as("__t"),
        col(outcomeCol).cast("long").as("__y"),
        col(covariateCol).cast("decimal(8,4)").as("__x"))
    val r = base.agg(
        count(lit(1)).as("n"),
        sum(col("__t")).as("st"),
        sum(col("__y")).as("sy"),
        sum(col("__x")).as("sx"),
        sum(col("__t") * col("__y")).as("sty"),
        sum(col("__t").cast("decimal(10,0)") * col("__x")).as("stx"),
        sum(col("__y").cast("decimal(18,0)") * col("__x")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"))
      .head()
    val n = r.getLong(0)
    // fit = (ate, se, beta_covariate) of a full-rank design
    def out(fit: Option[(Double, Double, Double)]) = {
      val se = fit.map(_._2).filter(_ > 0)
      val z = for ((ate, _, _) <- fit; s <- se) yield ate / s
      Seq((n, fit.map(_._1), se, z, z.map(x => math.min(1.0,
          2.0 * Drift.normalSfAS(math.abs(x)))), fit.map(_._3)))
        .toDF("n", "ate", "se", "z", "p_value", "beta_covariate")
    }
    if (n <= 3) return out(None)
    require(base.agg(max(col("__t")), min(col("__t"))).head() match {
        case m => m.getLong(0) <= 1L && m.getLong(1) >= 0L
      }, "regressionAdjustedAte needs a 0/1 treatment")
    val nD = n.toDouble
    val st = r.getLong(1).toDouble; val sy = r.getLong(2).toDouble
    def dec(o: Int): Double = BigDecimal(r.getDecimal(o)).toDouble
    val sx = dec(3)
    val sty = r.getLong(4).toDouble
    val stx = dec(5); val sxy = dec(6); val sxx = dec(7)
    val syy = r.getLong(8).toDouble
    // centered moments, then the closed-form 2-regressor solution
    val cTT = st - st * st / nD
    val cXX = sxx - sx * sx / nD
    val cTX = stx - st * sx / nD
    val cTY = sty - st * sy / nD
    val cXY = sxy - sx * sy / nD
    val cYY = syy - sy * sy / nD
    val det = cTT * cXX - cTX * cTX
    out(Option.when(det > 0) {
      val ate = (cTY * cXX - cTX * cXY) / det
      val bx = (cXY * cTT - cTX * cTY) / det
      val rss = cYY - ate * cTY - bx * cXY
      val sigma2 = math.max(rss, 0.0) / (n - 3.0)
      (ate, math.sqrt(sigma2 * cXX / det), bx)
    })
  }

  /** Hodges–Lehmann shift estimate with the Lehmann (Moses) rank CI —
    * the ROBUST "how much did the distribution move" companion of
    * [[mannWhitneyU]] (U answers whether B stochastically dominates A;
    * HL answers BY HOW MUCH, as the median of all n_a·n_b pairwise
    * differences — resistant to outliers where mean-difference is not).
    * One row: `(n_a, n_b, n_pairs, hl_shift, ci_lo, ci_hi)` — exact
    * order statistics of the pairwise-difference multiset (even counts
    * average the two middles), CI bounds at the normal-approximation
    * ranks k = ⌊N/2 − 1.96·√(n_a n_b (n_a+n_b+1)/12)⌋. NULL when either
    * side is empty.
    *
    * Scale: the pairwise multiset is NEVER row-wise — both sides reduce
    * to per-distinct-value cells first, the difference table is the
    * CELL cross join (value-bounded; `maxPairCells` fail-stops a
    * continuous-valued misuse — quantize first), and every order
    * statistic resolves from ONE exclusive-cumsum pass per block, no
    * sort of the pair multiset. Exact integer weights throughout. */
  def hodgesLehmann(a: DataFrame, b: DataFrame, column: String,
      maxPairCells: Long = 10000000L): DataFrame = {
    // Both per-distinct-value cell tables CHECKPOINT (value-bounded —
    // the maxPairCells contract), and the difference table persists
    // through the cumsum (persistInput = true; distinct differences are
    // ≤ cellsA·cellsB ≤ maxPairCells, so the cache is cell-bounded too):
    // previously the size probes, the cumsum totals pass and the final
    // order-statistic aggregate each re-derived the inputs and the
    // CELL CROSS JOIN ran twice (measured 27 sequential jobs for q376
    // at sf0.1).
    val ca = graft.ops.ScaleOps.cut(a.filter(col(column).isNotNull)
      .select(col(column).cast("double").as("va"))
      .groupBy(col("va")).agg(count(lit(1)).as("wa")))
    val cb = graft.ops.ScaleOps.cut(b.filter(col(column).isNotNull)
      .select(col(column).cast("double").as("vb"))
      .groupBy(col("vb")).agg(count(lit(1)).as("wb")))
    val diffs = cb.crossJoin(ca)
      .groupBy((col("vb") - col("va")).as("d"))
      .agg(sum(col("wb") * col("wa")).as("c"))
    // `diffs` is the cumsum's persist once the size checks pass
    graft.ops.ScaleOps.releasing(ca, cb, diffs) {
      val spark = a.sparkSession
      import spark.implicits._
      val sizes = ca.agg(sum(col("wa")), count(lit(1))).head()
      val sizesB = cb.agg(sum(col("wb")), count(lit(1))).head()
      val na = if (sizes.isNullAt(0)) 0L else sizes.getLong(0)
      val nb = if (sizesB.isNullAt(0)) 0L else sizesB.getLong(0)
      def out(nPairs: Long, hl: Option[Double], lo: Option[Double],
          hi: Option[Double]) = Seq((na, nb, nPairs, hl, lo, hi))
        .toDF("n_a", "n_b", "n_pairs", "hl_shift", "ci_lo", "ci_hi")
      if (na == 0 || nb == 0) return out(0L, None, None, None)
      val cellsA = sizes.getLong(1); val cellsB = sizesB.getLong(1)
      require(cellsA * cellsB <= maxPairCells,
        s"hodgesLehmann: $cellsA x $cellsB difference cells exceed " +
          s"maxPairCells $maxPairCells — quantize the value column first")
      val (cum, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
        diffs, col("d"), Seq("c"), Seq("b"), persistInput = true)
      val nPairs = grand(0)
      // rank targets: the two middles (equal when N is odd) and the
      // Lehmann normal-approximation CI ranks
      val r1 = (nPairs + 1) / 2
      val r2 = (nPairs + 2) / 2
      val kD = nPairs / 2.0 - 1.959963984540054 *
        math.sqrt(na.toDouble * nb * (na + nb + 1) / 12.0)
      val kLo = math.max(1L, math.floor(kD).toLong + 1)
      val kHi = math.min(nPairs, nPairs - (math.floor(kD).toLong))
      def osAgg(r: Long, name: String) =
        min(when(col("b") < r && col("b") + col("c") >= r, col("d")))
          .as(name)
      val row = cum.agg(osAgg(r1, "o1"), osAgg(r2, "o2"),
        osAgg(kLo, "olo"), osAgg(kHi, "ohi")).head()
      val hl = (row.getDouble(0) + row.getDouble(1)) / 2.0
      out(nPairs, Some(hl), Some(row.getDouble(2)), Some(row.getDouble(3)))
    }
  }

  /** Delete-one-group jackknife SE for a RATIO metric — the honest error
    * bar for revenue-per-event / clicks-per-session style KPIs, where
    * rows are correlated within a unit and the ratio-of-sums makes the
    * i.i.d. CLT formula wrong on two counts: units hash to `buckets`
    * deterministic md5 groups (bucketing by UNIT, not row, is what
    * absorbs within-unit correlation), each leave-one-bucket-out
    * replicate recomputes R₋ᵦ = (N−nᵦ)/(D−dᵦ), and
    * SE² = (B−1)/B · Σ(R₋ᵦ − R̄)². One row:
    * `(n, buckets, ratio, se, ci_lo, ci_hi)` (normal 95% CI). NULL
    * stats when the denominator or any replicate denominator is ≤ 0.
    *
    * Determinism contract: the bucket is the shared md5-hex idiom
    * (replayable byte-for-byte), numerator/denominator terms round to
    * 12 dp before exact decimal sums, and the replicate algebra runs on
    * the B collected exact sums — an external engine reproduces every
    * replicate from the same per-bucket table.
    *
    * Scale: ONE aggregation to B ≤ 4096 rows (partial-aggregated),
    * B-bounded driver algebra. */
  def jackknifeRatio(df: DataFrame, idCol: String, numCol: String,
      denCol: String, buckets: Int = 32, salt: String = ""): DataFrame = {
    require(buckets >= 2 && buckets <= 4096,
      s"buckets must be in [2, 4096]: $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val b = conv(substring(md5(concat(lit(s"jk$salt:"),
        col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long") % buckets
    def d12(c: Column) = sum(round(c.cast("double"), 12)
      .cast("decimal(38,12)"))
    val per = df.filter(col(idCol).isNotNull && col(numCol).isNotNull &&
        col(denCol).isNotNull)
      .groupBy(b.as("__b"))
      .agg(count(lit(1)).as("__c"), d12(col(numCol)).as("__sn"),
        d12(col(denCol)).as("__sd"))
      .collect()
    val n = per.map(_.getLong(1)).sum
    // bucket order fixes the (tiny) double-summation order of the
    // replicate mean/variance — deterministic across reruns
    val ord = per.sortBy(_.getLong(0))
    val sn = ord.map(r => BigDecimal(r.getDecimal(2)))
    val sd = ord.map(r => BigDecimal(r.getDecimal(3)))
    val tn = sn.sum; val td = sd.sum
    val ratio = tn.toDouble / td.toDouble
    // replicate ratios from EXACT leave-one-out decimal sums
    val dds = sd.map(s => (td - s).toDouble)
    val reps = sn.zip(dds).map { case (s, dd) => (tn - s).toDouble / dd }
    val bN = reps.length
    val rBar = reps.sum / bN
    val se = math.sqrt(
      (bN - 1.0) / bN * reps.map(r => (r - rBar) * (r - rBar)).sum)
    def stat(v: Double) =
      Option.when(td.toDouble > 0 && dds.forall(_ > 0))(v)
    Seq((n, buckets, stat(ratio), stat(se),
        stat(ratio - 1.959963984540054 * se),
        stat(ratio + 1.959963984540054 * se)))
      .toDF("n", "buckets", "ratio", "se", "ci_lo", "ci_hi")
  }

  /** Gini coefficient + top-share concentration of an INTEGER-valued
    * metric — "how concentrated is the mass" (doc-length mass per
    * document, events per user, bytes per source): the inequality
    * summary a corpus-mix audit quotes beside the margins. One row:
    * `(n, total, gini, top1_share, top10_share)` — Gini by the exact
    * rank formula G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n (ties handled by
    * block rank ranges, not averaged approximations), and the exact
    * value-mass share of the top ⌊n/100⌋ and ⌊n/10⌋ rows. NULL gini
    * when n < 2 or total ≤ 0.
    *
    * Determinism contract: values cast to LONG (pre-quantize fractional
    * metrics — exactness is the point), every moment is an exact
    * decimal(38,0) sum of integer products (an external engine mirrors
    * with 128-bit integers), so no float enters until the final three
    * ratios.
    *
    * Scale: ONE per-distinct-value count aggregation (value-bounded),
    * the shared deterministic-bucket exclusive cumsum for block rank
    * offsets, ONE final reduce. The rank formula needs no global sort
    * and no data-sized window; the top-share boundary blocks are
    * resolved per-block from the rank offset, not by a second pass. */
  def giniConcentration(df: DataFrame, valueCol: String): DataFrame = {
    val cells = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val (cum, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      cells, col("v"), Seq("c"), Seq("b"), persistInput = false)
    graft.ops.ScaleOps.releasing(cum) {
      val n = grand(0)
      val spark = df.sparkSession
      import spark.implicits._
      // shares = (gini, top1, top10) once the total mass is positive
      def out(total: Option[Long], shares: Option[(Double, Double, Double)]) =
        Seq((n, total, shares.map(_._1), shares.map(_._2), shares.map(_._3)))
          .toDF("n", "total", "gini", "top1_share", "top10_share")
      if (n < 2) return out(None, None)
      def dec(c: Column) = c.cast("decimal(38,0)")
      val vD = dec(col("v")); val cD = dec(col("c")); val bD = dec(col("b"))
      // Σ ranks of a tied block starting after b rows: c·b + c(c+1)/2 —
      // the halving lands on whichever of c / c+1 is even (shiftright
      // keeps it integer-exact; the decimal cast happens BEFORE the
      // products so nothing overflows long)
      val half = when(col("c") % 2 === 0,
          dec(shiftright(col("c"), 1)) * dec(col("c") + 1))
        .otherwise(dec(col("c")) * dec(shiftright(col("c") + 1, 1)))
      val w = cD * bD + half
      // bottom-r mass: blocks fully below contribute v·c, the boundary
      // block contributes v·(r − b) — resolved per block, no second scan
      def bottom(r: Long, name: String) =
        sum(when(col("b") + col("c") <= r, vD * cD)
          .when(col("b") < r, vD * dec(lit(r) - col("b")))
          .otherwise(dec(lit(0)))).as(name)
      val r1 = n - n / 100
      val r10 = n - n / 10
      val row = cum.agg(
          sum(vD * cD).as("__t"), sum(vD * w).as("__n"),
          bottom(r1, "__s1"), bottom(r10, "__s10"))
        .head()
      def bd(o: Int): BigDecimal =
        if (row.isNullAt(o)) BigDecimal(0) else BigDecimal(row.getDecimal(o))
      val t = bd(0); val num = bd(1)
      // exact integer subtraction first, ONE double division — the order
      // an external 128-bit-integer engine reproduces
      out(Some(t.toLong), Option.when(t > 0)((
        2.0 * num.toDouble / (n.toDouble * t.toDouble) - (n + 1.0) / n,
        (t - bd(2)).toDouble / t.toDouble,
        (t - bd(3)).toDouble / t.toDouble)))
    }
  }


  /** Two-sample Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric
    * LOCATION-shift drift test (KS asks "any shape change?"; U asks "did
    * the distribution slide up or down?", robust to outliers where a
    * t-test on means is not). Ties get average ranks with the standard
    * tie-corrected variance; no continuity correction (both engines
    * evaluate the identical formula). One row out:
    * `(n_a, n_b, u_a, u_b, u, z)` — `u = min(u_a, u_b)`, `z` the normal
    * approximation of `u_a` (|z| > 1.96 rejects "same location" at 5%;
    * exact tables belong at n < 20, below this operator's regime). NULL
    * `z` when either side is empty or all values tie (zero variance).
    *
    * Scale shape: identical to [[ksStatistic]] — per-side counts per
    * DISTINCT value, the shared deterministic-bucket cumsum for the
    * exclusive rank offset (avg rank of value v = before(v) + (cnt+1)/2,
    * a pure per-row expression over the cumsum frame), one final
    * aggregation. Footer-derived splits skip both the quantile pass and
    * the input cache exactly as KS does. */
  def mannWhitneyU(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    val (cum, na, nb, _) = graft.ops.ScaleOps.pooledValueCdf(a, b, column)
    val n = na + nb
    val cnt = col("n_a") + col("n_b")
    val avgRank = col("_ea") + col("_eb") + (cnt + 1) / lit(2.0)
    // rank sum in double is EXACT (half-integers are representable and
    // their sums stay representable below 2^52); the tie cubes go through
    // double because cnt³ crosses Long range at ~2M rows per value (ANSI
    // overflow would error) — the tie CORRECTION tolerates double rounding
    val cntD = cnt.cast("double")
    val agg = graft.ops.ScaleOps.releasing(cum) {
      cum.agg(
        sum(col("n_a") * avgRank).as("_ra"),
        sum(cntD * cntD * cntD - cntD).as("_ties"))
        .head()
    }
    val spark = a.sparkSession
    import spark.implicits._
    // (u_a, u_b, z) once both sides hold values
    val stats = Option.when(na > 0 && nb > 0 && n >= 2) {
      val ra = agg.getDouble(0)
      val ties = agg.getDouble(1)
      val ua = ra - na.toDouble * (na + 1) / 2.0
      val ub = na.toDouble * nb - ua
      val mu = na.toDouble * nb / 2.0
      val sigma2 = na.toDouble * nb / 12.0 *
        ((n + 1).toDouble - ties / (n.toDouble * (n - 1)))
      (ua, ub, Option.when(sigma2 > 0)((ua - mu) / math.sqrt(sigma2)))
    }
    Seq((na, nb, stats.map(_._1), stats.map(_._2),
        stats.map(s => math.min(s._1, s._2)), stats.flatMap(_._3)))
      .toDF("n_a", "n_b", "u_a", "u_b", "u", "z")
  }


  /** Distributed randomization test for a mean difference — the
    * assumption-free significance test: no normality, no variance
    * formula, just "how often does a random relabeling of the combined
    * sample produce a gap this large?". The relabeling is md5-SEEDED per
    * (seed, permutation, side, id) — fully deterministic, so any engine
    * reproduces the identical null distribution (no RNG state, the
    * [[graft.operators.Sampling]] convention). Each row relabels to group
    * "a" independently with probability nₐ/(nₐ+n_b) — an UNCONDITIONAL
    * randomization test whose expected split matches the observed design
    * (asymptotically the permutation null; a fair 1/2 coin would shrink
    * the null variance on unbalanced designs and go anti-conservative).
    * Exact-permutation semantics (group sizes fixed per relabeling) are
    * not expressible as a streamable per-row decision; the binomial size
    * wobble is O(1/√n) and vanishes at corpus scale. One row out: `(n_a, n_b,
    * observed, n_perms, n_ge, p_value)` with the add-one estimator
    * `p = (1 + #{perm : stat ≥ observed}) / (nPerms + 1)`. Stats compare
    * after a shared 9-dp round so a float-noise tie cannot flip the count
    * across engines. Permutations with an empty side (vanishingly rare
    * beyond toy sizes) drop out of `n_ge` on both engines.
    *
    * Scale: ONE scan of the combined sample exploded ×`nPerms` into a
    * partial-aggregated groupBy — shuffle volume is 2·nPerms aggregate
    * rows, never data-sized. The md5 assignment is a pure projection. */
  def permutationTestMeanDiff(a: DataFrame, b: DataFrame, idCol: String,
      valueCol: String, nPerms: Int = 200,
      seed: String = "pt"): DataFrame = {
    require(nPerms >= 1, s"nPerms must be >= 1: $nPerms")
    def side(df: DataFrame, tag: String) = df
      .select(col(idCol).cast("string").as("id"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("side", lit(tag))
    val comb = side(a, "a").unionByName(side(b, "b"))
    val obsRow = comb.agg(
      avg(when(col("side") === "a", col("v"))).as("ma"),
      avg(when(col("side") === "b", col("v"))).as("mb"),
      sum(when(col("side") === "a", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("side") === "b", 1L).otherwise(0L)).as("n_b")).head()
    val (na, nb) = (obsRow.getLong(2), obsRow.getLong(3))
    val spark = a.sparkSession
    if (na == 0 || nb == 0) {
      return spark.range(1).select(lit(na).as("n_a"), lit(nb).as("n_b"),
        lit(null).cast("double").as("observed"), lit(nPerms).as("n_perms"),
        lit(null).cast("long").as("n_ge"),
        lit(null).cast("double").as("p_value"))
    }
    val observed = math.abs(obsRow.getDouble(0) - obsRow.getDouble(1))
    // Relabeling coin WEIGHTED by the observed group sizes: a classic
    // permutation test conditions on the nₐ:n_b split, and an unbalanced
    // design (90:10) relabeled by a fair coin draws its null stats from
    // ~50:50 splits — the tightest-possible null variance, so p-values go
    // anti-conservative exactly when the design is unbalanced. Drawing
    // label "a" with probability nₐ/(nₐ+n_b) keeps the EXPECTED split at
    // the observed one (the asymptotically-correct randomization null).
    // Group sizes still vary binomially across relabelings — an
    // unconditional randomization test, not an exact permutation (stated
    // in the operator doc). u = first-8-hex-chars / 2^32, the q243
    // convention; both engines compare the identical exact double.
    val thresh = na.toDouble / (na + nb).toDouble
    val bit = conv(substring(md5(concat(lit(s"$seed:"),
      col("perm").cast("string"), lit(":"), col("side"), lit(":"),
      col("id"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0) < lit(thresh)
    val stats = comb
      .select(col("v"),
        explode(sequence(lit(1), lit(nPerms))).as("perm"),
        col("side"), col("id"))
      .select(col("v"), col("perm"), bit.as("g"))
      .groupBy(col("perm"))
      .agg((abs(avg(when(col("g"), col("v"))) -
        avg(when(!col("g"), col("v"))))).as("s"))
    stats.agg(
      sum(when(round(col("s"), 9) >= round(lit(observed), 9), 1L)
        .otherwise(0L)).cast("long").as("n_ge"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        lit(observed).as("observed"), lit(nPerms).as("n_perms"),
        col("n_ge"),
        ((col("n_ge") + 1).cast("double") / (nPerms + 1)).as("p_value"))
  }


  /** CUPED variance reduction (Deng et al. 2013) — the experimentation
    * staple: adjust a metric by a pre-period covariate
    * (`y_adj = y − θ(x − mean(x))`, θ = cov(x,y)/var(x)) and report how
    * much metric variance the covariate removes. A 40% `var_reduction`
    * means every downstream test needs ~40% less traffic for the same
    * power. One row out: `(n, theta, mean_metric, var_metric,
    * var_adjusted, var_reduction)` — the adjusted variance uses the exact
    * algebraic identity `var_y − cov²/var_x` (evaluated identically on
    * any engine; re-computing the variance of the adjusted series would
    * differ by accumulation order). NULL θ when the covariate is constant.
    * Complete-case: rows with NULL in either column are excluded.
    *
    * Scale: ONE count/avg/var/cov aggregation pass — all codegen'd
    * co-moment aggregates; nothing downstream is data-sized. */
  def cuped(df: DataFrame, covariateCol: String,
      metricCol: String): DataFrame = {
    val x = col(covariateCol).cast("double")
    val y = col(metricCol).cast("double")
    df.filter(x.isNotNull && y.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        var_samp(x).as("_vx"),
        var_samp(y).as("var_metric"),
        covar_samp(x, y).as("_cxy"),
        avg(y).as("mean_metric"))
      .select(col("n"),
        when(col("_vx") > 0, col("_cxy") / col("_vx")).as("theta"),
        col("mean_metric"), col("var_metric"),
        when(col("_vx") > 0,
          col("var_metric") - col("_cxy") * col("_cxy") / col("_vx"))
          .otherwise(col("var_metric")).as("var_adjusted"))
      .withColumn("var_reduction",
        when(col("var_metric") > 0,
          lit(1.0) - col("var_adjusted") / col("var_metric")))
  }


  /** Deterministic Poisson bootstrap confidence interval for a mean — the
    * distribution-free error bar for any corpus statistic. Classic
    * bootstrap resampling needs a global multinomial draw (unscalable and
    * RNG-stateful); the Poisson(1) approximation gives every row an
    * independent md5-derived weight per replicate — streamable, shardable,
    * and bit-reproducible on any engine (the same inverse-CDF table from
    * the same hash). One row out: `(n, mean, boot_reps, ci_lo, ci_hi)` —
    * the percentile interval at `level` over the replicate means.
    * Replicates whose total weight is 0 (probability e^{−n} — only toy
    * inputs) drop out on both engines.
    *
    * Scale: one scan exploded ×`reps` into a partial-aggregated groupBy
    * (shuffle = `reps` aggregate rows); the percentile reduces over the
    * reps-bounded replicate table. */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valueCol: String,
      reps: Int = 200, level: Double = 0.95,
      seed: String = "bs"): DataFrame = {
    require(reps >= 1, s"reps must be >= 1: $reps")
    require(level > 0 && level < 1, s"level must be in (0,1): $level")
    val base = df
      .select(col(idCol).cast("string").as("id"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    // u = first-8-hex-chars / 2^32 ∈ [0,1); Poisson(1) inverse CDF, capped
    // at 5 (P(X>5) ≈ 0.06%) — the SAME table evaluates in the oracle
    val u = conv(substring(md5(concat(lit(s"$seed:"),
      col("rep").cast("string"), lit(":"), col("id"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238463, 3L)
      .when(u < 0.9963401531726563, 4L)
      .otherwise(5L)
    val repMeans = base
      .select(col("v"), explode(sequence(lit(1), lit(reps))).as("rep"),
        col("id"))
      .select(col("v"), col("rep"), w.as("w"))
      .groupBy(col("rep"))
      .agg((sum(col("w") * col("v")) / sum(col("w"))).as("m"))
      .filter(col("m").isNotNull)
    val alpha = (1 - level) / 2
    val ci = repMeans.agg(
      percentile(col("m"), lit(alpha)).as("ci_lo"),
      percentile(col("m"), lit(1 - alpha)).as("ci_hi"))
    val stats = base.agg(count(lit(1)).as("n"), avg(col("v")).as("mean"))
    stats.crossJoin(broadcast(ci))
      .select(col("n"), col("mean"), lit(reps).as("boot_reps"),
        col("ci_lo"), col("ci_hi"))
  }


  /** Two-proportion z-test between slices — "did the success rate move?"
    * for conversion/error/violation rates, the categorical complement of
    * [[mannWhitneyU]]. `successCol` must be boolean(-castable). One row:
    * `(n_a, k_a, n_b, k_b, rate_a, rate_b, diff, z, wilson_lo_a,
    * wilson_hi_a, wilson_lo_b, wilson_hi_b)` — pooled-variance z for the
    * difference, Wilson 95% score intervals per side (the interval that
    * behaves at rates near 0/1, unlike the Wald ±1.96√pq/n). NULL z when
    * the pooled rate is degenerate (0 or 1: zero variance).
    *
    * Scale: one count/sum aggregation per side; everything downstream is
    * two scalar rows. */
  def proportionZTest(a: DataFrame, b: DataFrame,
      successCol: String): DataFrame = {
    def side(df: DataFrame, n: String, k: String) = df
      .filter(col(successCol).isNotNull)
      .agg(count(lit(1)).as(n),
        sum(col(successCol).cast("boolean").cast("long")).as(k))
    val j = side(a, "n_a", "k_a").crossJoin(side(b, "n_b", "k_b"))
    val (na, ka) = (col("n_a").cast("double"), col("k_a").cast("double"))
    val (nb, kb) = (col("n_b").cast("double"), col("k_b").cast("double"))
    val pa = ka / na
    val pb = kb / nb
    val pool = (ka + kb) / (na + nb)
    val se = sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / na + lit(1.0) / nb))
    val zc = lit(1.959963984540054) // Φ⁻¹(0.975), both engines as a literal
    def wilson(p: Column, n: Column, up: Boolean): Column = {
      val center = p + zc * zc / (n * 2)
      val spread = zc * sqrt(p * (lit(1.0) - p) / n + zc * zc / (n * n * 4))
      val denom = lit(1.0) + zc * zc / n
      if (up) (center + spread) / denom else (center - spread) / denom
    }
    j.select(
      col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      pa.as("rate_a"), pb.as("rate_b"), (pa - pb).as("diff"),
      when(pool > 0 && pool < 1, (pa - pb) / se).as("z"),
      wilson(pa, na, up = false).as("wilson_lo_a"),
      wilson(pa, na, up = true).as("wilson_hi_a"),
      wilson(pb, nb, up = false).as("wilson_lo_b"),
      wilson(pb, nb, up = true).as("wilson_hi_b"))
  }


  /** Welch's two-sample t-test — the unequal-variance mean comparison
    * (Student's pooled t assumes equal variances; two corpus slices never
    * oblige). One row out: `(n_a, n_b, mean_a, mean_b, t, df, cohens_d)` —
    * Welch t with the Satterthwaite degrees of freedom and the
    * pooled-variance Cohen's d effect size (the magnitude a significance
    * bit can't carry). NULL t/df when either side has n < 2 or both
    * variances are 0; NULL d when the pooled variance is 0. Complete-case:
    * NULL values drop per side.
    *
    * Scale: ONE count/sum/sum-of-squares aggregation per side — codegen'd
    * sums; everything downstream is two scalar rows combined on the
    * driver. */
  def welchTTest(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    val (na, sa, qa) = sideMoments(a, column)
    val (nb, sb, qb) = sideMoments(b, column)
    val spark = a.sparkSession
    import spark.implicits._
    val (ma, mb) = (sa / na, sb / nb)
    val va = (qa - sa * sa / na) / (na - 1)
    val vb = (qb - sb * sb / nb) / (nb - 1)
    val (wa, wb) = (va / na, vb / nb)
    val se2 = wa + wb
    val ok = na >= 2 && nb >= 2
    val sp2 = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2).toDouble
    Seq((na, nb, Option.when(na > 0)(ma), Option.when(nb > 0)(mb),
        Option.when(ok && se2 > 0)((ma - mb) / math.sqrt(se2)),
        Option.when(ok && se2 > 0)(
          se2 * se2 / (wa * wa / (na - 1) + wb * wb / (nb - 1))),
        Option.when(ok && sp2 > 0)((ma - mb) / math.sqrt(sp2))))
      .toDF("n_a", "n_b", "mean_a", "mean_b", "t", "df", "cohens_d")
  }

  /** One side's `(n, Σv, Σv²)` over the non-null values of `column` (the
    * sums read 0 when n = 0) — the moment pass of the two-sample tests.
    * Moments, not var_samp: Σv and Σv² are EXACT for integer-valued data
    * (< 2^53), so mean and variance derive from the identical closed
    * formula on any engine — var_samp's partial-merge accumulation order
    * is not cross-engine reproducible at the rounding precision. */
  private def sideMoments(df: DataFrame,
      column: String): (Long, Double, Double) = {
    val r = df.select(col(column).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("q"))
      .head()
    def d(o: Int) = if (r.isNullAt(o)) 0.0 else r.getDouble(o)
    (r.getLong(0), d(1), d(2))
  }

  /** The complete-case `(g, v)` rows of the k-group tests: `groupCol`
    * cast to string, `valueCol` to double, rows with either NULL dropped. */
  private def groupValues(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = df
    .select(col(groupCol).cast("string").as("g"),
      col(valueCol).cast("double").as("v"))
    .filter(col("g").isNotNull && col("v").isNotNull)

  /** Per group of a [[graft.ops.ScaleOps.groupValueRanks]] table:
    * `(g, ng, rg, tg)` = count, rank sum and tie mass Σ(t²−1)·c. */
  private def groupRankSums(ranked: DataFrame): DataFrame = ranked
    .groupBy(col("g"))
    .agg(sum(col("c")).as("ng"), sum(col("c") * col("_r")).as("rg"),
      sum((col("_t") * col("_t") - 1) * col("c")).as("tg"))

  /** Per-group `(g, ng, s, q)` = (label, count, Σv, Σv²) of `valueCol`
    * by the string-cast `groupCol`, complete cases only — the one moment
    * pass of the k-group tests (a partial aggregation, so the shuffle is
    * bounded by the group count). */
  private def groupMoments(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = groupValues(df, groupCol, valueCol)
    .groupBy(col("g"))
    .agg(count(lit(1)).as("ng"), sum(col("v")).as("s"),
      sum(col("v") * col("v")).as("q"))


  /** One-way ANOVA F — "do these k slices share a mean?" for k > 2 (the
    * k-group generalization of the t-test; [[kruskalWallis]] is its
    * rank-based sibling for non-normal data). One row out:
    * `(n, k, ss_between, ss_within, f)` with
    * F = (SSB/(k−1)) / (SSW/(n−k)). NULL f for degenerate designs (k < 2,
    * n ≤ k, or zero within-group variance). Complete-case on both columns.
    *
    * Scale: per-group (sum, sumsq, count) moments — one partial-aggregated
    * shuffle bounded by the group count — then a one-row scalar reduce.
    * The sums of squares use the moment identities
    * SSW = Σ_g (Σx² − (Σx)²/n_g) and SSB = Σ_g (Σx)²/n_g − (Σx)²/n, which
    * are exact (no subtraction of near-equal grand means per row) and
    * evaluate identically on any engine for integer-valued data. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val row = groupMoments(df, groupCol, valueCol).agg(
      sum(col("ng")).as("n"), count(lit(1)).as("k"),
      sum(col("s") * col("s") / col("ng")).as("_sg"),
      sum(col("s")).as("_st"), sum(col("q")).as("_qt"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (row.isNullAt(0)) 0L else row.getLong(0)
    val k = row.getLong(1)
    // (ss_between, ss_within) once any value is present
    val ss = Option.when(n > 0) {
      val sg = row.getDouble(2); val st = row.getDouble(3)
      (sg - st * st / n, row.getDouble(4) - sg)
    }
    val f = ss.collect { case (ssb, ssw) if k >= 2 && n > k && ssw > 0 =>
      (ssb / (k - 1)) / (ssw / (n - k)) }
    Seq((n, k, ss.map(_._1), ss.map(_._2), f))
      .toDF("n", "k", "ss_between", "ss_within", "f")
  }


  /** Welch's heteroscedastic one-way ANOVA — [[anovaF]] without the
    * equal-variance assumption (the robust default when group variances
    * differ, which corpus slices usually do): weights w_i = n_i/s_i²,
    * F* = [Σw_i(m_i − m̄)²/(k−1)] / [1 + 2(k−2)/(k²−1)·H] with
    * H = Σ(1 − w_i/W)²/(n_i − 1) and the Welch–Satterthwaite
    * denominator df₂ = (k²−1)/(3H) (Welch 1951). One row:
    * `(n, k, f, df1, df2)` — no p-value (the F survival needs the
    * incomplete beta, which is not SQL-replayable; the [[anovaF]]
    * convention). NULL f/df2 when k < 2, any group has n < 2, or any
    * group variance is 0 (weights undefined). Complete-case.
    *
    * Scale: ONE per-group (count, Σv, Σv²) moment pass — partial
    * aggregation bounds the shuffle by the group count — then scalar
    * algebra over the k-bounded collected group table (sorted by group
    * label: a deterministic driver sum order). */
  def welchAnova(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val byG = groupMoments(df, groupCol, valueCol)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val spark = df.sparkSession
    import spark.implicits._
    val n = byG.map(_._2).sum
    val k = byG.length
    val stats = byG.map { case (_, ng, s, q) =>
      val m = s / ng
      val v = (q - s * s / ng) / (ng - 1)
      (ng.toDouble, m, v)
    }
    // (f, df2) when every group has n ≥ 2 and a positive variance
    val fit = Option.when(k >= 2 && !byG.exists(_._2 < 2) &&
        !stats.exists(_._3 <= 0)) {
      val wi = stats.map { case (ng, _, v) => ng / v }
      val ww = wi.sum
      val mbar = wi.zip(stats).map { case (w, (_, m, _)) => w * m }.sum / ww
      val a = wi.zip(stats).map { case (w, (_, m, _)) =>
        w * (m - mbar) * (m - mbar) }.sum / (k - 1)
      val h = wi.zip(stats).map { case (w, (ng, _, _)) =>
        (1 - w / ww) * (1 - w / ww) / (ng - 1) }.sum
      (a / (1 + 2.0 * (k - 2) / (k.toDouble * k - 1) * h),
        (k.toDouble * k - 1) / (3 * h))
    }
    Seq((n, k.toLong, fit.map(_._1), math.max(k - 1, 0).toLong,
        fit.map(_._2)))
      .toDF("n", "k", "f", "df1", "df2")
  }


  /** Intraclass correlation ICC(1) — how much of a metric's variance is
    * BETWEEN groups ("are docs from the same source basically clones of
    * each other?"): the one-way random-effects estimate
    * (MS_between − MS_within) / (MS_between + (k₀−1)·MS_within) with
    * k₀ the unbalanced-design average group size
    * (n − Σnᵢ²/n)/(k−1). ICC near 1 means sampling whole groups buys
    * almost no diversity — the design-effect number behind cluster
    * sampling and dedup-aware mixture design. One row:
    * `(n, k, k0, ms_between, ms_within, icc1)`; NULL when fewer than 2
    * groups or zero within-variance.
    *
    * Scale: the [[anovaF]] single moment pass plus Σnᵢ² from the same
    * group-bounded table. */
  def icc1(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val row = groupMoments(df, groupCol, valueCol).agg(
      sum(col("ng")).as("n"), count(lit(1)).as("k"),
      sum(col("s") * col("s") / col("ng")).as("_sg"),
      sum(col("s")).as("_st"), sum(col("q")).as("_qt"),
      sum(col("ng").cast("double") * col("ng")).as("_n2"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (row.isNullAt(0)) 0L else row.getLong(0)
    val k = row.getLong(1)
    // (k0, ms_between, ms_within) when k ≥ 2 and n > k
    val ms = Option.when(n > 0 && k >= 2 && n > k) {
      val sg = row.getDouble(2); val st = row.getDouble(3)
      ((n - row.getDouble(5) / n) / (k - 1), (sg - st * st / n) / (k - 1),
        (row.getDouble(4) - sg) / (n - k))
    }
    val icc = ms.collect { case (k0, msb, msw)
        if msb + (k0 - 1) * msw > 0 =>
      (msb - msw) / (msb + (k0 - 1) * msw) }
    Seq((n, k, ms.map(_._1), ms.map(_._2), ms.map(_._3), icc))
      .toDF("n", "k", "k0", "ms_between", "ms_within", "icc1")
  }


  /** Brown–Forsythe variance-homogeneity test — the assumption check that
    * gates [[anovaF]] (F compares means ASSUMING equal spread; a slice
    * with 10× the variance silently breaks it) and a drift signal in its
    * own right ("the mean held but the spread exploded"). The robust
    * Levene variant: ANOVA F computed on |x − median_g| — one row, the
    * [[anovaF]] output shape on the absolute deviations. For
    * integer-valued data the group medians (exact percentiles) and the
    * deviation moments are bit-reproducible across engines.
    *
    * Scale: per-group exact medians (group-bounded aggregation), one
    * broadcast join back, then the [[anovaF]] moment pass — two scans. */
  def brownForsythe(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = groupValues(df, groupCol, valueCol)
    val med = base.groupBy(col("g"))
      .agg(percentile(col("v"), lit(0.5)).as("__m"))
    anovaF(base.join(broadcast(med), Seq("g"))
      .select(col("g"), abs(col("v") - col("__m")).as("z")), "g", "z")
  }


  /** Kruskal–Wallis H — the k-group rank test ([[anovaF]] without the
    * normality assumption; the k-group generalization of
    * [[mannWhitneyU]]): "do these k slices share a location?" on ranks,
    * robust to outliers and any monotone transform. One row out:
    * `(n, k, h, tie_correction)` — H with the standard tie correction
    * C = 1 − Σ(t³−t)/(n³−n); under H₀, H ~ χ²(k−1). NULL h when k < 2 or
    * every value ties (C = 0).
    *
    * Scale: the [[mannWhitneyU]] rank shape generalized per group —
    * per-(group, value) counts (one partial-aggregated shuffle), global
    * per-value counts + the shared deterministic-bucket cumsum for
    * average ranks, one value-keyed join back to the group×value table,
    * one scalar reduce. Rank sums are half-integer-exact in double; the
    * tie mass rides the same join as (t²−1)·c_gv (exact — avoids summing
    * t³ once per group sharing the value). */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val (ranked, grand) = graft.ops.ScaleOps.groupValueRanks(
      groupValues(df, groupCol, valueCol))
    val n = grand.head
    val row = graft.ops.ScaleOps.releasing(ranked) {
      groupRankSums(ranked)
        .agg(count(lit(1)).as("k"),
          sum(col("rg") * col("rg") / col("ng")).as("_sr"),
          sum(col("tg")).as("_ties"))
        .head()
    }
    val spark = df.sparkSession
    import spark.implicits._
    val k = if (row.isNullAt(0)) 0L else row.getLong(0)
    val nD = n.toDouble
    // (h, tie_correction) once n ≥ 2 and k ≥ 2
    val stats = Option.when(n >= 2 && k >= 2) {
      val c = 1.0 - row.getDouble(2) / (nD * nD * nD - nD)
      val hRaw = 12.0 / (nD * (nD + 1)) * row.getDouble(1) - 3.0 * (nD + 1)
      (Option.when(c > 0)(hRaw / c), c)
    }
    Seq((n, k, stats.flatMap(_._1), stats.map(_._2)))
      .toDF("n", "k", "h", "tie_correction")
  }


  /** Dunn's post-hoc pairwise rank comparison — AFTER [[kruskalWallis]]
    * rejects, WHICH pairs of groups differ? For each unordered group
    * pair: z = (R̄_a − R̄_b) / √(σ²(1/n_a + 1/n_b)) with the tie-corrected
    * rank variance σ² = (N(N+1) − Σ(t³−t)/(N−1))/12, two-sided p from
    * the shared A&S normal survival ([[normalSfAS]] — replayable verbatim
    * in oracle SQL), and the Holm step-down adjustment ACROSS the
    * k(k−1)/2 pairs (the family the post-hoc creates). One row per pair,
    * `group_a < group_b` lexicographically:
    * `(group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b, z, p_value,
    * p_holm)`; NULL z/p when σ² = 0 (every value tied). Complete-case.
    *
    * Scale: the [[kruskalWallis]] rank plan verbatim — per-(group, value)
    * counts, the shared distributed cumsum for average ranks, one
    * group-keyed reduce — then all pair algebra on the k-bounded
    * collected group table (`maxGroups` guards the k² driver loop). */
  def dunnTest(df: DataFrame, groupCol: String, valueCol: String,
      maxGroups: Int = 1000): DataFrame = {
    val (ranked, grand) = graft.ops.ScaleOps.groupValueRanks(
      groupValues(df, groupCol, valueCol))
    val n = grand.head
    val gstats = graft.ops.ScaleOps.releasing(ranked) {
      groupRankSums(ranked).collect()
    }.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    require(gstats.length <= maxGroups,
      s"dunnTest: ${gstats.length} groups exceed maxGroups $maxGroups — " +
        "a k² post-hoc over that many groups is not a pairwise report")
    val spark = df.sparkSession
    import spark.implicits._
    if (gstats.length < 2) {
      return Seq.empty[(String, String, Long, Long, Double, Double,
          Option[Double], Option[Double], Option[Double])]
        .toDF("group_a", "group_b", "n_a", "n_b", "mean_rank_a",
          "mean_rank_b", "z", "p_value", "p_holm")
    }
    val nD = n.toDouble
    val ties = gstats.map(_._4).sum // Σ(t³−t), each value's groups sum to t
    val sigma2 = (nD * (nD + 1) - ties / (nD - 1)) / 12.0
    val pairs = for {
      i <- gstats.indices
      j <- (i + 1) until gstats.length
    } yield {
      val (ga, na, ra, _) = gstats(i)
      val (gb, nb, rb, _) = gstats(j)
      val z: Option[Double] =
        if (sigma2 > 0)
          Some((ra / na - rb / nb) / math.sqrt(sigma2 * (1.0 / na + 1.0 / nb)))
        else None
      (ga, gb, na, nb, ra / na, rb / nb, z,
        z.map(x => math.min(1.0, 2.0 * normalSfAS(math.abs(x)))))
    }
    // Holm step-down across the pair family (bounded driver loop)
    val m = pairs.length
    val order = pairs.zipWithIndex
      .sortBy { case (p, _) => p._8.getOrElse(Double.PositiveInfinity) }
    val holm = new Array[Option[Double]](m)
    var runMax = 0.0
    order.zipWithIndex.foreach { case ((p, idx), rank) =>
      holm(idx) = p._8.map { pv =>
        runMax = math.max(runMax, (m - rank) * pv)
        math.min(1.0, runMax)
      }
    }
    pairs.zipWithIndex.map { case ((ga, gb, na, nb, ra, rb, z, p), idx) =>
      (ga, gb, na, nb, ra, rb, z, p, holm(idx))
    }.toDF("group_a", "group_b", "n_a", "n_b", "mean_rank_a",
      "mean_rank_b", "z", "p_value", "p_holm")
  }


  /** Jonckheere–Terpstra ordered-alternatives trend test — "do these k
    * ORDERED groups trend?" ([[kruskalWallis]] asks "any difference?";
    * JT asks for a monotone location trend along `groupOrder` — dose
    * levels, cohort weeks, quality tiers — and has far more power when
    * order is the hypothesis). J* = Σ_{a<b} [#(x_a < x_b) + ½#(x_a = x_b)]
    * over ordered group pairs, with the tie-corrected normal
    * approximation (Hollander & Wolfe):
    * Var = A/72 + B/(36N(N−1)(N−2)) + C/(8N(N−1)) where
    * A = N(N−1)(2N+5) − Σnᵢ(nᵢ−1)(2nᵢ+5) − Σt(t−1)(2t+5),
    * B = Σnᵢ(nᵢ−1)(nᵢ−2)·Σt(t−1)(t−2), C = Σnᵢ(nᵢ−1)·Σt(t−1).
    * One row: `(n, k, j_stat, mean_j, var_j, z, p_value)` with the
    * two-sided p from the shared [[normalSfAS]]; NULL z/p when k < 2 or
    * Var ≤ 0 (all values tied). `groupOrder` empty → observed groups in
    * lexicographic order. Complete-case.
    *
    * Scale: per-(group, value) counts pivot to k count columns on the
    * distinct-value table (k is bounded — `maxGroups` guards), ONE
    * multi-column distributed cumsum gives every group's
    * exclusive-below-v count ([[graft.ops.ScaleOps.withExclusiveRunningSums]]
    * — its totals pass also yields the group sizes), and J, the tie
    * masses and all variance ingredients reduce in ONE aggregate. No
    * pair join, no unkeyed window — the k² pair structure collapses into
    * per-value column algebra. */
  def jonckheereTerpstra(df: DataFrame, groupCol: String, valueCol: String,
      groupOrder: Seq[String] = Seq.empty, maxGroups: Int = 100): DataFrame = {
    val gv = groupValues(df, groupCol, valueCol)
    val groups: Seq[String] =
      if (groupOrder.nonEmpty) groupOrder
      else gv.select(col("g")).distinct().collect().map(_.getString(0))
        .sorted.toSeq
    require(groups.size <= maxGroups,
      s"jonckheereTerpstra: ${groups.size} groups exceed maxGroups $maxGroups")
    require(groups.distinct.size == groups.size,
      s"groupOrder has duplicates: $groupOrder")
    val spark = df.sparkSession
    import spark.implicits._
    val k = groups.size
    // stats = (j_stat, mean_j, var_j) once any value is present
    def out(n: Long, stats: Option[(Double, Double, Option[Double])]) = {
      val z = for ((j, meanJ, varJ) <- stats; v <- varJ)
        yield (j - meanJ) / math.sqrt(v)
      Seq((n, k.toLong, stats.map(_._1), stats.map(_._2),
          stats.flatMap(_._3), z,
          z.map(x => math.min(1.0, 2.0 * normalSfAS(math.abs(x))))))
        .toDF("n", "k", "j_stat", "mean_j", "var_j", "z", "p_value")
    }
    if (k == 0) return out(0L, None)
    if (groupOrder.nonEmpty) {
      val observed = gv.select(col("g")).distinct().collect()
        .map(_.getString(0)).toSet
      val unknown = observed -- groups.toSet
      require(unknown.isEmpty,
        s"groups not in groupOrder: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // the bounded group list pivots to k per-value count columns
    val (cum, grand) = graft.ops.ScaleOps.groupValueRanks(gv, groups)
    val cntCols = groups.indices.map(i => s"_c$i")
    val exCols = groups.indices.map(i => s"_e$i")
    val n = grand.sum
    // J and tie masses in ONE reduce over the distinct-value table:
    // each later group b contributes c_b·Σ_{a<b}(e_a + c_a/2) at every v
    val jExpr = (1 until k).map { b =>
      val inner = (0 until b).map(a =>
        col(exCols(a)).cast("double") + col(cntCols(a)) / lit(2.0))
        .reduce(_ + _)
      col(cntCols(b)) * inner
    }.reduceOption[Column](_ + _).getOrElse(lit(0.0))
    val t = cntCols.map(col(_).cast("double")).reduce(_ + _)
    val row = graft.ops.ScaleOps.releasing(cum) {
      cum.agg(
          sum(jExpr).as("j"),
          sum(t * (t - 1) * (t * 2 + 5)).as("t1"),
          sum(t * (t - 1) * (t - 2)).as("t2"),
          sum(t * (t - 1)).as("t3"))
        .head()
    }
    if (n == 0 || row.isNullAt(0)) return out(n, None)
    val j = row.getDouble(0)
    val (t1, t2, t3) = (row.getDouble(1), row.getDouble(2), row.getDouble(3))
    val nD = n.toDouble
    val ns = grand.map(_.toDouble)
    val meanJ = (nD * nD - ns.map(x => x * x).sum) / 4.0
    val varJ: Option[Double] = if (k >= 2 && n >= 3) {
      val a = nD * (nD - 1) * (2 * nD + 5) -
        ns.map(x => x * (x - 1) * (2 * x + 5)).sum - t1
      val b = ns.map(x => x * (x - 1) * (x - 2)).sum * t2
      val c = ns.map(x => x * (x - 1)).sum * t3
      val v = a / 72.0 + b / (36.0 * nD * (nD - 1) * (nD - 2)) +
        c / (8.0 * nD * (nD - 1))
      if (v > 0) Some(v) else None
    } else None
    out(n, Some((j, meanJ, varJ)))
  }


  /** Cliff's delta — the ORDINAL effect size companion to
    * [[mannWhitneyU]]: δ = (#(x>y) − #(x<y)) / (nₐ·n_b) over all cross
    * pairs, the probability a random a-value exceeds a random b-value
    * minus the reverse. U answers "is there a shift?"; δ answers "how
    * big, on a scale a human can read" ([−1, 1]; |δ| < .147 negligible
    * by the conventional bands) with no normality or variance
    * assumption. Also reports the probability of superiority
    * P(X>Y) + P(X=Y)/2 (the common-language effect size, = AUC of a
    * rank classifier). One row: `(n_a, n_b, gt, lt, ties, delta,
    * p_superiority)`; NULLs when either side is empty.
    *
    * Scale: the [[mannWhitneyU]] plan — per-DISTINCT-value counts from
    * both sides (partial-aggregated, value-bounded), the shared
    * deterministic-bucket exclusive cumsum for "how many b-values lie
    * strictly below v", one reduce. Pair counts go through double (they
    * cross Long at ~3M×3M rows); they are exact integers below 2^53. */
  def cliffsDelta(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    val (cum, na, nb, _) = graft.ops.ScaleOps.pooledValueCdf(a, b, column)
    val agg = graft.ops.ScaleOps.releasing(cum) {
      cum.agg(
        sum(col("n_a").cast("double") * col("_eb")).as("_gt"),
        sum(col("n_b").cast("double") * col("_ea")).as("_lt"),
        sum(col("n_a").cast("double") * col("n_b")).as("_ties"))
        .head()
    }
    val spark = a.sparkSession
    import spark.implicits._
    // (gt, lt, ties) once both sides hold values
    val c = Option.when(na > 0 && nb > 0)(
      (agg.getDouble(0), agg.getDouble(1), agg.getDouble(2)))
    val pairs = na.toDouble * nb.toDouble
    Seq((na, nb, c.map(_._1), c.map(_._2), c.map(_._3),
        c.map { case (gt, lt, _) => (gt - lt) / pairs },
        c.map { case (gt, _, ties) => (gt + 0.5 * ties) / pairs }))
      .toDF("n_a", "n_b", "gt", "lt", "ties", "delta", "p_superiority")
  }


  /** Wilcoxon signed-rank test — the PAIRED companion of
    * [[mannWhitneyU]]: before/after metrics on the SAME key (doc length
    * before/after cleaning, per-user spend H1 vs H2) violate the
    * independent-samples assumption; the signed-rank statistic tests the
    * median of the paired differences instead. Zero differences drop
    * (the standard Wilcoxon convention), |d| gets average ranks over
    * ties, W⁺ = Σ ranks of positive differences, and z uses the
    * tie-corrected normal approximation
    * (σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48). One row:
    * `(n_pairs, n_nonzero, w_plus, w_minus, z)`; NULL z when every
    * difference is 0 or the variance vanishes.
    *
    * Scale: one scan to the per-DISTINCT-|d| count table (with its
    * positive-side split), the shared deterministic-bucket cumsum for
    * rank offsets, one reduce — the [[mannWhitneyU]] plan on |d|. */
  def wilcoxonSignedRank(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val pairs = df
      .select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val nPairs = pairs.count()
    val byAbs = pairs
      .select((col("x") - col("y")).as("d"))
      .filter(col("d") =!= 0.0)
      .groupBy(abs(col("d")).as("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
    val (cum, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      byAbs, col("v"), Seq("cnt"), Seq("_before"))
    graft.ops.ScaleOps.releasing(cum) {
      val n = grand.head
      val spark = df.sparkSession
      import spark.implicits._
      // w = (w_plus, w_minus, z) once a difference is non-zero
      def out(w: Option[(Double, Double, Option[Double])]) =
        Seq((nPairs, n, w.map(_._1), w.map(_._2), w.flatMap(_._3)))
          .toDF("n_pairs", "n_nonzero", "w_plus", "w_minus", "z")
      if (n == 0) return out(None)
      val avgRank = col("_before") + (col("cnt") + 1) / lit(2.0)
      val cntD = col("cnt").cast("double")
      val agg = cum.agg(
        sum(col("pos") * avgRank).as("_wp"),
        sum(cntD * cntD * cntD - cntD).as("_ties"))
        .head()
      val wp = agg.getDouble(0)
      val ties = agg.getDouble(1)
      val nD = n.toDouble
      val wm = nD * (nD + 1) / 2 - wp
      val mu = nD * (nD + 1) / 4
      val sigma2 = nD * (nD + 1) * (2 * nD + 1) / 24 - ties / 48
      out(Some((wp, wm,
        Option.when(sigma2 > 0)((wp - mu) / math.sqrt(sigma2)))))
    }
  }


  /** Proportion effect-size panel — what [[proportionZTest]]'s z does NOT
    * say: how BIG the gap is, on the three scales decisions are made on.
    * Risk ratio with its log-space Wald CI (the epidemiology/experiment
    * readout), odds ratio with the Woolf CI (the logistic-regression
    * scale), risk difference with its Wald CI (absolute percentage
    * points), and Cohen's h (the arcsine-stabilized effect size whose
    * magnitude bands don't depend on the base rate). One row:
    * `(n_a, k_a, n_b, k_b, p_a, p_b, risk_ratio, rr_lo, rr_hi,
    * odds_ratio, or_lo, or_hi, risk_diff, rd_lo, rd_hi, cohens_h)`;
    * ratio CIs NULL when any contributing cell is 0 (the Wald/Woolf
    * standard errors divide by every cell).
    *
    * Scale: one count-aggregation per side, scalar algebra in the plan —
    * the [[proportionZTest]] shape. */
  def proportionEffects(a: DataFrame, b: DataFrame,
      successCol: String): DataFrame = {
    def side(df: DataFrame, n: String, k: String) = df
      .filter(col(successCol).isNotNull)
      .agg(count(lit(1)).as(n),
        sum(when(col(successCol).cast("boolean"), 1L).otherwise(0L)).as(k))
    val zc = lit(1.959963984540054) // Φ⁻¹(0.975), both engines as a literal
    val j = side(a, "n_a", "k_a").crossJoin(broadcast(side(b, "n_b", "k_b")))
    val (n1, k1) = (col("n_a").cast("double"), col("k_a").cast("double"))
    val (n2, k2) = (col("n_b").cast("double"), col("k_b").cast("double"))
    val p1 = k1 / n1; val p2 = k2 / n2
    val rr = p1 / p2
    val one = lit(1.0)
    val rrSe = sqrt(one / k1 - one / n1 + one / k2 - one / n2)
    val orr = (k1 * (n2 - k2)) / (k2 * (n1 - k1))
    val orSe = sqrt(one / k1 + one / (n1 - k1) + one / k2 + one / (n2 - k2))
    val rd = p1 - p2
    val rdSe = sqrt(p1 * (one - p1) / n1 + p2 * (one - p2) / n2)
    val ratioOk = col("k_a") > 0 && col("k_b") > 0
    val orOk = ratioOk && col("k_a") < col("n_a") && col("k_b") < col("n_b")
    j.filter(col("n_a") > 0 && col("n_b") > 0).select(
      col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      p1.as("p_a"), p2.as("p_b"),
      when(col("k_b") > 0, rr).as("risk_ratio"),
      when(ratioOk, exp(log(rr) - zc * rrSe)).as("rr_lo"),
      when(ratioOk, exp(log(rr) + zc * rrSe)).as("rr_hi"),
      when(orOk, orr).as("odds_ratio"),
      when(orOk, exp(log(orr) - zc * orSe)).as("or_lo"),
      when(orOk, exp(log(orr) + zc * orSe)).as("or_hi"),
      rd.as("risk_diff"),
      (rd - zc * rdSe).as("rd_lo"),
      (rd + zc * rdSe).as("rd_hi"),
      (lit(2.0) * asin(sqrt(p1)) - lit(2.0) * asin(sqrt(p2))).as("cohens_h"))
  }


  /** D'Agostino–Pearson K² omnibus normality test — "is this column
    * normal enough for the z-score/CUPED/t-machinery?" answered from ONE
    * moment pass: the skewness z (D'Agostino 1970 transform), the
    * kurtosis z (Anscombe–Glynn 1983), and K² = z₁² + z₂² ~ χ²(2) whose
    * survival is the CLOSED FORM exp(−K²/2) — no incomplete-gamma,
    * identical on every engine. One row: `(n, g1, b2, z_skew, z_kurt,
    * k2, p_value)`; NULLs when n < 9 (the transforms' small-sample
    * domain) or the column is constant.
    *
    * Scale: one partial-aggregated scan for (n, Σx, Σx², Σx³, Σx⁴); all
    * remaining algebra is scalar on the driver (the head()-then-literals
    * pattern — nothing distributed left to do). Central moments come
    * from raw power sums; fine for columns whose mean/σ ratio is
    * moderate (profile-scale features — lengths, scores, rates). */
  def dagostinoK2(df: DataFrame, column: String): DataFrame = {
    val x = col(column).cast("double")
    val row = df.filter(x.isNotNull)
      .agg(count(lit(1)).as("n"), sum(x).as("s1"),
        sum(x * x).as("s2"), sum(x * x * x).as("s3"),
        sum(x * x * x * x).as("s4"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = row.getLong(0)
    // (g1, b2, z_skew, z_kurt, k2) for n ≥ 9 and a non-constant column
    val stats = if (n < 9) None else {
      val nd = n.toDouble
      val s1 = row.getDouble(1); val s2 = row.getDouble(2)
      val s3 = row.getDouble(3); val s4 = row.getDouble(4)
      val m = s1 / nd
      val m2 = s2 / nd - m * m
      Option.when(!(m2 <= 0)) {
        val m3 = (s3 - 3 * m * s2 + 2 * nd * m * m * m) / nd
        val m4 = (s4 - 4 * m * s3 + 6 * m * m * s2 - 3 * nd * m * m * m * m) / nd
        val g1 = m3 / math.pow(m2, 1.5)
        val b2 = m4 / (m2 * m2)
        // skewness: D'Agostino's normalizing transform
        val y = g1 * math.sqrt((nd + 1) * (nd + 3) / (6 * (nd - 2)))
        val beta2 = 3.0 * (nd * nd + 27 * nd - 70) * (nd + 1) * (nd + 3) /
          ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
        val w2 = -1 + math.sqrt(2 * (beta2 - 1))
        val delta = 1.0 / math.sqrt(math.log(math.sqrt(w2)))
        val alpha = math.sqrt(2.0 / (w2 - 1))
        val z1 = delta * math.log(y / alpha + math.sqrt(y * y / (alpha * alpha) + 1))
        // kurtosis: Anscombe–Glynn's cube-root transform
        val eb2 = 3.0 * (nd - 1) / (nd + 1)
        val vb2 = 24.0 * nd * (nd - 2) * (nd - 3) /
          ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5))
        val xk = (b2 - eb2) / math.sqrt(vb2)
        val sb1 = 6.0 * (nd * nd - 5 * nd + 2) / ((nd + 7) * (nd + 9)) *
          math.sqrt(6.0 * (nd + 3) * (nd + 5) / (nd * (nd - 2) * (nd - 3)))
        val aa = 6.0 + 8.0 / sb1 * (2.0 / sb1 + math.sqrt(1 + 4.0 / (sb1 * sb1)))
        val z2 = ((1 - 2.0 / (9 * aa)) -
          math.cbrt((1 - 2.0 / aa) / (1 + xk * math.sqrt(2.0 / (aa - 4))))) /
          math.sqrt(2.0 / (9 * aa))
        (g1, b2, z1, z2, z1 * z1 + z2 * z2)
      }
    }
    Seq((n, stats.map(_._1), stats.map(_._2), stats.map(_._3),
        stats.map(_._4), stats.map(_._5),
        stats.map(st => math.exp(-st._5 / 2))))
      .toDF("n", "g1", "b2", "z_skew", "z_kurt", "k2", "p_value")
  }


  /** Ljung–Box portmanteau test for autocorrelation — "is this metric
    * series white noise, or does it carry structure the anomaly baseline
    * must model?": Q = n(n+2) Σ_{k≤m} r_k²/(n−k) over the first `maxLag`
    * sample autocorrelations, Q ~ χ²(m) under independence. `maxLag`
    * must be EVEN so the χ² survival has the closed Poisson-sum form
    * exp(−Q/2)·Σ_{j<m/2}(Q/2)^j/j! — engine-identical, no incomplete
    * gamma. One row: `(n, lags, r1, q_stat, p_value)`; NULLs when the
    * series is constant or shorter than maxLag + 2.
    *
    * Input contract: `series` is ONE regular gap-free sequence keyed by
    * an integer time index (hour number, day number) — densify sparse
    * event counts onto the calendar spine (zero-fill) first; with gaps
    * the lag pairing silently skips them and the statistic is a
    * different (Pearson-over-pairs) quantity.
    *
    * Scale: one stats pass, then the m lag products come from ONE
    * broadcast of the 1..m spine against the series and ONE equi-join on
    * the shifted index (shuffle keyed on t − k, never a global window),
    * a k-bounded reduce, scalar tail math on the driver. */
  def ljungBox(series: DataFrame, timeCol: String, valueCol: String,
      maxLag: Int = 10): DataFrame = {
    require(maxLag >= 2 && maxLag % 2 == 0,
      s"maxLag must be a positive even integer: $maxLag")
    val s = series
      .select(col(timeCol).cast("long").as("t"), col(valueCol).cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val stats = s.agg(count(lit(1)).as("n"), sum(col("y")).as("s1"),
      sum(col("y") * col("y")).as("s2")).head()
    val n = stats.getLong(0)
    val spark = series.sparkSession
    import spark.implicits._
    // q = (r1, q_stat, p_value) of a long enough, non-constant series
    def out(q: Option[(Double, Double, Double)]) =
      Seq((n, maxLag, q.map(_._1), q.map(_._2), q.map(_._3)))
        .toDF("n", "lags", "r1", "q_stat", "p_value")
    if (n < maxLag + 2) return out(None)
    val mu = stats.getDouble(1) / n
    val ss = stats.getDouble(2) - n * mu * mu
    if (ss <= 0) return out(None)
    val spine = spark.range(1, maxLag + 1).select(col("id").as("k"))
    val shifted = s.crossJoin(broadcast(spine))
      .select(col("k"), (col("t") - col("k")).as("tj"),
        (col("y") - mu).as("dyt"))
    val rk = shifted
      .join(s.select(col("t").as("tj"), (col("y") - mu).as("dyl")), Seq("tj"))
      .groupBy(col("k"))
      .agg((sum(col("dyt") * col("dyl")) / ss).as("r"))
    val agg = rk.agg(
      sum(pow(col("r"), 2) / (lit(n.toDouble) - col("k"))).as("qs"),
      max(when(col("k") === 1, col("r"))).as("r1")).head()
    val q = n.toDouble * (n + 2) * agg.getDouble(0)
    val r1 = agg.getDouble(1)
    // chi2(m) survival, m even: exp(-q/2) * Σ_{j=0}^{m/2-1} (q/2)^j / j!
    var term = 1.0; var acc = 1.0
    for (j <- 1 until maxLag / 2) { term *= (q / 2) / j; acc += term }
    out(Some((r1, q, math.min(1.0, math.exp(-q / 2) * acc))))
  }


  /** Dickey–Fuller unit-root test — "does this series mean-revert, or
    * does it WANDER" (a random walk drifts arbitrarily far; every
    * forecast/threshold built on a wandering series silently decays):
    * OLS of Δyₜ on yₜ₋₁ with a constant, t-ratio of the yₜ₋₁
    * coefficient. γ near 0 → unit root (non-stationary); the DF
    * t-ratio is NOT Student-t — compare to the Fuller/MacKinnon
    * constant-only critical values, −2.86 at 5% for large n (emitted as
    * `stationary_5pct`). One row: `(n, gamma, se_gamma, df_stat,
    * stationary_5pct)`; NULL stats when n < 4 or yₜ₋₁ is constant.
    * Same gap-free integer-index contract as [[ljungBox]] (zero-fill
    * calendar gaps upstream; a gap would silently pair non-adjacent
    * hours).
    *
    * Determinism contract: with an integer-valued series (counts), every
    * OLS moment (Σx, Σx², ΣxΔy, …) is an EXACT long sum — aggregation
    * order cannot move a bit, and the driver's closed-form γ/SE/t
    * arithmetic replays verbatim in the DuckDB oracle.
    *
    * Scale: lag pairs via ONE shifted-index equi-join (keyed shuffle,
    * never a global window/lag), one 6-sum reduce, scalar driver
    * algebra. */
  def dickeyFuller(series: DataFrame, timeCol: String, valueCol: String)
      : DataFrame = {
    val s = series
      .select(col(timeCol).cast("long").as("t"),
        col(valueCol).cast("long").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val pairs = s
      .join(s.select((col("t") + 1).as("t"), col("y").as("ylag")), Seq("t"))
      .select(col("ylag").as("x"), (col("y") - col("ylag")).as("dy"))
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("dy")).as("sxy"),
      sum(col("dy") * col("dy")).as("syy")).head()
    val n = m.getLong(0)
    val spark = series.sparkSession
    import spark.implicits._
    // (gamma, se_gamma) for n ≥ 4, a non-constant yₜ₋₁ and a non-zero SE
    val fit = Option.when(n >= 4) {
      val (sx, sy, sxx, sxy, syy) =
        (m.getLong(1), m.getLong(2), m.getLong(3), m.getLong(4), m.getLong(5))
      val nd = n.toDouble
      val cxx = sxx - sx.toDouble * sx / nd
      val cxy = sxy - sx.toDouble * sy / nd
      val cyy = syy - sy.toDouble * sy / nd
      val gamma = cxy / cxx
      val rss = cyy - gamma * cxy
      (cxx, gamma, math.sqrt(math.max(rss / (nd - 2.0), 0.0) / cxx))
    }.collect { case (cxx, gamma, se) if cxx > 0 && se != 0 => (gamma, se) }
    val stat = fit.map { case (gamma, se) => gamma / se }
    Seq((n, fit.map(_._1), fit.map(_._2), stat, stat.map(_ < -2.86)))
      .toDF("n", "gamma", "se_gamma", "df_stat", "stationary_5pct")
  }


  /** Single mean-shift changepoint — "WHERE did the level change"
    * ([[cusum]] alarms that drift is accumulating; binary segmentation's
    * first step names the hour): maximize the scaled CUSUM
    * T_k = |S_k − k·S_n/n| / √(k(n−k)/n) over split points k — the
    * likelihood-ratio statistic for one mean shift under constant
    * variance; T ≳ 3σ̂ is the usual flag. One row: `(n, change_at, k,
    * stat, mean_before, mean_after)` with the earliest time winning
    * ties; NULL stats when n < 3.
    *
    * Scale: ONE multi-column distributed cumsum over the series order
    * carries both the value prefix and the rank (never an unkeyed
    * window), then a TakeOrdered(1) — per-partition heaps, no global
    * sort. Integer-valued series keep S_k exact, so both engines
    * compare identical doubles at the argmax. */
  def changepointMean(series: DataFrame, timeCol: String, valueCol: String)
      : DataFrame = {
    val s = series
      .select(col(timeCol).cast("long").as("t"),
        col(valueCol).cast("long").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
      .withColumn("one", lit(1L))
    val (cum, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      s, col("t"), Seq("y", "one"), Seq("_ey", "_ek"),
      persistInput = false)
    graft.ops.ScaleOps.releasing(cum) {
      val (sn, n) = (grand(0), grand(1))
      val spark = series.sparkSession
      import spark.implicits._
      // best = (change_at, k, stat, S_k) of the argmax split
      def out(best: Option[(Long, Long, Double, Double)]) =
        Seq((n, best.map(_._1), best.map(_._2), best.map(_._3),
            best.map(b => b._4 / b._2), best.map(b => (sn - b._4) / (n - b._2))))
          .toDF("n", "change_at", "k", "stat", "mean_before", "mean_after")
      if (n < 3) return out(None)
      val k = col("_ek") + 1
      val sk = (col("_ey") + col("y")).cast("double")
      val kd = k.cast("double")
      val num = abs(sk - kd * lit(sn.toDouble) / lit(n.toDouble))
      val den = sqrt(kd * (lit(n.toDouble) - kd) / lit(n.toDouble))
      val best = cum.filter(k < n)
        .select(col("t"), k.cast("long").as("k"), sk.as("sk"),
          (num / den).as("stat"))
        .orderBy(col("stat").desc, col("t").asc)
        .limit(1).head()
      out(Some((best.getLong(0), best.getLong(1), best.getDouble(3),
        best.getDouble(2))))
    }
  }


  /** Qini uplift deciles — the evaluation table for a TARGETING score
    * ([[cuped]] and the A/B shelf measure the average effect; a targeting
    * model claims it knows WHO to treat, and the Qini curve is how that
    * claim is audited): rank everyone by score descending, and at each
    * cumulative decile compare treated conversions to the
    * control-rate-scaled expectation, qini = cumYₜ − cumY_c·(cumNₜ/cumN_c)
    * — the incremental conversions attributable to treating the top k
    * deciles. A useful score front-loads qini; a useless one tracks the
    * straight line to the full-population effect. One row per non-empty
    * decile (1 = top scores): `(decile, n_bin, cum_treated, cum_control,
    * cum_y_treated, cum_y_control, qini)`; NULL qini while the cumulative
    * control group is empty.
    *
    * Determinism: decile edges are rank-exact cutpoints over the
    * distinct-score prefix sum ([[graft.ops.ScaleOps.rankCutpoints]] —
    * tie-collapsing, both engines land on observed values); every
    * cumulative is an exact long sum, and the single double expression
    * mirrors verbatim in the DuckDB oracle.
    *
    * Scale: the distributed cumsum for the cutpoints, a broadcast edge
    * array for bin assignment, ONE bin-bounded aggregation, driver
    * cumulation over ≤ `bins` rows. */
  def qiniDeciles(df: DataFrame, treatCol: String, outcomeCol: String,
      scoreCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100, s"bins must be in 2..100: $bins")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(treatCol).cast("int").as("t"),
        col(outcomeCol).cast("long").as("y"),
        col(scoreCol).cast("double").as("s"))
      .filter(col("t").isNotNull && col("y").isNotNull && col("s").isNotNull)
    val counts = base.groupBy(col("s")).agg(count(lit(1)).as("c"))
    val (n, cuts) = graft.ops.ScaleOps.rankCutpoints(counts, "s", "c",
      graft.ops.ScaleOps.quantileRanks(bins))
    if (n == 0)
      return Seq.empty[(Int, Long, Long, Long, Long, Long, Option[Double])]
        .toDF("decile", "n_bin", "cum_treated", "cum_control",
          "cum_y_treated", "cum_y_control", "qini")
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("s") > c, 1).otherwise(0)
    }
    val byBin = base.withColumn("b", bin)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("nb"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("t") =!= 1, 1L).otherwise(0L)).as("nc"),
        sum(when(col("t") === 1, col("y")).otherwise(0L)).as("yt"),
        sum(when(col("t") =!= 1, col("y")).otherwise(0L)).as("yc"))
      .orderBy(col("b").desc) // top scores first
      .collect()
    var (cnt, cnc, cyt, cyc) = (0L, 0L, 0L, 0L)
    byBin.zipWithIndex.map { case (r, i) =>
      cnt += r.getLong(2); cnc += r.getLong(3)
      cyt += r.getLong(4); cyc += r.getLong(5)
      val qini: Option[Double] =
        if (cnc == 0) None else Some(cyt - cyc * (cnt.toDouble / cnc))
      (i + 1, r.getLong(1), cnt, cnc, cyt, cyc, qini)
    }.toSeq.toDF("decile", "n_bin", "cum_treated", "cum_control",
      "cum_y_treated", "cum_y_control", "qini")
  }


  /** Lag-1 Granger causality — "does series X help FORECAST series Y
    * beyond Y's own history" (correlation says they move together;
    * Granger asks whether yesterday's X adds predictive power — the
    * difference between a dashboard curiosity and an actionable leading
    * indicator): OLS of yₜ on (1, yₜ₋₁) vs (1, yₜ₋₁, xₜ₋₁), F-test of
    * the restriction. One row: `(n, beta_own, beta_cross, f, df2,
    * granger_5pct)` — `beta_cross` is xₜ₋₁'s coefficient in the
    * unrestricted fit, F ~ F(1, df2 = n−3) under H₀, `granger_5pct`
    * compares to 3.8415 (the F(1,∞) 5% point; fine for the
    * hundreds-of-hours series this is meant for — at df2 = 100 the true
    * point is 3.94). NULL stats when n < 5 or a design moment
    * degenerates. Same gap-free integer-index contract as [[ljungBox]].
    *
    * Determinism contract: with integer-valued series (counts) all ten
    * OLS moments are EXACT long sums; the centered-moment/2×2-solve/RSS
    * driver arithmetic replays verbatim in the DuckDB oracle.
    *
    * Scale: lag pairs via ONE shifted-index equi-join, one 10-sum
    * reduce, scalar driver algebra — no window, no sort. */
  def grangerLag1(series: DataFrame, timeCol: String, xCol: String,
      yCol: String): DataFrame = {
    val s = series
      .select(col(timeCol).cast("long").as("t"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .filter(col("t").isNotNull && col("x").isNotNull && col("y").isNotNull)
    val pairs = s.select(col("t"), col("y").as("z"))
      .join(s.select((col("t") + 1).as("t"), col("y").as("w"),
        col("x").as("v")), Seq("t"))
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(col("z")).as("sz"), sum(col("w")).as("sw"), sum(col("v")).as("sv"),
      sum(col("z") * col("z")).as("szz"), sum(col("w") * col("w")).as("sww"),
      sum(col("v") * col("v")).as("svv"), sum(col("z") * col("w")).as("szw"),
      sum(col("z") * col("v")).as("szv"), sum(col("w") * col("v")).as("swv"))
      .head()
    val n = m.getLong(0)
    val spark = series.sparkSession
    import spark.implicits._
    // (beta_own, beta_cross, f) of a full-rank design with a positive RSS
    val fit = Option.when(n >= 5) {
      val nd = n.toDouble
      def lg(i: Int) = m.getLong(i)
      val (sz, sw, sv) = (lg(1), lg(2), lg(3))
      val czz = lg(4) - sz.toDouble * sz / nd
      val cww = lg(5) - sw.toDouble * sw / nd
      val cvv = lg(6) - sv.toDouble * sv / nd
      val czw = lg(7) - sz.toDouble * sw / nd
      val czv = lg(8) - sz.toDouble * sv / nd
      val cwv = lg(9) - sw.toDouble * sv / nd
      val rssR = czz - czw / cww * czw
      val det = cww * cvv - cwv * cwv
      val bOwn = (cvv * czw - cwv * czv) / det
      val bCross = (cww * czv - cwv * czw) / det
      val rssU = czz - bOwn * czw - bCross * czv
      (cww > 0 && det > 0 && rssU > 0, bOwn, bCross,
        (rssR - rssU) * (nd - 3.0) / rssU)
    }.collect { case (true, bOwn, bCross, f) => (bOwn, bCross, f) }
    Seq((n, fit.map(_._1), fit.map(_._2), fit.map(_._3), fit.map(_ => n - 3),
        fit.map(_._3 > 3.8415)))
      .toDF("n", "beta_own", "beta_cross", "f", "df2", "granger_5pct")
  }


  /** Periodogram power at CANDIDATE periods — "is there a daily/weekly
    * cycle, and how much of the variance does it carry": for each
    * requested period p, the DFT power at frequency 2π/p over the
    * demeaned series, reported with its variance fraction
    * 2(C² + S²)/(n·SS) (for Fourier-aligned periods the fractions of all
    * frequencies sum to 1 — the share of variance that cycle explains).
    * Same gap-free integer-index contract as [[ljungBox]]. One row per
    * period: `(period, n, c, s, power, frac)`; NULL frac on a constant
    * series.
    *
    * Scale: ONE broadcast of the period spine against the series, one
    * period-keyed reduce of cos/sin-weighted sums — no FFT machinery,
    * no window, exactly right when the ANALYST names the suspect
    * periods (24, 168, …). */
  def periodogramPower(series: DataFrame, timeCol: String, valueCol: String,
      periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      s"periods must all be >= 2: $periods")
    val s = series
      .select(col(timeCol).cast("long").as("t"), col(valueCol).cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val stats = s.agg(count(lit(1)).as("n"), avg(col("y")).as("mu"),
      sum(col("y") * col("y")).as("s2")).head()
    val n = stats.getLong(0)
    val spark = series.sparkSession
    import spark.implicits._
    if (n == 0) {
      return periods.map(p => (p, 0L, None: Option[Double],
        None: Option[Double], None: Option[Double], None: Option[Double]))
        .toDF("period", "n", "c", "s", "power", "frac")
    }
    val mu = stats.getDouble(1)
    val ss = stats.getDouble(2) - n * mu * mu
    val spine = periods.toDF("period")
    val f = lit(2 * math.Pi) / col("period").cast("double")
    val agg = s.crossJoin(broadcast(spine))
      .groupBy(col("period"))
      .agg(
        sum((col("y") - mu) * cos(f * col("t"))).as("c"),
        sum((col("y") - mu) * sin(f * col("t"))).as("s"))
    agg.select(col("period"), lit(n).as("n"), col("c"), col("s"),
      (col("c") * col("c") + col("s") * col("s")).as("power"),
      (if (ss > 0)
        (col("c") * col("c") + col("s") * col("s")) * 2 / (n * ss)
      else lit(null).cast("double")).as("frac"))
  }


  /** Hurst exponent by rescaled-range (R/S) analysis — the long-memory
    * diagnostic: H ≈ 0.5 is a memoryless series, H → 1 means shocks
    * persist (load today predicts load next week — anomaly baselines
    * must widen), H < 0.5 mean-reverts. For each block size b, the
    * series splits into ⌊n/b⌋ blocks; each block's rescaled range
    * R/S = (max − min of the mean-adjusted cumulative sum) / population
    * σ; H is the log–log OLS slope of the per-size mean R/S. Same
    * gap-free contract as [[ljungBox]]. One row per block size:
    * `(b, n_blocks, mean_rs, hurst, r2)` — the fit columns constant
    * (the [[graft.operators.CorpusStats.heapsLaw]] shape); NULL fit
    * below 3 usable sizes.
    *
    * Scale: every window is PARTITIONED by (block size, block id) —
    * per-partition work is b-bounded; the per-size reduce and the OLS
    * run over a handful of rows on the driver. */
  def hurstRS(series: DataFrame, timeCol: String, valueCol: String,
      blockSizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(blockSizes.nonEmpty && blockSizes.forall(_ >= 4),
      s"block sizes must all be >= 4: $blockSizes")
    val s = series
      .select(col(timeCol).cast("long").as("t"), col(valueCol).cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val tMin = s.agg(min(col("t"))).head()
    val spark = series.sparkSession
    import spark.implicits._
    // an empty series has no blocks: zero rows, same columns
    val perSize = if (tMin.isNullAt(0)) Array.empty[(Int, Long, Double)] else {
      val t0 = tMin.getLong(0)
      val spine = blockSizes.toDF("b")
      import org.apache.spark.sql.expressions.Window
      val tagged = s.crossJoin(broadcast(spine))
        .withColumn("__blk", floor((col("t") - t0) / col("b")))
      val wBlk = Window.partitionBy(col("b"), col("__blk")).orderBy(col("t"))
      val wAll = Window.partitionBy(col("b"), col("__blk"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val perBlock = tagged
        .withColumn("__bn", count(lit(1)).over(wAll))
        .filter(col("__bn") === col("b")) // full blocks only
        .withColumn("__mu", avg(col("y")).over(wAll))
        .withColumn("__cum", sum(col("y") - col("__mu")).over(
          wBlk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("b"), col("__blk"))
        .agg((max(col("__cum")) - least(min(col("__cum")), lit(0.0))).as("__r"),
          // population sigma; clamped at 0 against float-cancellation noise
          sqrt(greatest(avg(col("y") * col("y")) - pow(avg(col("y")), 2),
            lit(0.0))).as("__s"))
        .filter(col("__s") > 0)
      perBlock.groupBy(col("b"))
        .agg(count(lit(1)).as("n_blocks"), avg(col("__r") / col("__s")).as("mean_rs"))
        .collect()
        .map(r => (r.getAs[Int]("b"), r.getAs[Long]("n_blocks"),
          r.getAs[Double]("mean_rs")))
        .sortBy(_._1)
    }
    val pts = perSize.filter(p => p._3 > 0)
      .map(p => (math.log(p._1.toDouble), math.log(p._3)))
    val fit: Option[(Double, Double)] =
      if (pts.length < 3) None
      else {
        val k = pts.length
        val mx = pts.map(_._1).sum / k; val my = pts.map(_._2).sum / k
        val sxx = pts.map(q => (q._1 - mx) * (q._1 - mx)).sum
        val sxy = pts.map(q => (q._1 - mx) * (q._2 - my)).sum
        val syy = pts.map(q => (q._2 - my) * (q._2 - my)).sum
        if (sxx <= 0 || syy <= 0) None
        else Some((sxy / sxx, sxy * sxy / (sxx * syy)))
      }
    perSize.toSeq.map { case (b, nb, rs) =>
      (b, nb, rs, fit.map(_._1), fit.map(_._2))
    }.toDF("b", "n_blocks", "mean_rs", "hurst", "r2")
  }


  /** Poisson overdispersion test — "are these counts Poisson, or is the
    * load bursty?": the variance-to-mean dispersion index and the exact
    * conditional χ² statistic (n−1)·s²/ȳ (Fisher's index-of-dispersion
    * test), standardized through the Wilson–Hilferty-free normal
    * approximation z = √(2χ²) − √(2·dof − 1) — closed form on both
    * engines, accurate for the dof this test meets (hundreds of keys
    * up). Overdispersion (z ≫ 0) means per-key rates are heterogeneous
    * — the negative-binomial world where Poisson alert thresholds
    * misfire. One row: `(n, mean, variance, dispersion, chi2, z)`;
    * NULLs when the mean is 0 or n < 2.
    *
    * Scale: one moment aggregation over the (already key-aggregated)
    * count column. */
  def overdispersionTest(df: DataFrame, countCol: String): DataFrame = {
    val c = col(countCol).cast("double")
    val row = df.filter(c.isNotNull)
      .agg(count(lit(1)).as("n"), avg(c).as("m"), var_samp(c).as("v"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = row.getLong(0)
    // (mean, variance) for n ≥ 2 and a positive mean
    val mv = Option.when(n >= 2 && !row.isNullAt(1) && row.getDouble(1) > 0)(
      (row.getDouble(1), row.getDouble(2)))
    val chi2 = mv.map { case (m, v) => (n - 1) * v / m }
    Seq((n, mv.map(_._1), mv.map(_._2), mv.map { case (m, v) => v / m },
        chi2, chi2.map(c => math.sqrt(2 * c) - math.sqrt(2.0 * (n - 1) - 1))))
      .toDF("n", "mean", "variance", "dispersion", "chi2", "z")
  }


  /** Seasonal-naive MASE backtest — is there exploitable weekly (or any
    * `season`-lag) structure in a metric series, measured the way
    * forecasters measure it: MASE = MAE(seasonal-naive forecast
    * ŷ_t = y_{t−season}) / MAE(one-step naive ŷ_t = y_{t−1}). MASE < 1
    * means last-week beats last-day — real seasonality; ≈ 1 means the
    * series is structureless at that lag. Same gap-free integer-index
    * series contract as [[ljungBox]] (densify first). One row:
    * `(n, n_scored, mae_seasonal, mae_naive1, mase)`; NULL mase when
    * the one-step MAE is 0 (a constant series forecasts itself).
    *
    * Scale: two shifted-index EQUI-joins (t−season, t−1) + one reduce —
    * no window, no sort. */
  def maseBacktest(series: DataFrame, timeCol: String, valueCol: String,
      season: Int = 7): DataFrame = {
    require(season >= 2, s"season must be >= 2: $season")
    val s = series
      .select(col(timeCol).cast("long").as("t"), col(valueCol).cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val lagS = s.select((col("t") + season).as("t"), col("y").as("ys"))
    val lag1 = s.select((col("t") + 1).as("t"), col("y").as("y1"))
    val scored = s.join(lagS, Seq("t")).join(lag1, Seq("t"))
    val n = s.count()
    val agg = scored.agg(
      count(lit(1)).as("ns"),
      avg(abs(col("y") - col("ys"))).as("ms"),
      avg(abs(col("y") - col("y1"))).as("m1")).head()
    val spark = series.sparkSession
    import spark.implicits._
    val ns = agg.getLong(0)
    val mae = Option.when(ns > 0)((agg.getDouble(1), agg.getDouble(2)))
    Seq((n, ns, mae.map(_._1), mae.map(_._2),
        mae.collect { case (ms, m1) if m1 > 0 => ms / m1 }))
      .toDF("n", "n_scored", "mae_seasonal", "mae_naive1", "mase")
  }


  /** Theil–Sen robust trend of the daily event rate — the slope estimator
    * that one crazy day cannot move (OLS `trendSlope` folds every outlier
    * into the fit; Theil–Sen takes the MEDIAN of all pairwise slopes,
    * 29.3% breakdown point). One row: `(n_days, n_pairs, slope,
    * intercept)` — slope in events/day over epoch-day x, intercept the
    * median of `y − slope·x` (the standard Theil–Sen companion). NULL
    * slope with fewer than 2 days.
    *
    * Scale: the pairwise slopes live on the per-DAY table — calendar-
    * bounded, so the T(T−1)/2 pair join is a bounded-side broadcast
    * nested loop by construction (the q234 class), never data-sized;
    * medians are exact percentiles of bounded sets. */
  def theilSenTrend(df: DataFrame, timeCol: String): DataFrame = {
    val days = df.filter(col(timeCol).isNotNull)
      .groupBy(to_date(col(timeCol)).as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date"))
        .cast("double"))
    val a = days.select(col("x").as("x1"), col("y").as("y1"))
    val b = days.select(col("x").as("x2"), col("y").as("y2"))
    val slopes = broadcast(a).join(b, col("x2") > col("x1"))
      .select(((col("y2") - col("y1")) / (col("x2") - col("x1"))).as("s"))
    val sRow = slopes.agg(count(lit(1)).as("np"),
      percentile(col("s"), lit(0.5)).as("m")).head()
    val nDays = days.count()
    val spark = df.sparkSession
    import spark.implicits._
    // fewer than 2 days have no pair (n_pairs 0) and no slope
    def out(fit: Option[(Double, Double)]) =
      Seq((nDays, sRow.getLong(0), fit.map(_._1), fit.map(_._2)))
        .toDF("n_days", "n_pairs", "slope", "intercept")
    if (nDays < 2) return out(None)
    val slope = sRow.getDouble(1)
    val iRow = days.agg(
      percentile(col("y") - lit(slope) * col("x"), lit(0.5)).as("i")).head()
    out(Some((slope, iRow.getDouble(0))))
  }


  /** Mann–Kendall trend test on the daily event rate — [[theilSenTrend]]'s
    * SIGNIFICANCE companion (Theil–Sen says how steep; Mann–Kendall says
    * whether a monotone trend exists at all, nonparametrically):
    * `S = Σ_{i<j} sgn(yⱼ − yᵢ)` over the day-ordered counts, the standard
    * tie-corrected variance, and the continuity-corrected normal z. One
    * row: `(n_days, s, var_s, z, trend)` — trend ∈ increasing /
    * decreasing / none at |z| > 1.959963984540054 (the shared z-critical
    * literal). NULL z when the variance degenerates (fewer than 2 days or
    * all counts tie).
    *
    * Scale: the [[theilSenTrend]] bounded pair join on the calendar-sized
    * day table; S and the tie mass are exact integers, so the statistic
    * can never flip across engines. */
  def mannKendall(df: DataFrame, timeCol: String): DataFrame = {
    val days = df.filter(col(timeCol).isNotNull)
      .groupBy(to_date(col(timeCol)).as("day"))
      .agg(count(lit(1)).as("y"))
    val a = days.select(col("day").as("d1"), col("y").as("y1"))
    val b = days.select(col("day").as("d2"), col("y").as("y2"))
    val sRow = broadcast(a).join(b, col("d2") > col("d1"))
      .agg(sum(signum(col("y2") - col("y1")).cast("long")).as("s"))
      .head()
    val nDays = days.count()
    // tie groups on the VALUE: Σ t(t−1)(2t+5) over tied-count groups
    val tieRow = days.groupBy(col("y")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("_tt"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = nDays
    val s = Option.when(n >= 2)(sRow.getLong(0))
    val varS = s.map(_ =>
      (n.toDouble * (n - 1) * (2 * n + 5) - tieRow.getLong(0)) / 18.0)
    val z = for (sv <- s; v <- varS if v > 0) yield
      if (sv > 0) (sv - 1) / math.sqrt(v)
      else if (sv < 0) (sv + 1) / math.sqrt(v)
      else 0.0
    val zc = 1.959963984540054
    val trend = z match {
      case Some(v) if v > zc => "increasing"
      case Some(v) if v < -zc => "decreasing"
      case _ => "none"
    }
    Seq((n, s, varS, z, trend)).toDF("n_days", "s", "var_s", "z", "trend")
  }


  /** Seasonal Mann–Kendall trend test — [[mannKendall]] with the weekly
    * (or any fixed-period) cycle REMOVED: pairs compare only within the
    * same season phase (Monday vs later Mondays), so a strong weekday
    * pattern can neither fake nor mask a monotone trend (Hirsch & Slack
    * 1984). S' = Σ_g S_g, Var' = Σ_g Var_g (independence across phases),
    * continuity-corrected z on the combined S'. One row:
    * `(n_days, period, s, var_s, z, trend)`.
    *
    * Scale: the per-day count table is calendar-bounded; the within-
    * season pair join is season-keyed over that bounded spine (broadcast
    * small side), ties reduce per (season, value). */
  def seasonalMannKendall(df: DataFrame, timeCol: String,
      period: Int = 7): DataFrame = {
    require(period >= 2, s"period must be >= 2: $period")
    val days = df.filter(col(timeCol).isNotNull)
      .groupBy(to_date(col(timeCol)).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("g", pmod(datediff(col("day"), lit("1970-01-01")),
        lit(period)))
    val a = days.select(col("g"), col("day").as("d1"), col("y").as("y1"))
    val b = days.select(col("g"), col("day").as("d2"), col("y").as("y2"))
    val sRow = broadcast(a).join(b, Seq("g"))
      .filter(col("d2") > col("d1"))
      .agg(coalesce(sum(signum(col("y2") - col("y1")).cast("long")), lit(0L)))
      .head()
    val perSeason = days.groupBy(col("g")).agg(count(lit(1)).as("ng"))
    val tiePer = days.groupBy(col("g"), col("y")).agg(count(lit(1)).as("t"))
      .groupBy(col("g"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tt"))
    val vRow = perSeason.join(tiePer, Seq("g"))
      .agg(sum((col("ng") * (col("ng") - 1) * (col("ng") * 2 + 5) - col("tt"))
        .cast("double") / 18.0).as("v"),
        sum(col("ng")).as("n"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val nDays = if (vRow.isNullAt(1)) 0L else vRow.getLong(1)
    val s = Option.when(nDays >= 2)(sRow.getLong(0))
    val varS = s.map(_ => vRow.getDouble(0))
    val z = for (sv <- s; v <- varS if v > 0) yield
      if (sv > 0) (sv - 1) / math.sqrt(v)
      else if (sv < 0) (sv + 1) / math.sqrt(v)
      else 0.0
    val zc = 1.959963984540054
    val trend = z match {
      case Some(v) if v > zc => "increasing"
      case Some(v) if v < -zc => "decreasing"
      case _ => "none"
    }
    Seq((nDays, period, s, varS, z, trend))
      .toDF("n_days", "period", "s", "var_s", "z", "trend")
  }


  /** [[cusumChangepoint]] PER KEY — one level-shift estimate per slice
    * (per event type, per source): the keyed windows partition by the
    * key, so nothing is global. One row per key:
    * `(key, n_days, change_day, cusum_max, rate_before, rate_after)`;
    * same integer-exact scaled statistic and earliest-day tie rule. */
  def cusumChangepointByKey(df: DataFrame, timeCol: String,
      keyCol: String): DataFrame = {
    val days = df.filter(col(timeCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("key"), to_date(col(timeCol)).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("key")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("key")).orderBy(col("day"))
    val withPrefix = days
      .withColumn("s", sum(col("c")).over(w))
      .withColumn("t", row_number().over(wt).cast("long"))
    val totals = withPrefix.groupBy(col("key"))
      .agg(max(col("t")).as("_n"), max(col("s")).as("_tot"))
    val scored = withPrefix.join(totals, Seq("key"))
      .withColumn("_d", col("_n") * col("s") - col("t") * col("_tot"))
    val pick = Window.partitionBy(col("key"))
      .orderBy(abs(col("_d")).desc, col("day").asc)
    scored.withColumn("__rk", row_number().over(pick))
      .filter(col("__rk") === 1)
      .select(
        col("key"),
        col("_n").as("n_days"),
        col("day").as("change_day"),
        (abs(col("_d")).cast("double") / col("_n")).as("cusum_max"),
        (col("s").cast("double") / col("t")).as("rate_before"),
        when(col("_n") > col("t"),
          (col("_tot") - col("s")).cast("double") / (col("_n") - col("t")))
          .as("rate_after"))
  }


  /** Offline CUSUM changepoint in event RATE — "when did the level shift?"
    * for a counter series (deploys, crawler behavior changes, pipeline
    * regime switches). Buckets events by calendar day, computes the CUSUM
    * of per-day counts against the overall mean, and reports the day
    * maximizing |CUSUM| — the classic single-changepoint estimator (the
    * at-most-one-change alternative to the rolling z of `rateAnomaly`,
    * which flags LOCAL spikes, not a sustained level shift). One row:
    * `(n_days, change_day, cusum_max, rate_before, rate_after)` —
    * `change_day` = last day of the before-regime, ties on |CUSUM| break
    * to the earliest day.
    *
    * Scale: one partial-aggregated count per day (calendar-bounded), a
    * prefix sum over the day spine (a global window over a
    * bounded-by-construction table — the q119/q122 class), one top-1
    * reduce. Determinism: the scaled statistic D_t = T·S_t − t·S_T is
    * integer-exact in long arithmetic, so the argmax can never flip on
    * float noise across engines; `cusum_max` = max|D|/T is derived from
    * it. */
  def cusumChangepoint(df: DataFrame, timeCol: String): DataFrame = {
    val days = df.filter(col(timeCol).isNotNull)
      .groupBy(to_date(col(timeCol)).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.orderBy(col("day"))
    val withPrefix = days
      .withColumn("s", sum(col("c")).over(w))
      .withColumn("t", row_number().over(wt).cast("long"))
    val totals = withPrefix.agg(max(col("t")).as("_n"), max(col("s")).as("_tot"))
    val scored = withPrefix.crossJoin(broadcast(totals))
      .withColumn("_d", col("_n") * col("s") - col("t") * col("_tot"))
    scored
      .orderBy(abs(col("_d")).desc, col("day").asc).limit(1)
      .select(
        col("_n").as("n_days"),
        col("day").as("change_day"),
        (abs(col("_d")).cast("double") / col("_n")).as("cusum_max"),
        (col("s").cast("double") / col("t")).as("rate_before"),
        when(col("_n") > col("t"),
          (col("_tot") - col("s")).cast("double") / (col("_n") - col("t")))
          .as("rate_after"))
  }


  /** Jarque–Bera normality test — the moment-based screen "are skewness
    * and excess kurtosis jointly consistent with a normal?" (the simpler,
    * large-n sibling of [[dagostinoK2]], whose small-sample Z transforms
    * it drops: JB = n/6·(g₁² + (b₂−3)²/4) ~ χ²(2) under normality). One
    * row: `(n, g1, b2, jb, p_value)` with the exact χ²(2) survival
    * `exp(−jb/2)`. NULL g1/b2/jb/p when n < 2 or the variance is 0.
    * Complete-case on the column.
    *
    * Scale: ONE partial-aggregated scan for (n, Σx, Σx², Σx³, Σx⁴); all
    * remaining algebra is scalar on the driver. Central moments come from
    * raw power sums — the [[dagostinoK2]] caveat applies (fine for
    * moderate mean/σ ratios: lengths, scores, rates). */
  def jarqueBera(df: DataFrame, column: String): DataFrame = {
    val x = col(column).cast("double")
    val row = df.filter(x.isNotNull)
      .agg(count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (row.isNullAt(0)) 0L else row.getLong(0)
    // (g1, b2, jb) for n ≥ 2 and a non-constant column
    val stats = if (n < 2) None else {
      val nd = n.toDouble
      val mu = row.getDouble(1) / nd
      val m2 = row.getDouble(2) / nd - mu * mu
      Option.when(!(m2 <= 0)) {
        val m3 = (row.getDouble(3) - 3 * mu * row.getDouble(2) +
          2 * nd * mu * mu * mu) / nd
        val m4 = (row.getDouble(4) - 4 * mu * row.getDouble(3) +
          6 * mu * mu * row.getDouble(2) - 3 * nd * mu * mu * mu * mu) / nd
        val g1 = m3 / math.pow(m2, 1.5)
        val b2 = m4 / (m2 * m2)
        (g1, b2, nd / 6.0 * (g1 * g1 + (b2 - 3.0) * (b2 - 3.0) / 4.0))
      }
    }
    Seq((n, stats.map(_._1), stats.map(_._2), stats.map(_._3),
        stats.map(st => math.exp(-st._3 / 2.0))))
      .toDF("n", "g1", "b2", "jb", "p_value")
  }


  /** Bartlett's test of variance homogeneity across k groups — the
    * normal-theory complement of [[brownForsythe]] (Bartlett is the more
    * powerful test when the data ARE near-normal; Brown–Forsythe is the
    * robust one when they are not — ship both, read them together). One
    * row: `(n, k, pooled_var, statistic, df, p_value)` with
    * T = ((N−k)·ln Sp² − Σ(n_g−1)·ln s_g²) / C,
    * C = 1 + (Σ 1/(n_g−1) − 1/(N−k)) / (3(k−1)), T ~ χ²(k−1). Groups with
    * n_g < 2 are dropped (their sample variance is undefined); NULL
    * statistic when fewer than 2 groups survive or any surviving group
    * has zero variance (ln s² = −∞). Complete-case on both columns.
    *
    * Scale: per-group (count, Σv, Σv²) moments — one partial-aggregated
    * shuffle bounded by the group count — then a group-bounded scalar
    * reduce on the driver. The p-value uses the even-df closed survival
    * when k−1 is even (oracle-replayable), incomplete gamma otherwise. */
  def bartlettTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val byG = groupMoments(df, groupCol, valueCol).filter(col("ng") >= 2)
    // sample variance from exact power sums (the welchTTest convention)
    val vg = (col("q") - col("s") * col("s") / col("ng")) / (col("ng") - 1)
    val row = byG.agg(
      sum(col("ng")).as("n"), count(lit(1)).as("k"),
      min(vg).as("_vmin"),
      sum((col("ng") - 1) * when(vg > 0, log(vg))).as("_slnv"),
      sum(lit(1.0) / (col("ng") - 1)).as("_sinv"),
      sum(vg * (col("ng") - 1)).as("_ssw"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (row.isNullAt(0)) 0L else row.getLong(0)
    val k = if (row.isNullAt(1)) 0L else row.getLong(1)
    // (pooled_var, statistic) for k ≥ 2 groups of positive variance
    val stats = Option.when(k >= 2 && n > k && !(row.getDouble(2) <= 0)) {
      val sp2 = row.getDouble(5) / (n - k)
      val t0 = (n - k) * math.log(sp2) - row.getDouble(3)
      val c = 1.0 + (row.getDouble(4) - 1.0 / (n - k)) / (3.0 * (k - 1))
      (sp2, t0 / c)
    }
    Seq((n, k, stats.map(_._1), stats.map(_._2), math.max(k - 1, 0),
        stats.map(st => chi2Survival((k - 1).toInt, st._2))))
      .toDF("n", "k", "pooled_var", "statistic", "df", "p_value")
  }


  /** Mood's median test — "do these k groups share a median?", the
    * coarsest and most outlier-proof of the k-group location tests
    * ([[anovaF]] needs near-normality, [[kruskalWallis]] full rank
    * information; Mood's only asks which side of the grand median each
    * value falls on — use it when the data are heavy-tailed or censored
    * at the tails). One row: `(n, k, grand_median, chi2, df, p_value)`:
    * the 2×k contingency of (≤ median / > median) per group, Pearson χ²
    * with k−1 df. The grand median is the LOWER median (the value at rank
    * ⌈n/2⌉ of the sorted multiset — rank-exact, no interpolation, so both
    * engines land on an observed value). NULL chi2/p when every value
    * falls on one side (a constant column) or any group's expected count
    * is 0. Complete-case on both columns.
    *
    * Scale: one distinct-value count aggregation + the two-phase
    * DISTRIBUTED cumsum ([[graft.ops.ScaleOps.rankCutpoints]]) for the
    * median rank — never an unkeyed window — then ONE per-group
    * conditional count; shuffles bounded by distinct values and group
    * count. */
  def moodMedianTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = groupValues(df, groupCol, valueCol)
    val counts = base.groupBy(col("v")).agg(count(lit(1)).as("c"))
    // lower median = value at rank ⌈n/2⌉ of the sorted multiset — resolved
    // by the DISTRIBUTED two-phase cumsum over the distinct-value table
    // (rankCutpoints; its totals pass also yields n — no separate count
    // job, and no unkeyed data-sized window anywhere)
    val (n, cuts) = graft.ops.ScaleOps.rankCutpoints(counts, "v", "c",
      total => Seq((total + 1) / 2))
    val spark = df.sparkSession
    import spark.implicits._
    // stats = (grand_median, chi2) of a non-degenerate 2×k table
    def out(k: Long, stats: Option[(Double, Double)]) =
      Seq((n, k, stats.map(_._1), stats.map(_._2), math.max(k - 1, 0),
          stats.map(st => chi2Survival((k - 1).toInt, st._2))))
        .toDF("n", "k", "grand_median", "chi2", "df", "p_value")
    if (n == 0) return out(0, None)
    val cut = cuts.head
    val cells = base.groupBy(col("g")).agg(
      sum(when(col("v") > cut, 1L).otherwise(0L)).cast("double").as("a"),
      sum(when(col("v") <= cut, 1L).otherwise(0L)).cast("double").as("l"))
    val row = cells
      .crossJoin(broadcast(cells.agg(sum(col("a")).as("_ta"),
        sum(col("l")).as("_tl"), count(lit(1)).as("_k"))))
      .agg(
        first(col("_k")).as("k"),
        first(col("_ta")).as("ta"), first(col("_tl")).as("tl"),
        // degenerate marginals (constant column) guard INSIDE the
        // expression: ANSI mode turns the 0-expected division into an
        // error, so the whole summand is gated on both totals being > 0
        sum(when(col("_ta") > 0 && col("_tl") > 0,
          pow(col("a") - (col("a") + col("l")) * col("_ta") / n, 2) /
            ((col("a") + col("l")) * col("_ta") / n) +
            pow(col("l") - (col("a") + col("l")) * col("_tl") / n, 2) /
            ((col("a") + col("l")) * col("_tl") / n))).as("chi2"))
      .head()
    val k = row.getLong(0)
    out(k, Option.when(k >= 2 && row.getDouble(1) != 0.0 &&
      row.getDouble(2) != 0.0 && !row.isNullAt(3))((cut, row.getDouble(3))))
  }


  /** Wald–Wolfowitz runs test per key — "is this keyed series random
    * noise around its level, or does it trend/cluster?": too FEW runs of
    * above/below-mean values means positive autocorrelation (regimes),
    * too many means oscillation. Per key: binarize at the key's mean
    * (values exactly equal to the mean drop — the standard convention),
    * count runs R over the `orderCols` order, and report
    * z = (R − μ_R)/σ_R with μ_R = 2n₁n₂/n + 1. One row per key:
    * `(key, n1, n2, runs, z)`; NULL z when either side is empty or n < 2;
    * a constant key (every value equals the mean) drops from the output
    * entirely. Negative z = fewer runs than chance = clustering/trend.
    *
    * Scale: one per-key moment pass for the means, one keyed window scan
    * (partitioned by key — never a global window) for the lag compare,
    * one per-key reduce. Keyed cardinality bounds every shuffle. */
  def runsTestByKey(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String): DataFrame = {
    require(orderCols.nonEmpty, "runsTestByKey needs at least one order column")
    val base = df
      .select((col(keyCol).cast("string").as("key") +:
        col(valueCol).cast("double").as("v") +:
        orderCols.map(c => col(c))): _*)
      .filter(col("key").isNotNull && col("v").isNotNull)
    val means = base.groupBy(col("key"))
      .agg((sum(col("v")) / count(lit(1))).as("_mu"))
    val signed = base.join(means, Seq("key"))
      .filter(col("v") =!= col("_mu"))
      .withColumn("_s", when(col("v") > col("_mu"), 1).otherwise(0))
    val w = Window.partitionBy(col("key")).orderBy(orderCols.map(col): _*)
    val runs = signed
      .withColumn("_prev", lag(col("_s"), 1).over(w))
      .groupBy(col("key"))
      .agg(
        sum(col("_s")).cast("long").as("n1"),
        sum(lit(1) - col("_s")).cast("long").as("n2"),
        (sum(when(col("_prev").isNull || col("_prev") =!= col("_s"), 1L)
          .otherwise(0L))).cast("long").as("runs"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val nn = n1 + n2
    val muR = lit(2.0) * n1 * n2 / nn + 1
    val varR = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nn) /
      (nn * nn * (nn - 1))
    runs.select(col("key"), col("n1"), col("n2"), col("runs"),
      when(col("n1") > 0 && col("n2") > 0 && nn > 1 && varR > 0,
        (col("runs") - muR) / sqrt(varR)).as("z"))
  }


  /** Durbin–Watson autocorrelation diagnostic per key — "after fitting a
    * linear trend, are the residuals still serially correlated?" (DW ≈ 2
    * = none; → 0 = positive autocorrelation, the usual time-series
    * failure; → 4 = negative). Per key: closed-form simple-OLS fit of
    * `yCol` on `xCol` from one moment pass, then
    * DW = Σ(e_t−e_{t−1})² / Σe_t² over the `orderCols` order. One row per
    * key: `(key, n, slope, intercept, dw)`; NULL slope/dw for a key with
    * constant x, NULL dw for a perfect fit (Σe² = 0). Complete-case.
    *
    * Callers should CENTER x (e.g. epoch − a literal base) — the
    * slope denominator n·Σx² − (Σx)² cancels catastrophically for raw
    * epoch-scale x. Scale: one per-key moment aggregation, one keyed
    * join back, one keyed-window lag pass — shuffles bounded by keys and
    * rows, never a global window. */
  def durbinWatson(df: DataFrame, keyCol: String, orderCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    require(orderCols.nonEmpty, "durbinWatson needs at least one order column")
    val base = df
      .select((col(keyCol).cast("string").as("key") +:
        col(xCol).cast("double").as("x") +:
        col(yCol).cast("double").as("y") +:
        orderCols.map(c => col(c))): _*)
      .filter(col("key").isNotNull && col("x").isNotNull && col("y").isNotNull)
    val mom = base.groupBy(col("key")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val fit2 = mom.select(col("key"), col("n"),
      when(den > 0, (col("n") * col("sxy") - col("sx") * col("sy")) / den)
        .as("slope"), col("sx"), col("sy"))
      .select(col("key"), col("n"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n")).as("intercept"))
    val j = base.join(fit2, Seq("key"))
      .withColumn("_e", col("y") - col("intercept") - col("slope") * col("x"))
    val w = Window.partitionBy(col("key")).orderBy(orderCols.map(col): _*)
    val resid = j.withColumn("_de", col("_e") - lag(col("_e"), 1).over(w))
      .groupBy(col("key"))
      .agg(first(col("n")).as("n"), first(col("slope")).as("slope"),
        first(col("intercept")).as("intercept"),
        sum(col("_e") * col("_e")).as("_see"),
        sum(col("_de") * col("_de")).as("_sde"))
    resid.select(col("key"), col("n"), col("slope"), col("intercept"),
      when(col("_see") > 0, col("_sde") / col("_see")).as("dw"))
  }


  /** Breusch–Pagan (Koenker studentized) heteroscedasticity test — "does
    * the residual VARIANCE of y ~ x move with x?" (constant variance is
    * what every OLS standard error and every z-monitor on a rate
    * assumes; funnel-shaped residuals silently break them). Closed-form
    * simple OLS of y on x, then the auxiliary regression of e² on x:
    * LM = n·R²_aux ~ χ²(1). One row: `(n, slope, intercept, lm, df,
    * p_value)`; NULL lm/p when x is constant or e² is constant (no
    * auxiliary variance). The p-value is the A&S-polynomial χ²(1)
    * survival ([[normalSfAS]]) — reproducible verbatim in oracle SQL.
    * Complete-case.
    *
    * Scale: two partial-aggregated moment scans (the OLS coefficients
    * must land before e² sums can accumulate — inherent to the test),
    * scalar algebra on the driver. Center x; see [[durbinWatson]]. */
  def breuschPagan(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df
      .select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val m = base.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy")).head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (m.isNullAt(0)) 0L else m.getLong(0)
    // fit = (slope, intercept); lm once the squared residuals vary
    def out(fit: Option[(Double, Double)], lm: Option[Double]) =
      Seq((n, fit.map(_._1), fit.map(_._2), lm, 1,
          lm.map(v => 2.0 * normalSfAS(math.sqrt(v)))))
        .toDF("n", "slope", "intercept", "lm", "df", "p_value")
    if (n < 3) return out(None, None)
    val den = n * m.getDouble(3) - m.getDouble(1) * m.getDouble(1)
    if (den <= 0) return out(None, None)
    val b = (n * m.getDouble(4) - m.getDouble(1) * m.getDouble(2)) / den
    val a = (m.getDouble(2) - b * m.getDouble(1)) / n
    val u = pow(col("y") - a - col("x") * b, 2)
    val m2 = base.agg(sum(u).as("su"), sum(col("x") * u).as("sxu"),
      sum(u * u).as("suu")).head()
    val su = m2.getDouble(0); val sxu = m2.getDouble(1); val suu = m2.getDouble(2)
    val denU = n * suu - su * su
    val cov = n * sxu - m.getDouble(1) * su
    out(Some((b, a)),
      Option.when(!(denU <= 0))(n * (cov * cov / (den * denU))))
  }


  /** Bayesian A/B test on conversion rates — P(rate_B > rate_A) under
    * independent Beta posteriors (the decision-ready complement of
    * [[proportionZTest]]'s frequentist z: "how likely is B actually
    * better", not "how surprising is this gap under H0"). Beta(α₀,β₀)
    * prior per arm (default uniform); the posterior-overlap integral
    * ∫ f_B(x)·F_A(x) dx evaluates by midpoint-rule quadrature on a fixed
    * `grid` (deterministic — no MC sampling, and the SAME finite sum
    * replays verbatim in oracle SQL; midpoint error is O(grid⁻²), ~6e-8
    * at the default 4000). One row: `(n_a, s_a, n_b, s_b, mean_a,
    * mean_b, prob_b_gt_a)` with posterior means (s+α₀)/(n+α₀+β₀). A
    * missing arm degrades to its prior (documented fail-open — the
    * output then reflects prior belief, n 0).
    *
    * Scale: ONE arm-keyed count/sum aggregation; the quadrature is a
    * `grid`-bounded scalar loop on the driver. */
  def bayesianAB(df: DataFrame, armCol: String, successCol: String,
      armA: String, armB: String, alpha0: Double = 1.0, beta0: Double = 1.0,
      grid: Int = 4000): DataFrame = {
    require(grid >= 100, s"grid must be >= 100: $grid")
    require(alpha0 > 0 && beta0 > 0, "prior parameters must be positive")
    val rows = df
      .filter(col(armCol).isin(armA, armB) && col(successCol).isNotNull)
      .groupBy(col(armCol).cast("string").as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("int")).cast("long").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (na, sa) = rows.getOrElse(armA, (0L, 0L))
    val (nb, sb) = rows.getOrElse(armB, (0L, 0L))
    val (aa, ab) = (sa + alpha0, na - sa + beta0)
    val (ba, bb) = (sb + alpha0, nb - sb + beta0)
    def lnBetaPdf(x: Double, al: Double, be: Double): Double =
      Stat.lnGamma(al + be) - Stat.lnGamma(al) - Stat.lnGamma(be) +
        (al - 1) * math.log(x) + (be - 1) * math.log(1 - x)
    val m = grid
    var cumA = 0.0
    var p = 0.0
    var i = 0
    while (i < m) {
      val x = (i + 0.5) / m
      val fa = math.exp(lnBetaPdf(x, aa, ab))
      val fb = math.exp(lnBetaPdf(x, ba, bb))
      cumA += fa
      val cfa = (cumA - 0.5 * fa) / m
      p += fb * cfa / m
      i += 1
    }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((na, sa, nb, sb, aa / (aa + ab), ba / (ba + bb), math.min(1.0, p)))
      .toDF("n_a", "s_a", "n_b", "s_b", "mean_a", "mean_b", "prob_b_gt_a")
  }


  /** Simple-exponential-smoothing (EWMA) one-step backtest — "does
    * recency-weighted smoothing beat yesterday's value?" on a REGULAR
    * integer-indexed series (the [[maseBacktest]] sibling for
    * non-seasonal level-tracking). s_t = α·y_t + (1−α)·s_{t−1} with
    * s_0 = y_0, evaluated in closed scaled-prefix form
    * s_k = (1−α)^k·(y_0 + α·Σ_{j=1..k} y_j·(1−α)^{−j}) so the whole
    * recursion is ONE ordered prefix sum (no sequential driver loop, and
    * the identical finite arithmetic replays in oracle SQL). Forecast
    * for step k is s_{k−1}; scores are MAE vs the naive-1 forecast. One
    * row: `(n, n_scored, mae_ewma, mae_naive1, rel_mae)`; NULL rel when
    * the series is constant.
    *
    * Numerics: the scaled prefix grows like (1−α)^{−k} — fine to
    * ~(1−α)^{-700} before double overflow (α=0.3 → spans ≤ ~2000 steps;
    * calendar-bounded series by contract, same class as [[maseBacktest]]).
    * The prefix window is global but runs over the bounded series spine
    * (the q119/q122 PlanSpec class). */
  def ewmaBacktest(series: DataFrame, tCol: String, yCol: String,
      alpha: Double = 0.3): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    val base = series
      .select(col(tCol).cast("long").as("t"), col(yCol).cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val tmin = base.agg(min(col("t"))).head()
    val r = 1.0 / (1.0 - alpha)
    // an empty series aggregates to n = 0 with NULL scores, any offset
    val k = (col("t") - (if (tmin.isNullAt(0)) 0L else tmin.getLong(0)))
      .as("k")
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.orderBy(col("k"))
    val scored = base.select(k, col("y"))
      .withColumn("_cum", sum(when(col("k") > 0,
        col("y") * pow(lit(r), col("k"))).otherwise(lit(0.0))).over(w))
      .withColumn("_y0", first(col("y")).over(w))
      .withColumn("_s",
        pow(lit(1.0 - alpha), col("k")) * (col("_y0") + col("_cum") * alpha))
      .withColumn("_f", lag(col("_s"), 1).over(wl))
      .withColumn("_yp", lag(col("y"), 1).over(wl))
    scored.agg(
        count(lit(1)).as("n"),
        count(when(col("k") > 0, lit(1))).as("n_scored"),
        avg(when(col("k") > 0, abs(col("y") - col("_f")))).as("mae_ewma"),
        avg(when(col("k") > 0, abs(col("y") - col("_yp")))).as("mae_naive1"))
      .select(col("n"), col("n_scored"), col("mae_ewma"), col("mae_naive1"),
        when(col("mae_naive1") > 0, col("mae_ewma") / col("mae_naive1"))
          .as("rel_mae"))
  }


  /** Chi-square goodness-of-fit against SPECIFIED category proportions —
    * "does this column follow the distribution it is supposed to?"
    * (weekday uniformity of traffic, a documented source mix, Benford is
    * the digit special case at [[graft.ops.QualityOps.benfordTest]]).
    * `expected` lists every category with its theoretical proportion
    * (must sum to ~1); observed categories OUTSIDE the list fail fast —
    * a silent "other" bucket would make the test pass vacuously. One
    * row: `(n, k, chi2, df, p_value)` with df = k−1 over the EXPECTED
    * categories (zero-observed expected cells contribute n·p each).
    *
    * Scale: one category-bounded count aggregation joined to the
    * broadcast literal expectation table; a scalar reduce. */
  def chiSquareGof(df: DataFrame, column: String,
      expected: Seq[(String, Double)]): DataFrame = {
    require(expected.nonEmpty, "expected proportions required")
    require(math.abs(expected.map(_._2).sum - 1.0) < 1e-9,
      s"expected proportions must sum to 1: ${expected.map(_._2).sum}")
    require(expected.forall(_._2 > 0), "every expected proportion must be > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df.filter(col(column).isNotNull)
      .groupBy(col(column).cast("string").as("v"))
      .agg(count(lit(1)).as("o"))
    val exp = expected.toDF("v", "p")
    val unknown = obs.join(broadcast(exp), Seq("v"), "left_anti").count()
    require(unknown == 0,
      s"$unknown observed categories are missing from the expected list")
    val row = exp.join(obs, Seq("v"), "left").na.fill(0L, Seq("o"))
      .crossJoin(broadcast(obs.agg(sum(col("o")).as("_n"))))
      .agg(first(col("_n")).as("n"), count(lit(1)).as("k"),
        sum(pow(col("o") - col("_n") * col("p"), 2) /
          (col("_n") * col("p"))).as("chi2"))
      .head()
    val n = if (row.isNullAt(0)) 0L else row.getLong(0)
    val k = row.getLong(1)
    val chi2 = Option.when(n > 0 && k >= 2)(row.getDouble(2))
    Seq((n, k, chi2, math.max(k - 1, 0),
        chi2.map(c => chi2Survival((k - 1).toInt, c))))
      .toDF("n", "k", "chi2", "df", "p_value")
  }


  /** Exact robust-location panel — mean, `trimFrac`-trimmed mean,
    * winsorized mean and the lower median in ONE summary row, all
    * RANK-EXACT (no interpolated percentiles: trimming drops exactly
    * ⌊n·f⌋ values per tail by sorted rank, winsorizing clamps them to
    * the surviving extremes — both engines land on identical values).
    * The robust pair is what survives the heavy tails that make the
    * plain mean useless as a drift baseline. One row:
    * `(n, n_trim_each, mean, trimmed_mean, winsorized_mean, median)`;
    * NULL trimmed/winsorized when 2·⌊n·f⌋ ≥ n.
    *
    * Scale: one distinct-value count aggregation + the two-phase
    * DISTRIBUTED cumsum ([[graft.ops.ScaleOps.withExclusiveRunningSum]] —
    * never an unkeyed window) — per-rank overlap algebra turns "drop the
    * k smallest/largest" into closed-form per-distinct-value
    * contributions. One scan. */
  def robustLocation(df: DataFrame, column: String,
      trimFrac: Double = 0.1): DataFrame = {
    require(trimFrac >= 0 && trimFrac < 0.5,
      s"trimFrac must be in [0, 0.5): $trimFrac")
    val counts = df
      .select(col(column).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val cum = graft.ops.ScaleOps.withExclusiveRunningSum(counts, col("v"),
        "c", "_excl", persistInput = false)
      .withColumn("hi", col("_excl") + col("c"))
      .withColumn("lo", col("_excl") + 1) // 1-based rank range [lo, hi]
    val tot = counts.agg(sum(col("c")).as("_n"), sum(col("v") * col("c")).as("_s"))
    val j = cum.crossJoin(broadcast(tot))
    val trim = floor(col("_n") * trimFrac).cast("long")
    val keepLo = trim + 1
    val keepHi = col("_n") - trim
    // rank-overlap of this value's [lo, hi] with the kept band
    val kept = greatest(least(col("hi"), keepHi) - greatest(col("lo"), keepLo) +
      1, lit(0L))
    // winsorize: ALL ⌊n·f⌋ ranks below the band clamp to the value AT
    // rank keepLo, all above to the value at keepHi — the boundary
    // values absorb the full tails
    val lowClamped = when(col("lo") <= keepLo && keepLo <= col("hi"),
      keepLo - 1).otherwise(lit(0L))
    val highClamped = when(col("lo") <= keepHi && keepHi <= col("hi"),
      col("_n") - keepHi).otherwise(lit(0L))
    val medTarget = floor((col("_n") + 1) / 2) // lower-median rank ⌈n/2⌉
    val row = j.agg(
        first(col("_n")).as("n"), first(col("_s")).as("s"),
        first(trim).as("tr"),
        sum(col("v") * kept).as("tsum"),
        sum(col("v") * (kept + lowClamped + highClamped)).as("wsum"),
        min(when(col("hi") >= medTarget, col("v"))).as("med"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    // an empty column has no first row: n = 0 and every stat NULL
    val n = if (row.isNullAt(0)) 0L else row.getLong(0)
    val tr = if (row.isNullAt(0)) 0L else row.getLong(2)
    val keptN = n - 2 * tr
    Seq((n, tr, Option.when(n > 0)(row.getDouble(1) / n),
        Option.when(n > 0 && keptN > 0)(row.getDouble(3) / keptN),
        Option.when(n > 0 && keptN > 0)(row.getDouble(4) / n),
        Option.when(n > 0)(row.getDouble(5))))
      .toDF("n", "n_trim_each", "mean", "trimmed_mean", "winsorized_mean",
        "median")
  }


  /** Yuen's trimmed-means test — the ROBUST two-sample location test
    * (the q247 Welch t compares means, which one heavy tail owns;
    * Yuen 1974 compares `trimFrac`-trimmed means with winsorized-variance
    * standard errors, keeping size and power under the tails every
    * corpus length/latency column actually has). One row: `(n_a, n_b,
    * h_a, h_b, trimmed_mean_a, trimmed_mean_b, t_stat, df)` — h = n−2⌊nf⌋
    * is the effective size, T = (x̄ₜᴬ−x̄ₜᴮ)/√(dᴬ+dᴮ) with
    * d = (Σw² − (Σw)²/n)/(h(h−1)) from the WINSORIZED values, df by
    * Welch–Satterthwaite. No p (t survival at fractional df is not SQL —
    * the Welch-ANOVA convention); NULL stats when either h < 2 or the
    * variance degenerates.
    *
    * Rank-exact like [[robustLocation]]: trimming drops exactly ⌊nf⌋
    * ranks per tail, winsorizing clamps them to the surviving extremes —
    * per-distinct-value overlap algebra, no interpolation. On
    * integer-valued columns every Σv·k / Σv²·k term is an exact integer
    * in double, so aggregation order cannot move a bit and the oracle
    * replays verbatim.
    *
    * Scale: per-side distinct-value counts, ONE shared two-phase
    * distributed cumsum over the full-outer value join (the
    * [[ksStatistic]] plan — absent-side values contribute zero overlap
    * by construction), a single reduce, scalar driver algebra. */
  def yuenTrimmedTest(a: DataFrame, b: DataFrame, column: String,
      trimFrac: Double = 0.1): DataFrame = {
    require(trimFrac >= 0 && trimFrac < 0.5,
      s"trimFrac must be in [0, 0.5): $trimFrac")
    val (cum, nA, nB, _) = graft.ops.ScaleOps.pooledValueCdf(a, b, column)
    graft.ops.ScaleOps.releasing(cum) {
      val spark = a.sparkSession
      import spark.implicits._
      // stats = (trimmed_mean_a, trimmed_mean_b, t_stat, df)
      def out(ha: Long, hb: Long,
          stats: Option[(Double, Double, Double, Double)]) =
        Seq((nA, nB, ha, hb, stats.map(_._1), stats.map(_._2),
            stats.map(_._3), stats.map(_._4)))
          .toDF("n_a", "n_b", "h_a", "h_b", "trimmed_mean_a",
            "trimmed_mean_b", "t_stat", "df")
      val tA = (nA * trimFrac).toLong; val tB = (nB * trimFrac).toLong
      val (hA, hB) = (nA - 2 * tA, nB - 2 * tB)
      if (hA < 2 || hB < 2) return out(math.max(hA, 0), math.max(hB, 0), None)
      def side(c: String, e: String, n: Long, t: Long) = {
        val hi = col(e) + col(c)
        val lo = col(e) + 1
        val keepLo = lit(t + 1); val keepHi = lit(n - t)
        val kept = greatest(least(hi, keepHi) - greatest(lo, keepLo) + 1,
          lit(0L))
        val lowCl = when(lo <= keepLo && keepLo <= hi, lit(t)).otherwise(lit(0L))
        val highCl = when(lo <= keepHi && keepHi <= hi, lit(t)).otherwise(lit(0L))
        val w = kept + lowCl + highCl
        (sum(col("v") * kept), sum(col("v") * w), sum(col("v") * col("v") * w))
      }
      val (tsA, wsA, w2A) = side("n_a", "_ea", nA, tA)
      val (tsB, wsB, w2B) = side("n_b", "_eb", nB, tB)
      val row = cum.agg(tsA.as("tsa"), wsA.as("wsa"), w2A.as("w2a"),
        tsB.as("tsb"), wsB.as("wsb"), w2B.as("w2b")).head()
      val tmA = row.getDouble(0) / hA
      val tmB = row.getDouble(3) / hB
      val dA = (row.getDouble(2) - row.getDouble(1) * row.getDouble(1) / nA) /
        (hA.toDouble * (hA - 1))
      val dB = (row.getDouble(5) - row.getDouble(4) * row.getDouble(4) / nB) /
        (hB.toDouble * (hB - 1))
      out(hA, hB, Option.when(dA + dB > 0)((tmA, tmB,
        (tmA - tmB) / math.sqrt(dA + dB),
        (dA + dB) * (dA + dB) / (dA * dA / (hA - 1) + dB * dB / (hB - 1)))))
    }
  }


  /** Multiple-testing p-value adjustment over a battery table —
    * Bonferroni, Holm step-down, Benjamini–Hochberg step-up and
    * Benjamini–Yekutieli in one operator ("which of these k tests
    * survive?"; [[ksByGroupFdr]] wires BH into the KS battery
    * specifically, this adjusts ANY table with a p column). `by` is BH
    * with the harmonic penalty c(m) = H_m = Σ1/i — FDR control under
    * ARBITRARY dependence (correlated tests, the common reality);
    * c(m) accumulates exactly as Σ 1/rank over the battery itself, so
    * the oracle replays it with no special function. Returns the input
    * columns plus `p_adjusted`, clamped to [0,1], with the standard
    * monotonicity enforcement (running max up the sorted order for
    * holm, running min down it for bh/by). NULL p rows pass through
    * with NULL adjusted. Ties order by p only — the adjusted value is
    * tie-invariant for all four methods.
    *
    * Scale: the battery table is TEST-bounded (tens to thousands of
    * rows), so the sort windows are bounded by construction — the
    * q95/q234 PlanSpec class; the corpus never enters this operator. */
  def pAdjust(df: DataFrame, pCol: String, method: String = "bh"): DataFrame = {
    require(Set("bonferroni", "holm", "bh", "by")(method),
      s"method must be bonferroni|holm|bh|by: $method")
    val withP = df.filter(col(pCol).isNotNull)
    val nullP = df.filter(col(pCol).isNull)
      .withColumn("p_adjusted", lit(null).cast("double"))
    val m = count(lit(1)).over(Window.partitionBy())
    val adjusted = method match {
      case "bonferroni" =>
        withP.withColumn("p_adjusted", least(col(pCol) * m, lit(1.0)))
      case "holm" =>
        val wAsc = Window.orderBy(col(pCol).asc)
        val run = Window.orderBy(col(pCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        withP
          .withColumn("_raw", col(pCol) * (m - row_number().over(wAsc) + 1))
          .withColumn("p_adjusted", least(max(col("_raw")).over(run), lit(1.0)))
          .drop("_raw")
      case "bh" | "by" =>
        val wDesc = Window.orderBy(col(pCol).desc)
        val run = Window.orderBy(col(pCol).desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // BY's harmonic penalty H_m = Σ 1/rank accumulates over the
        // battery rows themselves (ranks 1..m are a permutation), so no
        // closed form is needed and the oracle replays the exact sum
        val ranked = withP.withColumn("_rk", m - row_number().over(wDesc) + 1)
        val cm = if (method == "by")
          sum(lit(1.0) / col("_rk")).over(Window.partitionBy())
        else lit(1.0)
        ranked
          .withColumn("_raw", col(pCol) * m * cm / col("_rk"))
          .withColumn("p_adjusted", least(min(col("_raw")).over(run), lit(1.0)))
          .drop("_rk").drop("_raw")
    }
    adjusted.unionByName(nullP)
  }


  /** Count-model fit diagnostic — "are these counts Poisson, or do they
    * need a negative binomial (and is there excess zero mass)?": the
    * method-of-moments NB fit r̂ = μ²/(σ²−μ) beside the observed /
    * Poisson-expected / NB-expected zero fractions
    * ([[overdispersionTest]] DETECTS overdispersion; this panel says
    * what to fit instead and whether zero inflation remains on top).
    * One row: `(n, mean, variance, zero_frac_obs, zero_frac_poisson,
    * nb_r, zero_frac_nb)`; NULL NB columns when σ² ≤ μ (no
    * overdispersion — Poisson already fits). Complete-case.
    *
    * Scale: ONE (count, Σx, Σx², zero-count) aggregation; scalar driver
    * algebra. */
  def countModelFit(df: DataFrame, countCol: String): DataFrame = {
    val x = col(countCol).cast("double")
    val row = df.filter(x.isNotNull)
      .agg(count(lit(1)).as("n"), sum(x).as("s"), sum(x * x).as("q"),
        sum(when(x === 0, 1L).otherwise(0L)).as("z"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (row.isNullAt(0)) 0L else row.getLong(0)
    // (mean, variance, zero_frac_obs) for n ≥ 2
    val m = Option.when(n >= 2)((row.getDouble(1) / n,
      (row.getDouble(2) - row.getDouble(1) * row.getDouble(1) / n) / (n - 1),
      row.getLong(3).toDouble / n))
    val nb = m.collect { case (mu, v, _) if v > mu && mu > 0 =>
      val r = mu * mu / (v - mu)
      (r, math.pow(r / (r + mu), r))
    }
    Seq((n, m.map(_._1), m.map(_._2), m.map(_._3),
        m.map(t => math.exp(-t._1)), nb.map(_._1), nb.map(_._2)))
      .toDF("n", "mean", "variance", "zero_frac_obs", "zero_frac_poisson",
        "nb_r", "zero_frac_nb")
  }


  /** Standardized effect-size panel for a two-slice mean difference — the
    * magnitude report a significance test can't carry ([[welchTTest]]
    * emits Cohen's d alone; this is the full family a drift review wants
    * side by side). One row: `(n_a, n_b, mean_a, mean_b, diff, cohens_d,
    * hedges_g, glass_delta, var_ratio)` — d on the pooled SD, Hedges' g =
    * d·(1 − 3/(4(nₐ+n_b)−9)) (the small-sample bias correction), Glass's
    * Δ on slice-a's SD alone (a = the control/reference slice — use when
    * the treatment changes the variance), and the a/b variance ratio.
    * NULLs where the respective denominator variance is 0 or a slice has
    * n < 2. Complete-case per side.
    *
    * Scale: ONE (count, Σv, Σv²) aggregation per side; scalar algebra on
    * the driver. */
  def effectSizes(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    val (na, sa, qa) = sideMoments(a, column)
    val (nb, sb, qb) = sideMoments(b, column)
    val spark = a.sparkSession
    import spark.implicits._
    val ma = Option.when(na > 0)(sa / na)
    val mb = Option.when(nb > 0)(sb / nb)
    val diff = for (x <- ma; y <- mb) yield x - y
    val ok = na >= 2 && nb >= 2
    val va = (qa - sa * sa / na) / (na - 1)
    val vb = (qb - sb * sb / nb) / (nb - 1)
    val sp2 = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2).toDouble
    val d = for (x <- diff if ok && sp2 > 0) yield x / math.sqrt(sp2)
    Seq((na, nb, ma, mb, diff, d,
        d.map(_ * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0))),
        for (x <- diff if ok && va > 0) yield x / math.sqrt(va),
        Option.when(ok && vb > 0)(va / vb)))
      .toDF("n_a", "n_b", "mean_a", "mean_b", "diff", "cohens_d", "hedges_g",
        "glass_delta", "var_ratio")
  }
}