package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift measurement between two dataset snapshots: the
  * Population Stability Index over fixed-width bins, the standard
  * production monitor for "did this feature's distribution move between
  * yesterday's corpus and today's" (PSI < 0.1 stable, 0.1–0.25 moderate,
  * > 0.25 major shift). Complements [[ProfileComparison]] (which diffs
  * summary stats with tolerances) with a shape-sensitive signal.
  *
  * Scale design: one aggregation over each side computes ALL columns' bin
  * counts in a single pass (explode of ≤ |cols| structs per row — no
  * per-column scans), against bin edges from one tiny min/max aggregate
  * broadcast to both sides. Everything after the two scans operates on
  * |cols| × bins rows. No driver-side data, no UDFs, no sampling.
  */
object Drift {


  /** Per-bin PSI decomposition. Bin edges are fixed-width over the
    * combined [min, max] of BOTH sides (so the two histograms are
    * comparable); each side's per-bin share is floored at `eps` before the
    * log-ratio so empty bins contribute a finite term. Returns
    * `(column_name, bin, n_a, n_b, psi_term)`; bins empty on both sides
    * are omitted (their term would be 0).
    */
  def psiBins(a: DataFrame, b: DataFrame, cols: Seq[String], bins: Int = 10,
      eps: Double = 1e-6): DataFrame = {
    require(cols.nonEmpty, "psi needs at least one column")
    require(bins >= 2, s"psi needs >= 2 bins, got $bins")
    require(eps > 0.0, s"eps must be positive, got $eps")
    val proj = cols.map(c => col(c).cast("double").as(c))
    val aggCols = cols.flatMap(c =>
      Seq(min(col(c)).as(s"_lo_$c"), max(col(c)).as(s"_hi_$c")))
    val minmax = a.select(proj: _*).unionByName(b.select(proj: _*))
      .agg(aggCols.head, aggCols.tail: _*)

    // one pass per side: every column's bin index as an exploded struct
    def binned(df: DataFrame, outName: String): DataFrame = {
      val entries = cols.map { c =>
        val x = col(c).cast("double")
        val lo = col(s"_lo_$c"); val hi = col(s"_hi_$c")
        val raw = floor(((x - lo) / (hi - lo)) * bins)
        val bin = when(hi === lo, lit(0L))
          .otherwise(least(greatest(raw, lit(0L)), lit(bins - 1L))).cast("int")
        struct(lit(c).as("column_name"), bin.as("bin"), x.isNotNull.as("ok"))
      }
      df.crossJoin(broadcast(minmax))
        .select(explode(array(entries: _*)).as("e"))
        .filter(col("e.ok"))
        .groupBy(col("e.column_name").as("column_name"), col("e.bin").as("bin"))
        .agg(count(lit(1)).as(outName))
    }

    val ca = binned(a, "n_a")
    val cb = binned(b, "n_b")
    val joined = ca.join(cb, Seq("column_name", "bin"), "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
    val w = Window.partitionBy("column_name")
    val pa = greatest(col("n_a") / sum("n_a").over(w), lit(eps))
    val pb = greatest(col("n_b") / sum("n_b").over(w), lit(eps))
    joined.withColumn("psi_term", (pa - pb) * log(pa / pb))
  }


  /** Total PSI per column: `(column_name, psi)`. */
  def psi(a: DataFrame, b: DataFrame, cols: Seq[String], bins: Int = 10,
      eps: Double = 1e-6): DataFrame =
    psiBins(a, b, cols, bins, eps)
      .groupBy("column_name")
      .agg(sum("psi_term").as("psi"))


  /** [[ksStatistic]] per group: one KS row per value of `groupCol`
    * present in BOTH snapshots — drift localization ("which source
    * moved?"). Same distinct-value construction with the group in every
    * key; the running-CDF window partitions by group, so no global
    * ordering at all (stronger than the ungrouped form). */
  def ksByGroup(a: DataFrame, b: DataFrame, groupCol: String,
      column: String): DataFrame = {
    def side(df: DataFrame, out: String) = df
      .select(col(groupCol).as("group"), col(column).cast("double").as("v"))
      .filter(col("v").isNotNull && col("group").isNotNull)
      .groupBy("group", "v").agg(count(lit(1)).as(out))
    val joined = side(a, "n_a").join(side(b, "n_b"), Seq("group", "v"), "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
    val totals = joined.groupBy("group")
      .agg(sum("n_a").as("_ta"), sum("n_b").as("_tb"))
      .filter(col("_ta") > 0 && col("_tb") > 0) // KS undefined for one-sided groups
    val w = Window.partitionBy("group").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    joined.join(totals, "group")
      .withColumn("_d",
        abs(sum("n_a").over(w) / col("_ta") - sum("n_b").over(w) / col("_tb")))
      .groupBy("group")
      .agg(max(col("_ta")).as("n_a"), max(col("_tb")).as("n_b"),
        round(max("_d"), 6).as("ks"))
  }


  /** Two-sample Kolmogorov–Smirnov statistic: `max |F_a(v) − F_b(v)|`
    * over the empirical CDFs — the binning-free drift measure (PSI's
    * companion: KS sees shape shifts PSI's 10 bins smear out).
    *
    * Shape: per-side counts per DISTINCT value, then a DISTRIBUTED
    * running CDF (range partition + per-partition windows + driver
    * prefix-summed offsets — [[graft.ops.ScaleOps.pooledValueCdf]]).
    * Exact for any distinct
    * cardinality, continuous columns included; no bounded-distinct
    * contract. Returns one row `(n_a, n_b, ks)`. */
  def ksStatistic(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    // both running CDFs ride the one pooled-value cumsum; the lazy
    // aggregate returns to the caller, which releases `cum`'s blocks
    val (cum, ta, tb, _) = graft.ops.ScaleOps.pooledValueCdf(a, b, column)
    cum
      .withColumn("_d", abs(
        (col("_ea") + col("n_a")) / lit(ta).cast("double") -
        (col("_eb") + col("n_b")) / lit(tb).cast("double")))
      .agg(max(lit(ta)).as("n_a"), max(lit(tb)).as("n_b"),
        round(max("_d"), 6).as("ks"))
  }


  /** Quantile normalization: map each target value onto the REFERENCE
    * distribution — `norm = inf { v ∈ ref : P(ref ≤ v) ≥ rank(t) }`, the
    * exact empirical inverse-CDF transform (the cross-snapshot score
    * calibrator: after it, yesterday's and today's quality scores are
    * comparable at equal quantiles). Target ranks use `(value, id)`
    * ordering so ties are deterministic. Output:
    * `(id, value, target_cd, norm_value)`.
    *
    * Scale shape: target ranks come from the two-phase
    * [[graft.ops.IndexOps.stableRowNumber]] (range sort, NO global
    * window); the reference reduces to one CDF row per DISTINCT value —
    * that table must be broadcastable (scores/quantized features: yes;
    * document otherwise). The inverse lookup is a BUCKETED equi-join, not
    * an inequality join: CDF space splits into `buckets` fixed cells; a
    * target row compares only against its own cell's reference rows
    * (≈ |ref|/buckets of them) plus one precomputed suffix-min row —
    * exact results at O(|target|·|ref|/buckets) comparisons instead of
    * the naive O(|target|·|ref|). Correct because a reference row in an
    * EARLIER cell can never reach the target's rank, and any row in a
    * LATER cell always does (covered whole by the suffix minimum). The
    * reference CDF's running sum uses the shared two-phase distributed
    * cumsum ([[graft.ops.ScaleOps.withExclusiveRunningSum]] — deterministic
    * range buckets, no checkpoint); the only single-partition stage left
    * is the suffix-min over the cell table — ≤ `buckets` rows by
    * construction, a true bound. */
  def quantileNormalize(ref: DataFrame, target: DataFrame,
      targetId: String, column: String, buckets: Int = 1024): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val refVals = ref.select(col(column).cast("double").as("__rv"))
      .filter(col("__rv").isNotNull)
    val refTotal = refVals.agg(count(lit(1)).as("__nr"))
    def cell(c: Column): Column =
      least(floor(c * buckets).cast("int"), lit(buckets - 1))
    // inclusive running count = the shared exclusive two-phase cumsum + own
    // count — same exact long sums a global window would produce
    val refCdf = graft.ops.ScaleOps.withExclusiveRunningSum(
        refVals.groupBy(col("__rv")).agg(count(lit(1)).as("__c")),
        col("__rv"), "__c", "__below")
      .withColumn("__cum", col("__below") + col("__c"))
      .crossJoin(broadcast(refTotal))
      .select(col("__rv"), (col("__cum").cast("double") / col("__nr")).as("__rcd"))
      .withColumn("__b", cell(col("__rcd")))
    // per-cell suffix minimum over STRICTLY LATER cells, densified so every
    // target cell finds its fallback row (cells. not values: ≤ `buckets` rows)
    val spine = refTotal.select(explode(sequence(lit(0), lit(buckets - 1))).as("__b"))
    val wsfx = Window.orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val suffix = spine
      .join(refCdf.groupBy(col("__b")).agg(min(col("__rv")).as("__bmin")), Seq("__b"), "left")
      .withColumn("__sfx", min(col("__bmin")).over(wsfx))
      .select(col("__b"), col("__sfx"))
    val tgt = target
      .select(col(targetId).as("id"), col(column).cast("double").as("value"))
      .filter(col("value").isNotNull)
    val tgtTotal = tgt.agg(count(lit(1)).as("__nt"))
    val ranked = graft.ops.IndexOps.stableRowNumber(tgt, Seq("value", "id"), "__rn")
      .crossJoin(broadcast(tgtTotal))
      .select(col("id"), col("value"),
        (col("__rn").cast("double") / col("__nt")).as("target_cd"))
      .withColumn("__b", cell(col("target_cd")))
    ranked
      .join(broadcast(refCdf),
        ranked("__b") === refCdf("__b") && col("__rcd") >= col("target_cd"), "left")
      .groupBy(col("id"), col("value"), col("target_cd"), ranked("__b"))
      .agg(min(col("__rv")).as("__w")) // CDF monotone ⇒ min value = inf
      .join(broadcast(suffix), Seq("__b"), "left")
      .select(col("id"), col("value"), col("target_cd"),
        when(col("__w").isNull, col("__sfx"))
          .when(col("__sfx").isNull, col("__w"))
          .otherwise(least(col("__w"), col("__sfx"))).as("norm_value"))
  }


  /** Per-key least-squares trend: slope, intercept and R² of `yCol` over
    * `xCol` within each key group — the drift DIRECTION detector that
    * complements the distribution tests (PSI/KS say "changed"; the slope
    * says "rising or falling, and how fast"). Built on Spark's native
    * `regr_*` aggregates (codegen'd, single-pass, partial-aggregated):
    * one shuffle keyed by `keyCols`, O(#keys) output. Groups with fewer
    * than 2 distinct x values have undefined slope — their row reports
    * NULLs (native regr_* semantics on both engines). */
  def trendSlope(df: DataFrame, keyCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    df.groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_points"),
        regr_slope(col(yCol), col(xCol)).as("slope"),
        regr_intercept(col(yCol), col(xCol)).as("intercept"),
        regr_r2(col(yCol), col(xCol)).as("r2"))
  }


  /** Asymptotic two-sided KS p-value: the Kolmogorov distribution tail
    * `p = 2 Σ_{j≥1} (−1)^{j−1} exp(−2 j² λ²)` with `λ = √(nₐ·n_b/(nₐ+n_b))·D`,
    * truncated at 100 terms. The series is EXACT for λ > 0 and the
    * truncation error (first omitted term, 2·exp(−2·101²λ²)) is < 1e-12
    * for λ ≥ 0.037; below that the alternating tail has not died out yet,
    * so the guard returns 1 outright — the true p there is 1 to within
    * e^{−900}. The guard and truncation are IDENTICAL on both engines, so
    * the value is reproducible, not just accurate. Clamped to [0, 1]. A
    * pure fold expression — codegen'd, no UDF. */
  private[graft] def ksPValue(lambda: Column): Column = {
    val series = aggregate(
      sequence(lit(1), lit(100)),
      lit(0.0),
      (acc, j) => acc +
        when(j % 2 === 1, lit(2.0)).otherwise(lit(-2.0)) *
          exp(lit(-2.0) * j.cast("double") * j.cast("double") * lambda * lambda))
    when(lambda < 0.037, lit(1.0))
      .otherwise(least(greatest(series, lit(0.0)), lit(1.0)))
  }


  /** [[ksByGroup]] + per-group p-values + a Benjamini–Hochberg FDR gate —
    * the DRIFT BATTERY: when twenty sources each get a KS test, raw
    * α = 0.05 flags one source by chance alone every run; BH controls the
    * expected false-discovery rate across the battery. Output one row per
    * group present in both snapshots: `(group, n_a, n_b, ks, p_value,
    * rejected)` — `rejected` = the group survives the BH step-up at
    * `alpha` (p ≤ p* where p* is the largest p_(k) ≤ k·α/m).
    *
    * Scale: everything after [[ksByGroup]] operates on the GROUP-bounded
    * result table; the BH rank prefix rides the shared deterministic-
    * bucket cumsum over distinct p-values (inclusive count = BH's
    * largest-index-in-tie convention), never a global window. */
  def ksByGroupFdr(a: DataFrame, b: DataFrame, groupCol: String,
      column: String, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    val ks = ksByGroup(a, b, groupCol, column)
    val ne = col("n_a").cast("double") * col("n_b") /
      (col("n_a") + col("n_b"))
    // The battery table is GROUP-bounded (one row per group), so persist
    // IT — both the BH threshold below and the returned frame then read
    // the expensive two-sided join-plus-battery lineage exactly once. The
    // persist rides the internal registry: the harness's post-consume
    // releaseCheckpointBlocks / clearCache drops it (the same
    // caller-unpersist contract as the dedup kernel bases).
    val withP = graft.ops.ScaleOps.persisted(ks.withColumn("p_value",
      ksPValue(sqrt(ne) * col("ks"))))
    // BH step-up over the m group p-values: distinct-p counts + inclusive
    // cumulative rank (= BH's largest-index-in-tie convention). byP is a
    // cheap agg over the PERSISTED battery, so the cumsum skips its own
    // input cache; the one-row p* collects to the driver and the cumsum
    // blocks release eagerly.
    val byP = withP.groupBy(col("p_value")).agg(count(lit(1)).as("__c"))
    val (cum, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      byP, col("p_value"), Seq("__c"), Seq("__below"),
      persistInput = false)
    val m = grand.head
    val pstarRow = cum
      .withColumn("__rank", col("__below") + col("__c"))
      .agg(max(when(col("p_value") <=
        (col("__rank").cast("double") * alpha / m), col("p_value")))
        .as("__pstar"))
      .head()
    // no cumsum release here: with persistInput=false on a deterministic
    // plan the cumsum pins nothing, and cum's lineage CONTAINS the
    // registered withP persist — releasing through it would drop the very
    // cache the returned frame exists to reuse
    val rejected =
      if (pstarRow.isNullAt(0)) lit(false)
      else col("p_value") <= lit(pstarRow.getDouble(0))
    withP.withColumn("rejected", rejected)
  }


  /** Jensen–Shannon divergence between two slices' CATEGORICAL
    * distributions over `column` — the symmetric, always-finite
    * distribution-shift measure (PSI needs bins and an eps floor; KL blows
    * up on one-sided categories; JSD is bounded: ≤ ln 2 nats ≡ 1 bit).
    * One row out: `(n_a, n_b, k, jsd_nats, jsd_bits)` over the union of
    * observed categories (one-sided categories contribute their full
    * p·ln 2 mass — no smoothing). NULL when either side is empty.
    *
    * Scale: one partial-aggregated count per side (category-bounded), a
    * category-keyed join, one reduce. Nothing is row-sized after the two
    * scans. */
  def jsDivergence(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    def side(df: DataFrame, out: String) = df
      .filter(col(column).isNotNull)
      .groupBy(col(column).cast("string").as("v"))
      .agg(count(lit(1)).as(out))
    val joined = side(a, "cnt_a").join(side(b, "cnt_b"), Seq("v"), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
    val totals = joined.agg(
      sum(col("cnt_a")).as("_ta"), sum(col("cnt_b")).as("_tb"),
      count(lit(1)).as("_k"))
    val p = col("cnt_a") / col("_ta")
    val q = col("cnt_b") / col("_tb")
    val m = (p + q) / 2
    val term =
      when(col("cnt_a") > 0, p / 2 * log(p / m)).otherwise(lit(0.0)) +
      when(col("cnt_b") > 0, q / 2 * log(q / m)).otherwise(lit(0.0))
    joined.crossJoin(broadcast(totals))
      .agg(
        first(col("_ta")).cast("long").as("n_a"),
        first(col("_tb")).cast("long").as("n_b"),
        first(col("_k")).cast("long").as("k"),
        sum(term).as("jsd_nats"))
      .select(col("n_a"), col("n_b"), col("k"),
        when(col("n_a") > 0 && col("n_b") > 0, col("jsd_nats")).as("jsd_nats"))
      .withColumn("jsd_bits", col("jsd_nats") / lit(math.log(2.0)))
  }


  /** Distribution-distance battery between two slices' categorical
    * distributions — total variation, Hellinger, and the symmetric χ²
    * distance in one pass (the metrics panel behind "how far did the mix
    * move": TV is the worst-case probability gap and bounds every event's
    * shift; Hellinger is the geometry-friendly one (true metric, bounded
    * [0,1]); symmetric χ² = Σ(p−q)²/(p+q) weights rare-category moves up).
    * [[jsDivergence]] is the information-theoretic sibling — same join
    * shape, reported separately because its units (nats) differ. One row:
    * `(n_a, n_b, k, tv, hellinger, chi2_sym)`; NULLs when either side is
    * empty.
    *
    * Scale: one category-bounded count per side, one category join, one
    * reduce — the [[jsDivergence]] plan exactly. */
  def distributionDistances(a: DataFrame, b: DataFrame,
      column: String): DataFrame = {
    def side(df: DataFrame, out: String) = df
      .filter(col(column).isNotNull)
      .groupBy(col(column).cast("string").as("v"))
      .agg(count(lit(1)).as(out))
    val joined = side(a, "cnt_a").join(side(b, "cnt_b"), Seq("v"), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
    val totals = joined.agg(
      sum(col("cnt_a")).as("_ta"), sum(col("cnt_b")).as("_tb"),
      count(lit(1)).as("_k"))
    val p = col("cnt_a") / col("_ta")
    val q = col("cnt_b") / col("_tb")
    joined.crossJoin(broadcast(totals))
      .agg(
        first(col("_ta")).cast("long").as("n_a"),
        first(col("_tb")).cast("long").as("n_b"),
        first(col("_k")).cast("long").as("k"),
        (sum(abs(p - q)) / 2).as("_tv"),
        sum(pow(sqrt(p) - sqrt(q), 2)).as("_h2"),
        sum(pow(p - q, 2) / (p + q)).as("_x2"))
      .select(col("n_a"), col("n_b"), col("k"),
        when(col("n_a") > 0 && col("n_b") > 0, col("_tv")).as("tv"),
        when(col("n_a") > 0 && col("n_b") > 0,
          sqrt(least(col("_h2") / 2, lit(1.0)))).as("hellinger"),
        when(col("n_a") > 0 && col("n_b") > 0, col("_x2")).as("chi2_sym"))
  }


  /** Two-sample Cramér–von Mises test — the WHOLE-distribution companion
    * of KS ([[ksStatistic]] reacts to the single worst CDF gap; CvM
    * integrates the SQUARED gap over every observation, so many small
    * body shifts that KS shrugs at accumulate): the tie-aware statistic
    * T = nₐ·n_b/N² · Σ_z (F_a(z) − F_b(z))² summed over the combined
    * sample WITH multiplicity, plus the exact null mean
    * E[T] = (1 + 1/N)/6 and Anderson's exact null variance, reported as
    * the standardized z. One row: `(n_a, n_b, t, t_expected, z)`; NULLs
    * when either side is empty.
    *
    * Scale: the [[mannWhitneyU]] plan — per-distinct-value counts, the
    * shared deterministic-bucket cumsum for inclusive CDFs, one reduce. */
  def cramerVonMises(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    val (cum, na, nb, _) = graft.ops.ScaleOps.pooledValueCdf(a, b, column)
    graft.ops.ScaleOps.releasing(cum) {
      val spark = a.sparkSession
      import spark.implicits._
      // stats = (t, t_expected, z) once both sides hold values
      def out(stats: Option[(Double, Double, Option[Double])]) =
        Seq((na, nb, stats.map(_._1), stats.map(_._2), stats.flatMap(_._3)))
          .toDF("n_a", "n_b", "t", "t_expected", "z")
      if (na == 0 || nb == 0) return out(None)
      val fa = (col("_ea") + col("n_a")).cast("double") / na
      val fb = (col("_eb") + col("n_b")).cast("double") / nb
      val s = cum.agg(
        sum((col("n_a") + col("n_b")).cast("double") * pow(fa - fb, 2)).as("_s"))
        .head().getDouble(0)
      val (m, nn) = (na.toDouble, nb.toDouble)
      val bigN = m + nn
      val t = m * nn / (bigN * bigN) * s
      val et = (1 + 1 / bigN) / 6
      val varT = (bigN + 1) / (45 * bigN * bigN) *
        (4 * m * nn * bigN - 3 * (m * m + nn * nn) - 2 * m * nn) / (4 * m * nn)
      out(Some((t, et, Option.when(varT > 0)((t - et) / math.sqrt(varT)))))
    }
  }


  /** Exact 1-D Wasserstein-1 (earth-mover) distance between two numeric
    * slices — the drift metric with UNITS: W₁ = ∫|F_a − F_b| dx is the
    * average distance probability mass must move, in the column's own
    * scale ("the length distribution moved 37 tokens"), where KS reports
    * a unitless worst-case gap and [[psi]] depends on binning. Computed
    * exactly over the merged distinct values: Σᵢ |F_a(vᵢ) − F_b(vᵢ)| ·
    * (vᵢ₊₁ − vᵢ). One row: `(n_a, n_b, n_values, w1, w1_norm)` with
    * `w1_norm` = W₁/(v_max − v_min) ∈ [0,1] (NULL when constant);
    * NULLs when either side is empty.
    *
    * Scale: per-distinct-value counts (partial-aggregated), ONE
    * deterministic-bucket cumsum pass producing inclusive CDFs AND the
    * value's global rank (a ones-column running sum), then the
    * consecutive-value gaps come from a rank⁺¹ EQUI-join of the value
    * table with itself — a shuffle join on the rank key, NOT a global
    * window, so no single-partition stall on high-cardinality columns. */
  def wasserstein1(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    val (cum, na, nb, nValues) = graft.ops.ScaleOps.pooledValueCdf(a, b, column)
    graft.ops.ScaleOps.releasing(cum) {
      val spark = a.sparkSession
      import spark.implicits._
      def out(w1: Option[Double], w1Norm: Option[Double]) =
        Seq((na, nb, nValues, w1, w1Norm))
          .toDF("n_a", "n_b", "n_values", "w1", "w1_norm")
      if (na == 0 || nb == 0) return out(None, None)
      val agg = neighborGaps(cum, na, nb)
        .agg(
          sum(abs(col("_fa") - col("_fb")) * (col("_vNext") - col("v"))).as("_w1"),
          min(col("v")).as("_lo"), max(col("_vNext")).as("_hi"))
        .head()
      // a single merged distinct value: zero mass distance by definition
      if (agg.isNullAt(0)) return out(Some(0.0), None)
      val w1 = agg.getDouble(0)
      val range = agg.getDouble(2) - agg.getDouble(1)
      out(Some(w1), Option.when(range > 0)(w1 / range))
    }
  }

  /** Each pooled distinct value `v` beside its successor `_vNext`, with both
    * inclusive CDFs `_fa`/`_fb` at `v` — the rank⁺¹ equi-join of the
    * [[graft.ops.ScaleOps.pooledValueCdf]] frame with itself that
    * [[wasserstein1]] and [[energyDistance]] integrate over. */
  private def neighborGaps(cum: DataFrame, na: Long, nb: Long): DataFrame = {
    val cur = cum.select(col("v"), col("_rank"),
      ((col("_ea") + col("n_a")).cast("double") / na).as("_fa"),
      ((col("_eb") + col("n_b")).cast("double") / nb).as("_fb"))
    val next = cur.select(col("v").as("_vNext"), (col("_rank") - 1).as("_rank"))
    cur.join(next, Seq("_rank"))
  }


  /** Covariate balance table — the experiment-QA check that runs BEFORE
    * any effect estimate: per covariate, the standardized mean
    * difference SMD = (m_a − m_b)/√((v_a+v_b)/2) between two cohorts
    * (|SMD| < 0.1 is the conventional "balanced" band — a randomization
    * or join bug shows up here first) and the variance ratio. One row
    * per covariate: `(covariate, n_a, n_b, mean_a, mean_b, smd,
    * var_ratio)`; NULL smd/ratio when a pooled variance vanishes.
    *
    * Scale: ONE moment aggregation per cohort covering every covariate
    * (no per-column scans); the k-bounded result reshapes to rows on
    * the driver. */
  def covariateBalance(a: DataFrame, b: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one covariate required")
    def side(df: DataFrame) = df.agg(
      count(lit(1)).as("__n"),
      cols.flatMap(c => Seq(
        avg(col(c).cast("double")).as(s"__m_$c"),
        var_samp(col(c).cast("double")).as(s"__v_$c"))): _*)
      .head()
    val ra = side(a); val rb = side(b)
    val na = ra.getLong(0); val nb = rb.getLong(0)
    val spark = a.sparkSession
    import spark.implicits._
    val rows = cols.map { c =>
      def g(r: org.apache.spark.sql.Row, pfx: String): Option[Double] = {
        val i = r.fieldIndex(s"__${pfx}_$c")
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      }
      val (ma, va) = (g(ra, "m"), g(ra, "v"))
      val (mb, vb) = (g(rb, "m"), g(rb, "v"))
      val pooled = for (x <- va; y <- vb) yield (x + y) / 2
      val smd = for (x <- ma; y <- mb; p <- pooled if p > 0)
        yield (x - y) / math.sqrt(p)
      val vr = for (x <- va; y <- vb if y > 0) yield x / y
      (c, na, nb, ma, mb, smd, vr)
    }
    rows.toDF("covariate", "n_a", "n_b", "mean_a", "mean_b", "smd",
      "var_ratio")
  }


  /** Exact 1-D energy distance between two numeric slices — the
    * two-sample metric that is zero IFF the distributions are equal
    * (unlike W₁'s units or KS's sup-norm, energy distance powers the
    * general-purpose two-sample test behind modern drift monitors). In
    * one dimension Székely's identity collapses the pairwise definition
    * 2E|X−Y| − E|X−X'| − E|Y−Y'| to 2∫(F_a−F_b)² dx — the
    * [[wasserstein1]] plan with SQUARED gaps, computed exactly over the
    * merged distinct values. One row: `(n_a, n_b, e2, e)` with
    * e = √e2; NULLs when either side is empty.
    *
    * Scale: identical to [[wasserstein1]] — distinct-value counts, one
    * cumsum carrying CDFs + rank, neighbor gaps via the rank⁺¹
    * equi-join. */
  def energyDistance(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    val (cum, na, nb, _) = graft.ops.ScaleOps.pooledValueCdf(a, b, column)
    graft.ops.ScaleOps.releasing(cum) {
      val spark = a.sparkSession
      import spark.implicits._
      def out(e2: Option[Double]) =
        Seq((na, nb, e2, e2.map(v => math.sqrt(math.max(0.0, v)))))
          .toDF("n_a", "n_b", "e2", "e")
      if (na == 0 || nb == 0) return out(None)
      val agg = neighborGaps(cum, na, nb)
        .agg(sum(pow(col("_fa") - col("_fb"), 2) * (col("_vNext") - col("v")))
          .as("_i"))
        .head()
      out(Some(if (agg.isNullAt(0)) 0.0 else 2 * agg.getDouble(0)))
    }
  }


  /** Q–Q drift table — WHERE in the distribution did the shift happen:
    * exact quantiles of both snapshots at the requested probabilities,
    * side by side with the per-quantile shift (KS gives one worst-case
    * number; a Q–Q table says "the median moved 2%, the p99 moved 40%" —
    * the tail-vs-body diagnosis that decides the response). One row per
    * p: `(p, q_a, q_b, shift)`; NULL quantiles when a side has no
    * non-null values.
    *
    * Scale: rides [[ExactQuantiles]] — histogram-refinement passes shared
    * across all requested ps (a handful of scans regardless of |ps|),
    * exact values with Spark-percentile interpolation, no sort. */
  def qqDrift(a: DataFrame, b: DataFrame, column: String,
      ps: Seq[Double] = (1 to 9).map(_ / 10.0)): DataFrame = {
    require(ps.nonEmpty, "at least one probability required")
    val qa = ExactQuantiles.quantiles(a, Seq(column), ps)(column)
    val qb = ExactQuantiles.quantiles(b, Seq(column), ps)(column)
    val spark = a.sparkSession
    import spark.implicits._
    ps.indices.map { i =>
      (ps(i), qa(i), qb(i),
        for (x <- qa(i); y <- qb(i)) yield y - x)
    }.toDF("p", "q_a", "q_b", "shift")
  }


  /** Chi-square upper-tail survival shared by the k-group tests below:
    * the closed finite sum `exp(-x/2) Σ_{j<df/2} (x/2)^j / j!` for EVEN
    * df (exact, and replayable verbatim in oracle SQL — the [[ljungBox]]
    * convention), [[ColumnProfiler]]'s incomplete-gamma `Stat.chiSquareP`
    * for odd df (exact to 1e-14, but not SQL-expressible — oracle-backed
    * queries should stick to even-df designs). */
  private[graft] def chi2Survival(dof: Int, x: Double): Double = {
    require(dof >= 1, s"dof must be >= 1: $dof")
    if (x <= 0) return 1.0
    if (dof % 2 == 0) {
      var term = 1.0; var acc = 1.0
      for (j <- 1 until dof / 2) { term *= (x / 2) / j; acc += term }
      math.min(1.0, math.exp(-x / 2) * acc)
    } else Stat.chiSquareP(dof, x)
  }


  /** Euler–Mascheroni γ (H_n = ψ(n+1) + γ). */
  private[graft] val EulerGamma = 0.5772156649015328606


  /** Digamma ψ(x) for x ≥ 1 — upward recurrence ψ(x) = ψ(x+1) − 1/x to
    * x ≥ 10, then the A&S 6.3.18 asymptotic series (the same published
    * Abramowitz & Stegun polynomial precedent as [[chi2Survival]]'s
    * erfc family); |rel err| < 1e-15 on the harmonic-number range used
    * here. */
  private[graft] def digamma(x0: Double): Double = {
    require(x0 > 0, s"digamma needs x > 0: $x0")
    var x = x0
    var acc = 0.0
    while (x < 10.0) { acc -= 1.0 / x; x += 1.0 }
    val inv = 1.0 / x
    val inv2 = inv * inv
    acc + math.log(x) - 0.5 * inv -
      inv2 * (1.0 / 12 - inv2 * (1.0 / 120 - inv2 *
        (1.0 / 252 - inv2 * (1.0 / 240 - inv2 / 132))))
  }


  /** Trigamma ψ'(x) for x ≥ 1 — upward recurrence ψ'(x) = ψ'(x+1) + 1/x²
    * to x ≥ 10, then the A&S 6.4.12 asymptotic series.
    * H_n^(2) = π²/6 − ψ'(n+1). */
  private[graft] def trigamma(x0: Double): Double = {
    require(x0 > 0, s"trigamma needs x > 0: $x0")
    var x = x0
    var acc = 0.0
    while (x < 10.0) { acc += 1.0 / (x * x); x += 1.0 }
    val inv = 1.0 / x
    val inv2 = inv * inv
    acc + inv * (1.0 + inv * (0.5 + inv * (1.0 / 6 - inv2 *
      (1.0 / 30 - inv2 * (1.0 / 42 - inv2 / 30)))))
  }


  /** Upper-tail standard-normal survival via the Abramowitz–Stegun
    * 7.1.26 erfc polynomial (|ε| < 1.5e-7) — NOT a maximally-exact Φ̄:
    * the point is that the SAME closed formula evaluates on any SQL
    * engine (exp + a degree-5 polynomial), so oracle replays agree to
    * double rounding rather than to "whose erf implementation". Used for
    * odd-df chi-square survivals (χ²(1) = 2·Φ̄(√x)). */
  private[graft] def normalSfAS(z: Double): Double = {
    if (z < 0) return 1.0 - normalSfAS(-z)
    val zz = z / math.sqrt(2.0)
    val t = 1.0 / (1.0 + 0.3275911 * zz)
    val poly = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
      t * (-1.453152027 + t * 1.061405429))))
    0.5 * poly * math.exp(-zz * zz)
  }


  /** Kuiper two-sample test — the rotation-invariant KS: V = D⁺ + D⁻
    * (max CDF exceedance in EACH direction) weighs the tails equally and
    * is invariant to cyclic shifts, so it catches phase drift in
    * periodic features (hour-of-day, day-of-week usage) that plain KS —
    * anchored at the median — underweights. One row:
    * `(n_a, n_b, d_plus, d_minus, v, p_value)` with the standard
    * asymptotic series p = 2·Σ_{m≥1} (4m²λ²−1)·e^(−2m²λ²) at
    * λ = (√Nₑ + 0.155 + 0.24/√Nₑ)·V, truncated at 100 terms — the
    * identical finite sum replays in oracle SQL. NULL p when either side
    * is empty.
    *
    * Scale: the [[ksStatistic]] plan verbatim — per-side distinct-value
    * counts, ONE shared two-phase distributed cumsum (footer-split
    * hinted), a max reduce. No global window, no row-sized state. */
  def kuiperTest(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    val (cum, ta, tb, _) = graft.ops.ScaleOps.pooledValueCdf(a, b, column)
    graft.ops.ScaleOps.releasing(cum) {
      val spark = a.sparkSession
      import spark.implicits._
      // stats = (d_plus, d_minus, v, p_value) once both sides hold values
      def out(stats: Option[(Double, Double, Double, Double)]) =
        Seq((ta, tb, stats.map(_._1), stats.map(_._2), stats.map(_._3),
            stats.map(_._4)))
          .toDF("n_a", "n_b", "d_plus", "d_minus", "v", "p_value")
      if (ta == 0 || tb == 0) return out(None)
      val gap = (col("_ea") + col("n_a")) / lit(ta).cast("double") -
        (col("_eb") + col("n_b")) / lit(tb).cast("double")
      val row = cum.withColumn("_g", gap)
        .agg(greatest(max(col("_g")), lit(0.0)).as("dp"),
          greatest(max(-col("_g")), lit(0.0)).as("dm"))
        .head()
      val (dp, dm) = (row.getDouble(0), row.getDouble(1))
      val v = dp + dm
      val ne = ta.toDouble * tb / (ta + tb)
      val lam = (math.sqrt(ne) + 0.155 + 0.24 / math.sqrt(ne)) * v
      // the asymptotic series diverges as λ → 0 (every term → −1); the
      // standard guard (Numerical Recipes' probkp) returns 1 below 0.4,
      // where the true survival is 1 to double precision anyway
      val p = if (lam < 0.4) 1.0 else {
        var acc = 0.0
        var m = 1
        while (m <= 100) {
          acc += (4.0 * m * m * lam * lam - 1.0) *
            math.exp(-2.0 * m * m * lam * lam)
          m += 1
        }
        math.min(1.0, math.max(0.0, 2.0 * acc))
      }
      out(Some((dp, dm, v, p)))
    }
  }


  /** Two-sample Anderson–Darling test (tie-adjusted A²ₐₖN of Scholz &
    * Stephens 1987, k = 2) — the rank test that weighs the TAILS where
    * KS's single-supremum statistic is least sensitive; the standard
    * choice for "same distribution?" when tail drift is what matters.
    * Ties use the midrank adjustment exactly (discrete columns are
    * first-class, not a caveat). One row:
    * `(n_a, n_b, a2, sigma, t_stat)` where `t_stat` = (A² − 1)/σ_N is
    * the Scholz–Stephens standardization (compare to their critical
    * table: 1.960 at 5%, 3.752 at 1% — no closed p-value exists, which
    * is why none is emitted). NULL when either side is empty or the
    * pooled column is constant.
    *
    * Scale: the [[ksStatistic]] distributed-cumsum plan for the A²
    * sums; the σ_N harmonic constants evaluate in O(1) at ANY N via
    * [[digamma]]/[[trigamma]] closed forms (h = H_{N−1} = ψ(N) + γ, and
    * the double sum collapses exactly through the Euler-sum identity
    * Σ_{m=1}^{n−1} H_m/(n−m) = H_n² − H_n^(2) to
    * g = H_N^(2) − 2H_{N−1}/N − 1/N²) — no driver loop, no N bound. */
  def andersonDarling2(a: DataFrame, b: DataFrame, column: String): DataFrame = {
    val (cum, na, nb, _) = graft.ops.ScaleOps.pooledValueCdf(a, b, column)
    graft.ops.ScaleOps.releasing(cum) {
      val bigN = na + nb
      val spark = a.sparkSession
      import spark.implicits._
      // stats = (a2, sigma, t_stat) of a non-constant pooled column
      def out(stats: Option[(Double, Double, Double)]) =
        Seq((na, nb, stats.map(_._1), stats.map(_._2), stats.map(_._3)))
          .toDF("n_a", "n_b", "a2", "sigma", "t_stat")
      if (na == 0 || nb == 0) return out(None)
      val l = col("n_a") + col("n_b")
      val bj = col("_ea") + col("_eb") + l
      val ba = bj - l / lit(2.0)
      val maA = col("_ea") + col("n_a") / lit(2.0)
      val maB = col("_eb") + col("n_b") / lit(2.0)
      val denom = ba * (lit(bigN.toDouble) - ba) - lit(bigN.toDouble) * l / 4
      def side(ma: org.apache.spark.sql.Column, n: Long) =
        sum(when(denom > 0,
          l * pow(lit(bigN.toDouble) * ma - lit(n.toDouble) * ba, 2) / denom))
      val row = cum.agg(side(maA, na).as("sa"), side(maB, nb).as("sb")).head()
      if (row.isNullAt(0) || row.isNullAt(1)) return out(None) // constant column
      val a2 = (bigN - 1.0) / bigN *
        (row.getDouble(0) / na + row.getDouble(1) / nb) / bigN
      // Scholz–Stephens harmonic constants in O(1): h = H_{N−1} = ψ(N)+γ,
      // and g = Σ_{m=1}^{N−2} (H_{N−1} − H_m)/(N−m) collapses EXACTLY via
      // Σ_{m=1}^{n−1} H_m/(n−m) = H_n² − H_n^(2) (the classic Euler-sum
      // convolution, from Σ_{s≤n} H_s/s = (H_n² + H_n^(2))/2) to
      // g = H_N^(2) − 2H_{N−1}/N − 1/N², with H_N^(2) = π²/6 − ψ'(N+1).
      val nD0 = bigN.toDouble
      val h = digamma(nD0) + EulerGamma
      val h2 = math.Pi * math.Pi / 6 - trigamma(nD0 + 1)
      val g = h2 - 2.0 * h / nD0 - 1.0 / (nD0 * nD0)
      val k = 2.0
      val bigH = 1.0 / na + 1.0 / nb
      val ca = (4 * g - 6) * (k - 1) + (10 - 6 * g) * bigH
      val cb = (2 * g - 4) * k * k + 8 * h * k +
        (2 * g - 14 * h - 4) * bigH - 8 * h + 4 * g - 6
      val cc = (6 * h + 2 * g - 2) * k * k + (4 * h - 4 * g + 6) * k +
        (2 * h - 6) * bigH + 4 * h
      val cd = (2 * h + 6) * k * k - 4 * h * k
      val nD = bigN.toDouble
      val var2 = (ca * nD * nD * nD + cb * nD * nD + cc * nD + cd) /
        ((nD - 1) * (nD - 2) * (nD - 3))
      val sigma = math.sqrt(var2)
      out(Option.when(!(var2 <= 0))((a2, sigma, (a2 - (k - 1)) / sigma)))
    }
  }


  /** PSI over RANK-EXACT quantile bins of the reference slice — the
    * production PSI variant ([[psi]] uses fixed-width bins over the
    * combined range, which one outlier can stretch until every row
    * lands in two bins; decile-of-reference bins give each bin ~10% of
    * the baseline by construction, so the index reads on the usual
    * 0.1/0.25 scale). Cutpoints are the reference's values at ranks
    * ⌈i·n/bins⌉ (tie-collapsing); both sides bin against them; each
    * side's share floors at `eps` before the log-ratio. One row:
    * `(n_a, n_b, n_bins, psi)`; side A is the reference.
    *
    * Scale: the two-phase DISTRIBUTED cumsum over the reference's
    * distinct-value table ([[graft.ops.ScaleOps.rankCutpoints]] — never
    * an unkeyed window) for the cuts, then ONE bin-bounded count per
    * side. */
  def psiQuantile(reference: DataFrame, current: DataFrame, column: String,
      bins: Int = 10, eps: Double = 1e-6): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    require(eps > 0, s"eps must be positive: $eps")
    val refV = reference.select(col(column).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val curV = current.select(col(column).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val spark = reference.sparkSession
    val counts = refV.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val (n, cuts) = graft.ops.ScaleOps.rankCutpoints(counts, "v", "c",
      graft.ops.ScaleOps.quantileRanks(bins))
    import spark.implicits._
    def out(nA: Long, nB: Long, nBins: Long, psi: Option[Double]) =
      Seq((nA, nB, nBins, psi)).toDF("n_a", "n_b", "n_bins", "psi")
    if (n == 0) return out(0L, 0L, 0L, None)
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("v") > c, 1).otherwise(0)
    }
    def side(df: DataFrame, out: String) = df.select(bin.as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as(out))
    val joined = side(refV, "na").join(side(curV, "nb"), Seq("b"), "full_outer")
      .na.fill(0L, Seq("na", "nb"))
    val totals = joined.agg(sum(col("na")).as("_ta"), sum(col("nb")).as("_tb"),
      count(lit(1)).as("_k"))
    val pa = greatest(col("na") / col("_ta"), lit(eps))
    // ANSI guard: an empty current slice has _tb = 0 — the division must
    // not evaluate (the final when() nulls the psi, but only AFTER the
    // aggregate would have run)
    val pb = greatest(when(col("_tb") > 0, col("nb") / col("_tb"))
      .otherwise(lit(0.0)), lit(eps))
    val r = joined.crossJoin(broadcast(totals))
      .agg(first(col("_ta")).cast("long").as("n_a"),
        first(col("_tb")).cast("long").as("n_b"),
        first(col("_k")).cast("long").as("n_bins"),
        sum((pa - pb) * log(pa / pb)).as("psi"))
      .head()
    out(r.getLong(0), r.getLong(1), r.getLong(2),
      Option.when(r.getLong(1) > 0)(r.getDouble(3)))
  }
}
