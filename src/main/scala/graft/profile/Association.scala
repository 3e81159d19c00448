package graft.profile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Association statistics between two categorical columns — the
  * feature/label dependence report a training-data team reads before
  * trusting a column split: a high lang×source association means
  * per-source sampling silently reweights languages; a high
  * feature×label association on a supposedly-neutral column flags
  * leakage. (Capability extension beyond the reference surface — the
  * reference's profiler stops at per-column stats,
  * /root/reference/parq_tools/profile/columns.py; cross-column
  * association is the natural next stat a 100 TB corpus needs.)
  *
  * One row out: `(n, k_a, k_b, chi2, cramers_v, mutual_info)` —
  * Pearson's χ², Cramér's V (χ² normalized to [0,1] by
  * `n·(min(kₐ,k_b)−1)`; NULL when either column is constant) and mutual
  * information in nats (natural log, MLE plug-in estimate).
  *
  * Scale: ONE wide shuffle — the `(a,b)` contingency aggregation, whose
  * partial aggregation collapses each partition to ≤ kₐ·k_b cells before
  * the exchange, so shuffle volume is cell-bounded, never row-bounded.
  * Marginals and totals reduce from the cell table (tiny), and the final
  * statistics are one aggregation over cells. The marginal/total
  * derivations repeat the cells subtree in the logical plan; at
  * execution AQE's exchange reuse computes the corpus-sized exchange
  * ONCE and the repeats read it back (PlanSpec pins the `ReusedExchange`
  * nodes), so the corpus is scanned and aggregated a single time. Empty cells never
  * materialize: Σ over ALL kₐ·k_b cells of the χ² term is computed as
  * Σ_observed (o−e)²/e + (n − Σ_observed e), exact because an empty
  * cell's term is (0−e)²/e = e and Σ_all e = n. Empty cells contribute
  * 0 to MI by convention (lim p→0 of p·ln p).
  */
object Association {

  def categoricalAssociation(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df
      .filter(col(a).isNotNull && col(b).isNotNull)
      .groupBy(col(a).as("va"), col(b).as("vb"))
      .agg(count(lit(1)).cast("double").as("o"))
    val ma = cells.groupBy(col("va")).agg(sum(col("o")).as("ca"))
    val mb = cells.groupBy(col("vb")).agg(sum(col("o")).as("cb"))
    val totals = cells.agg(
      sum(col("o")).as("n"),
      count_distinct(col("va")).as("k_a"),
      count_distinct(col("vb")).as("k_b"))
    val e = col("ca") * col("cb") / col("n") // expected count under independence
    val joined = cells
      .join(broadcast(ma), "va")
      .join(broadcast(mb), "vb")
      .crossJoin(broadcast(totals))
    joined.agg(
      first(col("n")).cast("long").as("n"),
      first(col("k_a")).as("k_a"),
      first(col("k_b")).as("k_b"),
      // observed-cell terms + the empty-cell mass (n − Σ_observed e);
      // clamped at 0: on near-independent data the closed-form empty mass
      // carries first-order float rounding (±cells·ulp(n)) that can land
      // a mathematically-zero χ² at −1e-12, which sqrt would turn into
      // NaN (and an error in a DuckDB replay)
      greatest(sum(pow(col("o") - e, 2) / e) +
        first(col("n")) - sum(e), lit(0.0)).as("chi2"),
      sum(col("o") / col("n") *
        log(col("o") * col("n") / (col("ca") * col("cb")))).as("mutual_info"))
      .withColumn("cramers_v",
        when(least(col("k_a"), col("k_b")) > 1,
          sqrt(col("chi2") / (col("n") * (least(col("k_a"), col("k_b")) - 1)))))
      .select(col("n"), col("k_a"), col("k_b"), col("chi2"),
        col("cramers_v"), col("mutual_info"))
  }

  /** All-pairs association matrix over `cols` — the leakage scan a
    * labeled dataset runs before training: every unordered column pair's
    * `(n, k_a, k_b, chi2, cramers_v, mutual_info)` row, `col_a`/`col_b`
    * in `cols` order (the categorical analogue of a correlation matrix).
    * A pair with ZERO co-observed (both-non-null) rows keeps its row with
    * null statistics.
    *
    * Scale: ONE corpus scan for ANY column count — every pair's
    * `(pair_id, value_a, value_b)` struct is exploded in a single
    * projection (values cast to string: injective within a column, so
    * cell identity is preserved) and all pairs' contingency cells
    * aggregate in one partial-aggregated shuffle whose volume is
    * Σ_pairs kₐ·k_b cells, never row-bound. Marginals/totals/statistics
    * reduce from that one cell table exactly as the single-pair operator
    * does (per-pair keys replace the implicit single pair). The k(k−1)/2
    * explode multiplies rows INTO the map-side partial aggregation only —
    * the corpus itself is read once, which is what matters at 100 TB. */
  def associationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val pairStructs = pairs.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("pid"), col(a).cast("string").as("va"),
        col(b).cast("string").as("vb"))
    }
    val cells = df
      .select(explode(array(pairStructs: _*)).as("p"))
      .select(col("p.pid").as("pid"), col("p.va").as("va"), col("p.vb").as("vb"))
      .filter(col("va").isNotNull && col("vb").isNotNull)
      .groupBy(col("pid"), col("va"), col("vb"))
      .agg(count(lit(1)).cast("double").as("o"))
    val ma = cells.groupBy(col("pid"), col("va")).agg(sum(col("o")).as("ca"))
    val mb = cells.groupBy(col("pid"), col("vb")).agg(sum(col("o")).as("cb"))
    val totals = cells.groupBy(col("pid")).agg(
      sum(col("o")).as("n"),
      count_distinct(col("va")).as("k_a"),
      count_distinct(col("vb")).as("k_b"))
    val e = col("ca") * col("cb") / col("n")
    val joined = cells
      .join(broadcast(ma), Seq("pid", "va"))
      .join(broadcast(mb), Seq("pid", "vb"))
      .join(broadcast(totals), Seq("pid"))
    val stats = joined.groupBy(col("pid")).agg(
        first(col("n")).cast("long").as("n"),
        first(col("k_a")).as("k_a"),
        first(col("k_b")).as("k_b"),
        // same closed-form empty-cell mass + clamp as the single-pair op
        greatest(sum(pow(col("o") - e, 2) / e) +
          first(col("n")) - sum(e), lit(0.0)).as("chi2"),
        sum(col("o") / col("n") *
          log(col("o") * col("n") / (col("ca") * col("cb")))).as("mutual_info"))
      .withColumn("cramers_v",
        when(least(col("k_a"), col("k_b")) > 1,
          sqrt(col("chi2") / (col("n") * (least(col("k_a"), col("k_b")) - 1)))))
    val names = pairs.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("pid", "col_a", "col_b")
    names.join(broadcast(stats), Seq("pid"), "left")
      .select(col("col_a"), col("col_b"), col("n"), col("k_a"), col("k_b"),
        col("chi2"), col("cramers_v"), col("mutual_info"))
  }

  /** Correlation ratio η (eta) between a CATEGORICAL and a NUMERIC column —
    * the third leg of the leakage-scan triad ([[categoricalAssociation]]
    * covers cat×cat, plain Pearson covers num×num): η² = SS_between /
    * SS_total, the share of the numeric column's variance explained by
    * group membership. η² near 1 on a supposedly-neutral numeric feature
    * vs the label (or vice versa) flags leakage before training. One row
    * out: `(n, k, eta2, eta)`; NULL η when the numeric column is constant
    * (zero total variance). Complete-case: rows with NULL in either
    * column are excluded.
    *
    * Scale: ONE partial-aggregated groupBy on the category (per-group
    * count/sum/sum-of-squares), then a scalar reduce over the k-bounded
    * group table. η² from the moment identity SS_total = Σx² − n·mean²,
    * SS_between = Σ n_g·mean_g² − n·mean² — no second data pass for the
    * grand mean. */
  def correlationRatio(df: DataFrame, catCol: String,
      numCol: String): DataFrame = {
    val x = col(numCol).cast("double")
    val groups = df
      .filter(col(catCol).isNotNull && x.isNotNull)
      .groupBy(col(catCol))
      .agg(count(lit(1)).as("ng"), sum(x).as("sg"), sum(x * x).as("qg"))
    groups.agg(
        sum(col("ng")).cast("long").as("n"),
        count(lit(1)).cast("long").as("k"),
        sum(col("sg")).as("_s"),
        sum(col("qg")).as("_q"),
        sum(col("sg") * col("sg") / col("ng")).as("_b"))
      .select(col("n"), col("k"),
        (col("_b") - col("_s") * col("_s") / col("n")).as("_ssb"),
        (col("_q") - col("_s") * col("_s") / col("n")).as("_sst"))
      .select(col("n"), col("k"),
        // clamp to [0, 1]: the moment identity carries float rounding that
        // can land an exact-0 or exact-1 ratio a hair outside
        when(col("_sst") > 0,
          least(greatest(col("_ssb") / col("_sst"), lit(0.0)), lit(1.0)))
          .as("eta2"))
      .withColumn("eta", sqrt(col("eta2")))
  }

  /** Spearman rank correlation between two numeric columns — Pearson on
    * AVERAGE ranks (the standard tie policy), the monotone-association
    * measure that survives heavy tails and nonlinearity where raw Pearson
    * saturates on outliers. One row out: `(n, rho)`; NULL when either
    * column is constant. Complete-case: rows with NULL in either column
    * are excluded BEFORE ranking (ranks are over the paired sample).
    *
    * Scale shape: each column's average rank is a per-DISTINCT-value
    * table — counts per value, the shared deterministic-bucket cumsum for
    * the exclusive prefix, avg rank = before + (cnt+1)/2 — joined back to
    * the paired rows by value (two value-keyed joins of a distinct-bounded
    * table against the data, the unavoidable cost of exact ranks), then
    * ONE `corr` aggregate over the ranked pairs. No global window, no
    * sort of the data. */
  def spearmanCorrelation(df: DataFrame, colX: String,
      colY: String): DataFrame = {
    // NOT persisted (measured at sf0.1: caching the paired rows cost more
    // than the column-pruned re-scans it saves — 2.8 s → 3.9 s)
    val pairs = df
      .select(col(colX).cast("double").as("x"), col(colY).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    def ranks(c: String, raw: String): DataFrame = {
      val perV = pairs.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      // splits from the RAW column's parquet footer statistics (zero jobs
      // — the withExclusiveRunningSums caller contract): the per-value agg
      // hides the scan from the tracer, so without the hint each rank
      // cumsum paid a full quantile-probe scan of the input first.
      // Placement only balances buckets; correctness is placement-free.
      val hint = graft.ops.ScaleOps.footerRangeSplits(df, raw)
      graft.ops.ScaleOps.withExclusiveRunningSum(
          perV, col(c), "cnt", "_before", splitsHint = hint,
          persistInput = false) // counts-per-value replay is one cheap agg
        .select(col(c), (col("_before") + (col("cnt") + 1) / lit(2.0))
          .as(s"_r$c"))
    }
    pairs
      .join(ranks("x", colX), Seq("x"))
      .join(ranks("y", colY), Seq("y"))
      .agg(count(lit(1)).cast("long").as("n"),
        corr(col("_rx"), col("_ry")).as("rho"))
  }

  /** Kendall's τ-b rank correlation between two DISCRETE (or pre-binned)
    * numeric columns, with the tie-corrected normal z — the
    * outlier-immune, tie-honest companion to [[spearmanCorrelation]]
    * (Spearman squares rank gaps; τ only asks "which direction", so a
    * single wild pair can't dominate). One row: `(n, n_cells, concordant,
    * discordant, ties_x, ties_y, tau_b, z)`; τ/z NULL when either column
    * is constant.
    *
    * Pair counting never enumerates pairs: over the joint distinct-cell
    * grid `n(x,y)`, each cell's dominance count `#{(x',y') : x'<x, y'<y}`
    * comes from two chained PARTITIONED prefix sums — `A(x,y) =
    * Σ_{x'<x} n(x',y)` (window by y, ordered by x) then `B(x,y) =
    * Σ_{y'<y} A(x,y')` (window by x, ordered by y) — so C = Σ n·B counts
    * every concordant pair exactly once at its greater cell, and
    * D = Σ n·(A_tot − A − B) the discordant ones (A_tot = Σ_y A(x,y),
    * the full column sum: points left of x at ANY y; subtracting the
    * ≤ y prefix leaves y' > y). Products run in double — cell counts
    * cross Long·Long range at corpus scale.
    *
    * Scale contract: one cell-bounded contingency shuffle (partial agg
    * collapses partitions to ≤ |X|·|Y| cells), a DENSIFIED |X|·|Y| grid
    * (prefix sums only telescope when every (x, y') row exists), then
    * windows PARTITIONED by one value axis — per-partition work is
    * bounded by the other axis's distinct count. Intended for
    * discrete/low-cardinality columns (grades, bucketed metrics); bin
    * continuous columns first or the dense grid is quadratic in the
    * data. z uses the full tie-corrected variance (the scipy ASYMPTOTIC
    * formula): var = (v0 − vt − vu)/18 + v1 + v2 with v1, v2 the
    * joint-tie cross terms. */
  def kendallTau(df: DataFrame, colX: String, colY: String): DataFrame = {
    val pairs = df
      .select(col(colX).cast("double").as("x"), col(colY).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val sparse = pairs.groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
    // DENSIFY over observed-x × observed-y: the chained prefix sums only
    // telescope when every (x, y') row exists — a missing cell with a
    // nonzero A(x, y') would silently drop its contribution to B. The
    // grid is |X|·|Y| rows — bounded by the discrete-column contract;
    // the broadcast side is a distinct-value list.
    val xs = sparse.select(col("x")).distinct()
    val ys = sparse.select(col("y")).distinct()
    val cells = xs.crossJoin(broadcast(ys))
      .join(sparse, Seq("x", "y"), "left")
      .na.fill(0L, Seq("n"))
    import org.apache.spark.sql.expressions.Window
    val byYOverX = Window.partitionBy(col("y")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val byXOverY = Window.partitionBy(col("x")).orderBy(col("y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val byXAll = Window.partitionBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dom = cells
      .withColumn("_a", coalesce(sum(col("n")).over(byYOverX), lit(0L)).cast("double"))
      .withColumn("_b", coalesce(sum(col("_a")).over(byXOverY), lit(0.0)))
      .withColumn("_atot", sum(col("_a")).over(byXAll))
    val nD = col("n").cast("double")
    val core = dom.agg(
      sum(col("n")).cast("long").as("n"),
      sum(when(col("n") > 0, 1L).otherwise(0L)).as("n_cells"),
      sum(nD * col("_b")).as("concordant"),
      sum(nD * (col("_atot") - col("_a") - col("_b"))).as("discordant"))
    def tieSums(c: String, pfx: String): DataFrame = {
      val t = pairs.groupBy(col(c)).agg(count(lit(1)).cast("double").as("t"))
      t.agg(
        coalesce(sum(col("t") * (col("t") - 1) / 2), lit(0.0)).as(s"${pfx}_pairs"),
        coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)), lit(0.0))
          .as(s"${pfx}_v"),
        coalesce(sum(col("t") * (col("t") - 1)), lit(0.0)).as(s"${pfx}_t1"),
        coalesce(sum(col("t") * (col("t") - 1) * (col("t") - 2)), lit(0.0))
          .as(s"${pfx}_t2"))
    }
    val joined = core
      .crossJoin(broadcast(tieSums("x", "tx")))
      .crossJoin(broadcast(tieSums("y", "ty")))
    val nDbl = col("n").cast("double")
    val n0 = nDbl * (nDbl - 1) / 2
    val denom = sqrt((n0 - col("tx_pairs")) * (n0 - col("ty_pairs")))
    val s = col("concordant") - col("discordant")
    val v0 = nDbl * (nDbl - 1) * (nDbl * 2 + 5)
    // the cross terms' denominators vanish at n <= 2 (ANSI would error);
    // both terms are exactly 0 there anyway (no pairs / no triples)
    val v1 = when(nDbl > 1,
      col("tx_t1") * col("ty_t1") / (nDbl * (nDbl - 1) * 2)).otherwise(0.0)
    val v2 = when(nDbl > 2, col("tx_t2") * col("ty_t2") /
      (lit(9.0) * nDbl * (nDbl - 1) * (nDbl - 2))).otherwise(0.0)
    val varS = (v0 - col("tx_v") - col("ty_v")) / 18 + v1 + v2
    joined.select(
      col("n"), col("n_cells"), col("concordant"), col("discordant"),
      col("tx_pairs").as("ties_x"), col("ty_pairs").as("ties_y"),
      when(denom > 0, s / denom).as("tau_b"),
      when(varS > 0, s / sqrt(varS)).as("z"))
  }

  /** Somers' D — the ASYMMETRIC member of the concordance family
    * ([[kendallTau]]'s τ-b is symmetric; Somers' D names a DEPENDENT
    * variable, which is what an ordinal predictor-vs-outcome question
    * actually asks — d_{Y|X} is also exactly 2·AUC−1 when Y is binary,
    * the Gini the credit-scoring world quotes): d_{Y|X} =
    * (C−D)/(n₀−T_X) excludes pairs tied on the PREDICTOR from the
    * denominator, d_{X|Y} symmetric. One row: `(n, n_cells, concordant,
    * discordant, ties_x, ties_y, d_y_given_x, d_x_given_y)`; NULL when
    * the respective denominator vanishes (a constant predictor).
    *
    * Same engine as [[kendallTau]] — one projection over its output, so
    * the pair counting stays the chained-prefix-sum grid (never
    * enumerated pairs) and the same discrete-column scale contract
    * applies. */
  def somersD(df: DataFrame, colX: String, colY: String): DataFrame = {
    val k = kendallTau(df, colX, colY)
    val nd = col("n").cast("double")
    val n0 = nd * (nd - 1) / 2
    val s = col("concordant") - col("discordant")
    k.select(col("n"), col("n_cells"), col("concordant"), col("discordant"),
      col("ties_x"), col("ties_y"),
      when(n0 - col("ties_x") > 0, s / (n0 - col("ties_x")))
        .as("d_y_given_x"),
      when(n0 - col("ties_y") > 0, s / (n0 - col("ties_y")))
        .as("d_x_given_y"))
  }

  /** Theil's uncertainty coefficient U — the ASYMMETRIC categorical
    * association ([[categoricalAssociation]]'s Cramér's V is symmetric and
    * hides direction): `u_a_given_b` = the fraction of `a`'s entropy that
    * knowing `b` removes (U(a|b) = MI/H(a)), and vice versa. "source
    * determines language" and "language determines source" get different
    * numbers — the direction a mixture designer actually asks about. One
    * row: `(n, h_a, h_b, mi, u_a_given_b, u_b_given_a)` in nats; NULL U
    * when the conditioned entropy is 0 (a constant column is trivially
    * "explained").
    *
    * Scale: the [[categoricalAssociation]] plan — one cell-bounded
    * contingency aggregation, broadcast marginals, one reduce; AQE
    * exchange reuse keeps it one corpus scan. Empty cells contribute 0 to
    * every entropy term (lim p→0 of p·ln p), so only observed cells
    * evaluate. */
  def uncertaintyCoefficient(df: DataFrame, a: String,
      b: String): DataFrame = {
    val cells = df
      .filter(col(a).isNotNull && col(b).isNotNull)
      .groupBy(col(a).cast("string").as("va"), col(b).cast("string").as("vb"))
      .agg(count(lit(1)).cast("double").as("o"))
    val ma = cells.groupBy(col("va")).agg(sum(col("o")).as("ca"))
    val mb = cells.groupBy(col("vb")).agg(sum(col("o")).as("cb"))
    val totals = cells.agg(sum(col("o")).as("n"))
    val joined = cells
      .join(broadcast(ma), "va")
      .join(broadcast(mb), "vb")
      .crossJoin(broadcast(totals))
    // H(a) over cells: Σ_cells −(o/n)·ln(ca/n) ≡ Σ_a −(ca/n)·ln(ca/n)
    // (each a-margin's mass splits across its cells) — rides the one
    // reduce without a second marginal aggregation. Same for H(b).
    joined.agg(
        first(col("n")).cast("long").as("n"),
        sum(-col("o") / col("n") * log(col("ca") / col("n"))).as("h_a"),
        sum(-col("o") / col("n") * log(col("cb") / col("n"))).as("h_b"),
        sum(col("o") / col("n") *
          log(col("o") * col("n") / (col("ca") * col("cb")))).as("mi"))
      .select(col("n"), col("h_a"), col("h_b"), col("mi"),
        when(col("h_a") > 0, col("mi") / col("h_a")).as("u_a_given_b"),
        when(col("h_b") > 0, col("mi") / col("h_b")).as("u_b_given_a"))
  }

  /** Cochran–Mantel–Haenszel test — is the exposure→outcome association
    * CONSISTENT across strata ([[categoricalAssociation]] on the pooled
    * table falls to Simpson's paradox; CMH tests the common odds ratio
    * across per-stratum 2×2 tables): per stratum, group-A events vs the
    * hypergeometric expectation, pooled with the 0.5 continuity
    * correction. One row: `(n_strata, n, sum_a, sum_e_a, chi2_cmh,
    * or_mh)` — the Mantel–Haenszel pooled odds ratio alongside. Strata
    * with n ≤ 1 contribute nothing; NULL χ² when ΣV = 0, NULL OR when
    * its denominator Σ(b·c/n) is 0. Complete-case on all three columns
    * (exposure/outcome boolean-castable).
    *
    * Scale: ONE stratum-keyed count aggregation (four conditional sums),
    * one scalar reduce — stratum-bounded throughout. */
  def cmhTest(df: DataFrame, stratumCol: String, exposureCol: String,
      outcomeCol: String): DataFrame = {
    val e = col(exposureCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    val strata = df
      .filter(col(stratumCol).isNotNull && e.isNotNull && o.isNotNull)
      .groupBy(col(stratumCol).as("__s"))
      .agg(
        sum(when(e && o, 1L).otherwise(0L)).as("a"),
        sum(when(e && !o, 1L).otherwise(0L)).as("b"),
        sum(when(!e && o, 1L).otherwise(0L)).as("c"),
        sum(when(!e && !o, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") > 1)
    val r1 = col("a") + col("b"); val r0 = col("c") + col("d")
    val c1 = col("a") + col("c"); val c0 = col("b") + col("d")
    val ea = r1.cast("double") * c1 / col("n")
    val va = r1.cast("double") * r0 / col("n") * c1 / col("n") * c0 /
      (col("n") - 1)
    strata.agg(
        count(lit(1)).as("n_strata"),
        sum(col("n")).cast("long").as("n"),
        sum(col("a")).cast("long").as("sum_a"),
        sum(ea).as("sum_e_a"),
        sum(va).as("_v"),
        sum(col("a").cast("double") * col("d") / col("n")).as("_orn"),
        sum(col("b").cast("double") * col("c") / col("n")).as("_ord"))
      .select(col("n_strata"), col("n"), col("sum_a"), col("sum_e_a"),
        when(col("_v") > 0,
          pow(greatest(abs(col("sum_a") - col("sum_e_a")) - 0.5, lit(0.0)), 2)
            / col("_v")).as("chi2_cmh"),
        when(col("_ord") > 0, col("_orn") / col("_ord")).as("or_mh"))
  }

  /** Breslow–Day homogeneity test — [[cmhTest]]'s REQUIRED companion:
    * CMH pools a common odds ratio across strata, which only means
    * anything if the per-stratum odds ratios AGREE — Breslow–Day tests
    * exactly that (reject → report per-stratum effects, the pooled OR is
    * a fiction). Per stratum, the expected exposed-case cell Ã under the
    * Mantel–Haenszel common OR ψ solves the quadratic
    * (ψ−1)Ã² − [ψ(r₁+c₁) + (n−r₁−c₁)]Ã + ψr₁c₁ = 0 (the root inside the
    * cell bounds), with Var = 1/(1/Ã + 1/(r₁−Ã) + 1/(c₁−Ã) +
    * 1/(n−r₁−c₁+Ã)); BD = Σ (a−Ã)²/Var ~ χ²(K_eff−1), where K_eff counts
    * only strata with a STRICTLY in-bounds root — boundary strata (no
    * root strictly inside [max(0,r₁+c₁−n), min(r₁,c₁)]) carry no
    * homogeneity information and are excluded from BOTH the BD sum and
    * the df (zeroing their term while counting them in df would deflate
    * the p-value). One row: `(n_strata, n, or_mh, bd_chi2, df,
    * p_value)` — `n_strata` reports all K observed strata, `df` is
    * K_eff−1; NULL stats when ψ is undefined (Σbc/n = 0), K < 2, or
    * K_eff < 2.
    *
    * Determinism contract: ψ is a ratio of two 12-dp-quantized long
    * sums, and each stratum's BD contribution quantizes to a 9-dp long
    * before the sum — so both engines sum exact integers, and the
    * quadratic-root selection compares identical doubles (the in-bounds
    * root; at ψ = 1 the closed linear solution r₁c₁/n applies).
    *
    * Scale: ONE stratum-bounded 2×2 aggregation (the [[cmhTest]] scan),
    * K-row driver algebra, the shared closed-form χ² survival. */
  def breslowDay(df: DataFrame, stratumCol: String, exposureCol: String,
      outcomeCol: String): DataFrame = {
    val e = col(exposureCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    val strata = df
      .filter(col(stratumCol).isNotNull && e.isNotNull && o.isNotNull)
      .groupBy(col(stratumCol).as("__s"))
      .agg(
        sum(when(e && o, 1L).otherwise(0L)).as("a"),
        sum(when(e && !o, 1L).otherwise(0L)).as("b"),
        sum(when(!e && o, 1L).otherwise(0L)).as("c"),
        sum(when(!e && !o, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") > 1)
    val rows = strata
      .select(col("a"), col("b"), col("c"), col("d"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val spark = df.sparkSession
    import spark.implicits._
    val k = rows.length.toLong
    val nTot = rows.map(_._5).sum
    // stats = (or_mh, bd_chi2, contributing strata kEff)
    def out(stats: Option[(Double, Double, Long)]) =
      Seq((k, nTot, stats.map(_._1), stats.map(_._2),
          stats.fold(math.max(k - 1, 0))(_._3 - 1),
          stats.map { case (_, bd, kEff) =>
            graft.profile.Drift.chi2Survival((kEff - 1).toInt, bd) }))
        .toDF("n_strata", "n", "or_mh", "bd_chi2", "df", "p_value")
    if (k < 2) return out(None)
    def q12(v: Double): Long = math.round(v * 1e12)
    val orn = rows.map { case (a, _, _, d, n) => q12(a.toDouble * d / n) }.sum
    val ord = rows.map { case (_, b, c, _, n) => q12(b.toDouble * c / n) }.sum
    if (ord == 0) return out(None)
    val psi = orn.toDouble / ord
    // A stratum contributes iff a STRICTLY in-bounds root exists (at a
    // boundary stratum — expected cell exactly at max(0, r1+c1−n) or
    // min(r1, c1) — a variance term is 0 and the quadratic carries no
    // homogeneity information). Such strata are excluded from BOTH the
    // BD sum and the df count: counting them in k−1 while zeroing their
    // contribution would overstate the family and deflate the p-value.
    var bdQ = 0L
    var kEff = 0L
    rows.foreach { case (a, b, c, _, n) =>
      val r1 = (a + b).toDouble; val c1 = (a + c).toDouble
      val nD = n.toDouble
      val lo = math.max(0.0, r1 + c1 - nD); val hi = math.min(r1, c1)
      val tildeOpt: Option[Double] =
        if (psi == 1.0) {
          val t = r1 * c1 / nD
          if (t > lo && t < hi) Some(t) else None
        } else {
          val bq = psi * (r1 + c1) + (nD - r1 - c1)
          val disc = math.sqrt(math.max(
            bq * bq - 4.0 * (psi - 1.0) * psi * r1 * c1, 0.0))
          val a1 = (bq - disc) / (2.0 * (psi - 1.0))
          val a2 = (bq + disc) / (2.0 * (psi - 1.0))
          if (a1 > lo && a1 < hi) Some(a1)
          else if (a2 > lo && a2 < hi) Some(a2)
          else None
        }
      tildeOpt.foreach { tilde =>
        val others = Seq(tilde, r1 - tilde, c1 - tilde, nD - r1 - c1 + tilde)
        if (others.forall(_ > 0)) {
          val v = 1.0 / others.map(1.0 / _).sum
          bdQ += math.round((a - tilde) * (a - tilde) / v * 1e9)
          kEff += 1
        }
      }
    }
    out(Option.when(kEff >= 2)((psi, bdQ / 1e9, kEff)))
  }

  /** McNemar's test — did a CHANGE help, on PAIRED binary outcomes
    * ([[cohenKappa]] measures agreement; McNemar tests whether the two
    * labelers/models DISAGREE SYMMETRICALLY): only the discordant pairs
    * carry signal — n01 (a false, b true) vs n10 (a true, b false) — and
    * under H₀ they split 50/50. One row:
    * `(n, n10, n01, chi2, chi2_cc)` — the plain χ² (b−c)²/(b+c) and the
    * Edwards continuity-corrected (|b−c|−1)²/(b+c), both ~ χ²(1) under
    * H₀. NULL χ² when no pairs disagree. Complete-case: rows with NULL
    * in either column drop.
    *
    * Scale: ONE count aggregation — four conditional sums over one scan. */
  def mcnemar(df: DataFrame, a: String, b: String): DataFrame = {
    val x = col(a).cast("boolean"); val y = col(b).cast("boolean")
    df.filter(x.isNotNull && y.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(x && !y, 1L).otherwise(0L)).as("n10"),
        sum(when(!x && y, 1L).otherwise(0L)).as("n01"))
      .select(col("n"), col("n10"), col("n01"),
        when(col("n10") + col("n01") > 0,
          pow(col("n01") - col("n10"), 2) / (col("n01") + col("n10")))
          .as("chi2"),
        when(col("n10") + col("n01") > 0,
          pow(greatest(abs(col("n01") - col("n10")) - 1, lit(0L)), 2) /
            (col("n01") + col("n10")))
          .as("chi2_cc"))
  }

  /** Fisher's EXACT test on the 2×2 table of two boolean conditions —
    * the small-count companion of the χ²/CMH machinery: χ²'s normal
    * approximation fails exactly where curation decisions live (rare
    * failure modes, small strata, "3 of the 14 flagged docs are from
    * this source"), while the hypergeometric tail is exact at any count.
    * One row: `(a11, a10, a01, a00, odds_ratio, p_two_sided, p_greater,
    * p_less)` — `p_two_sided` sums all tables with the observed margins
    * whose probability ≤ the observed table's (the standard
    * "method of small P values", with a 1e−7 relative slack so float
    * noise cannot flip inclusion of the mirror-symmetric table);
    * `p_greater`/`p_less` are the one-sided tails on the a11 cell.
    * NULL odds ratio when a margin cell is 0.
    *
    * Scale: ONE count aggregation over the data; the hypergeometric
    * support (min-margin + 1 tables) enumerates through `spark.range`
    * with the codegen'd [[graft.functions.kernels.LnGammaExpr]] lgamma
    * kernel — log-space binomials, so nothing overflows at corpus-scale
    * margins, and the support scan is distributed, never a driver loop. */
  def fisherExact(df: DataFrame, a: String, b: String): DataFrame = {
    val x = col(a).cast("boolean"); val y = col(b).cast("boolean")
    val row = df.filter(x.isNotNull && y.isNotNull)
      .agg(
        sum(when(x && y, 1L).otherwise(0L)).as("a11"),
        sum(when(x && !y, 1L).otherwise(0L)).as("a10"),
        sum(when(!x && y, 1L).otherwise(0L)).as("a01"),
        sum(when(!x && !y, 1L).otherwise(0L)).as("a00"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    // tails = (p_two_sided, p_greater, p_less) of a non-empty table
    def out(a11: Long, a10: Long, a01: Long, a00: Long,
        tails: Option[(Double, Double, Double)]) =
      Seq((a11, a10, a01, a00,
          Option.when(a10 > 0 && a01 > 0)(
            a11.toDouble * a00 / (a10.toDouble * a01)),
          tails.map(t => math.min(1.0, t._1)),
          tails.map(t => math.min(1.0, t._2)),
          tails.map(t => math.min(1.0, t._3))))
        .toDF("a11", "a10", "a01", "a00", "odds_ratio", "p_two_sided",
          "p_greater", "p_less")
    if (row.isNullAt(0)) return out(0L, 0L, 0L, 0L, None)
    val a11 = row.getLong(0); val a10 = row.getLong(1)
    val a01 = row.getLong(2); val a00 = row.getLong(3)
    val r1 = a11 + a10; val r2 = a01 + a00
    val c1 = a11 + a01; val n = r1 + r2
    val kmin = math.max(0L, c1 - r2); val kmax = math.min(r1, c1)
    def lnCh(nn: Long, kk: Long): Double =
      graft.profile.Stat.lnGamma(nn + 1.0) -
        graft.profile.Stat.lnGamma(kk + 1.0) -
        graft.profile.Stat.lnGamma(nn - kk + 1.0)
    val lpObs = lnCh(r1, a11) + lnCh(r2, c1 - a11) - lnCh(n, c1)
    import graft.functions.kernels.MathKernelFunctions.lnChoose
    val ks = spark.range(kmin, kmax + 1).select(col("id").cast("double").as("k"))
    val lp = ks.select(col("k"),
      (lnChoose(lit(r1.toDouble), col("k")) +
        lnChoose(lit(r2.toDouble), lit(c1.toDouble) - col("k")) -
        lit(lnCh(n, c1))).as("lp"))
    val tails = lp.agg(
      sum(when(col("lp") <= lpObs + 1e-7, exp(col("lp"))).otherwise(0.0)).as("p2"),
      sum(when(col("k") >= a11.toDouble, exp(col("lp"))).otherwise(0.0)).as("pg"),
      sum(when(col("k") <= a11.toDouble, exp(col("lp"))).otherwise(0.0)).as("pl"))
      .head()
    out(a11, a10, a01, a00,
      Some((tails.getDouble(0), tails.getDouble(1), tails.getDouble(2))))
  }

  /** Cochran–Armitage trend test — "does the failure rate RISE along an
    * ordered axis" (severity bands, size buckets, hours into the run):
    * χ² on a 2×k table spends k−1 degrees of freedom and cannot say
    * "monotone"; CA pools them into ONE linear-trend degree of freedom,
    * Z = Σᵢwᵢkᵢ − p̄·Σᵢwᵢnᵢ over its exact conditional variance, with
    * wᵢ the caller's ordered scores. One row:
    * `(n, k_groups, slope_num, z, chi2_trend)`; NULL z when the
    * variance vanishes (constant outcome or a single score).
    *
    * Scale: one score-keyed count aggregation (k-bounded), one reduce. */
  def cochranArmitage(df: DataFrame, scoreCol: String,
      successCol: String): DataFrame = {
    val base = df
      .filter(col(scoreCol).isNotNull && col(successCol).isNotNull)
      .select(col(scoreCol).cast("double").as("w"),
        col(successCol).cast("boolean").as("s"))
    val byScore = base.groupBy(col("w"))
      .agg(count(lit(1)).as("ni"),
        sum(when(col("s"), 1L).otherwise(0L)).as("ki"))
    val niD = col("ni").cast("double"); val kiD = col("ki").cast("double")
    val agg = byScore.agg(
      sum(col("ni")).cast("long").as("n"),
      count(lit(1)).as("k_groups"),
      sum(col("ki")).cast("double").as("kk"),
      sum(kiD * col("w")).as("skw"),
      sum(niD * col("w")).as("snw"),
      sum(niD * col("w") * col("w")).as("snw2"))
    val nD = col("n").cast("double")
    val pBar = col("kk") / nD
    val t = col("skw") - pBar * col("snw")
    val varT = pBar * (lit(1.0) - pBar) *
      (col("snw2") - col("snw") * col("snw") / nD)
    agg.select(col("n"), col("k_groups"),
      t.as("slope_num"),
      when(varT > 0, t / sqrt(varT)).as("z"),
      when(varT > 0, t * t / varT).as("chi2_trend"))
  }

  /** Friedman test — k related treatments measured on the SAME blocks
    * (the repeated-measures Kruskal–Wallis: per-user metrics across k
    * event types, per-doc scores from k scorers): values rank WITHIN
    * each block, so between-block scale differences cancel, and the
    * tie-general statistic χ² = (k−1)·Σⱼ(Rⱼ − n(k+1)/2)² / (A − C) with
    * A = Σ r², C = nk(k+1)²/4 tests whether any treatment
    * systematically outranks the others. Blocks must be COMPLETE (one
    * value per treatment); incomplete blocks drop with their whole
    * block. One row: `(n_blocks, k, chi2, dof)`; NULL χ² when every
    * block ranks identically tie-flat (A = C).
    *
    * Scale: ranks come from windows PARTITIONED BY block (k-bounded
    * partitions), treatment rank sums from one k-bounded aggregation —
    * no global window, no driver loop. */
  def friedmanTest(df: DataFrame, blockCol: String, treatmentCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .select(col(blockCol).as("b"), col(treatmentCol).as("t"),
        col(valueCol).cast("double").as("v"))
      .filter(col("b").isNotNull && col("t").isNotNull && col("v").isNotNull)
    val k = base.select(col("t")).distinct().count().toInt
    val spark = df.sparkSession
    import spark.implicits._
    def out(nBlocks: Long, chi2: Option[Double]) =
      Seq((nBlocks, k, chi2, k - 1)).toDF("n_blocks", "k", "chi2", "dof")
    if (k < 2) return out(0L, None)
    // complete blocks only: exactly one value per (block, treatment)
    val perCell = base.groupBy(col("b"), col("t")).agg(avg(col("v")).as("v"))
    val complete = perCell.groupBy(col("b")).agg(count(lit(1)).as("__kc"))
      .filter(col("__kc") === k).select(col("b"))
    val cells = perCell.join(complete, Seq("b"))
    // average ranks within each block (window partitioned by block)
    import org.apache.spark.sql.expressions.Window
    val wLess = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("b"), col("v"))
    val ranked = cells
      .withColumn("__less", coalesce(count(lit(1)).over(wLess), lit(0L)))
      .withColumn("__eq", count(lit(1)).over(
        wEq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // __less counts rows strictly before in (v) order INCLUDING equal
    // values that sort earlier — correct average rank needs count(< v),
    // so recompute: less = rows before minus equals before. Simpler and
    // exact: rank = (2·#(<v) + #(=v) + 1)/2 with #(<v) from a window
    // over distinct-ordered rows — derive from __less and __eq via the
    // first row of each tie run: min(__less) over the (b, v) frame.
    val rankCol = (min(col("__less")).over(wEq) * 2 + col("__eq") + 1) / lit(2.0)
    val rsums = ranked.withColumn("__r", rankCol)
      .groupBy(col("t"))
      .agg(sum(col("__r")).as("rj"), sum(col("__r") * col("__r")).as("r2j"))
    val agg = rsums.agg(
      count(lit(1)).as("kk"),
      sum(col("rj")).as("rsum"),
      sum(col("rj") * col("rj")).as("rj2"),
      sum(col("r2j")).as("a2")).head()
    val nBlocks = cells.count() / k
    if (nBlocks == 0) return out(0L, None)
    val nD = nBlocks.toDouble; val kD = k.toDouble
    val cC = nD * kD * (kD + 1) * (kD + 1) / 4
    val a2 = agg.getDouble(3)
    val rj2 = agg.getDouble(2)
    val num = (kD - 1) * (rj2 - nD * nD * kD * (kD + 1) * (kD + 1) / 4)
    out(nBlocks, Option.when(a2 - cC > 0)(num / (a2 - cC)))
  }

  /** Partial correlation r(x,y | z) — does the x–y relationship SURVIVE
    * holding the confounder fixed ("long docs score higher... or do
    * both just track the source"): the first-order formula
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) over the three
    * pairwise Pearson correlations, computed from ONE complete-case
    * co-moment pass. One row: `(n, r_xy, r_xz, r_yz, r_xy_given_z)`;
    * NULL when any marginal correlation is undefined or |r·z| = 1. */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    val base = df.select(col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"), col(zCol).cast("double").as("z"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("z").isNotNull)
    val agg = base.agg(count(lit(1)).as("n"),
      corr(col("x"), col("y")).as("r_xy"),
      corr(col("x"), col("z")).as("r_xz"),
      corr(col("y"), col("z")).as("r_yz"))
    val denom = sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
      (lit(1.0) - col("r_yz") * col("r_yz")))
    agg.select(col("n"), col("r_xy"), col("r_xz"), col("r_yz"),
      when(col("r_xy").isNotNull && col("r_xz").isNotNull &&
        col("r_yz").isNotNull && denom > 0,
        (col("r_xy") - col("r_xz") * col("r_yz")) / denom)
        .as("r_xy_given_z"))
  }

  /** Cohen's kappa — chance-corrected agreement between two labelers over
    * the same items (the inter-annotator metric; raw percent-agreement
    * flatters any skewed label set, kappa subtracts what marginal chance
    * alone would produce). Here "labelers" are any two label columns —
    * e.g. a stored language tag vs a heuristic language-ID prediction.
    * One row: `(n, po, pe, kappa)` — observed agreement, expected-by-
    * chance agreement (Σ over labels of both labelers' marginal shares),
    * κ = (po−pe)/(1−pe). NULL κ at pe = 1 (both labelers constant and
    * equal — agreement is vacuous). Complete-case on both columns.
    *
    * Scale: one cell-bounded contingency aggregation; marginals and the
    * diagonal reduce from the broadcast cell table. */
  def cohenKappa(df: DataFrame, a: String, b: String): DataFrame = {
    // label×label-bounded contingency CHECKPOINTS: the marginal (ma/mb)
    // and agreement subtrees otherwise each replay the full input scan —
    // with a per-row kernel in the label expression (q251 feeds langId
    // through here) that was 3-4 evaluations of the kernel per row
    val cells = graft.ops.ScaleOps.cut(df
      .filter(col(a).isNotNull && col(b).isNotNull)
      .groupBy(col(a).cast("string").as("va"), col(b).cast("string").as("vb"))
      .agg(count(lit(1)).cast("double").as("o")))
    val ma = cells.groupBy(col("va")).agg(sum(col("o")).as("ca"))
    val mb = cells.groupBy(col("vb")).agg(sum(col("o")).as("cb"))
    // pe = Σ_label (ca/n)(cb/n) over labels PRESENT FOR BOTH labelers
    // (absent-from-one labels contribute 0) — a label-keyed join of the
    // two tiny marginal tables
    val pe = ma.join(mb, col("va") === col("vb"))
      .agg(sum(col("ca") * col("cb")).as("_pe_num"))
    val po = cells.agg(
      sum(col("o")).as("n"),
      sum(when(col("va") === col("vb"), col("o")).otherwise(lit(0.0)))
        .as("_agree"))
    po.crossJoin(broadcast(pe))
      .select(
        col("n").cast("long").as("n"),
        (col("_agree") / col("n")).as("po"),
        (coalesce(col("_pe_num"), lit(0.0)) / (col("n") * col("n"))).as("pe"))
      .withColumn("kappa",
        when(col("pe") < 1, (col("po") - col("pe")) / (lit(1.0) - col("pe"))))
  }

  /** Cochran's Q — "do these k binary treatments succeed at the same
    * rate on the same items?", the k-treatment generalization of
    * [[mcnemar]] and the binary-outcome sibling of [[friedmanTest]]
    * (matched design: each item is its own control, so item-to-item
    * heterogeneity cancels). Input: one row per observation
    * `(itemCol, treatmentCol, successCol)`; multiple observations of a
    * cell reduce to MAX (any success counts — document the reduction in
    * the caller if it matters). Only COMPLETE blocks score: items missing
    * any of the k treatments drop (k = distinct treatments overall). One
    * row out: `(n_items, k, q, df, p_value)` with
    * Q = (k−1)·(k·ΣT_j² − (ΣT_j)²) / (k·ΣR_i − ΣR_i²) ~ χ²(k−1); NULL
    * q/p when every kept item has all-0 or all-k rows (denominator 0) or
    * fewer than 2 treatments exist.
    *
    * Scale: one `(item, treatment)` cell aggregation, one item-keyed
    * reduce for row totals + completeness, one treatment-bounded column
    * total — shuffles bounded by cells, then items, then k. */
  def cochranQ(df: DataFrame, itemCol: String, treatmentCol: String,
      successCol: String): DataFrame = {
    val cells = df
      .filter(col(itemCol).isNotNull && col(treatmentCol).isNotNull &&
        col(successCol).isNotNull)
      .groupBy(col(itemCol).as("i"), col(treatmentCol).cast("string").as("j"))
      .agg(max(col(successCol).cast("int")).as("x"))
    val k = cells.agg(count_distinct(col("j"))).head().getLong(0)
    val spark = df.sparkSession
    import spark.implicits._
    def out(nItems: Long, q: Option[Double]) =
      Seq((nItems, k, q, math.max(k - 1, 0),
          q.map(v => Drift.chi2Survival((k - 1).toInt, v))))
        .toDF("n_items", "k", "q", "df", "p_value")
    if (k < 2) return out(0L, None)
    val complete = cells.groupBy(col("i"))
      .agg(count(lit(1)).as("_cnt"), sum(col("x")).as("ri"))
      .filter(col("_cnt") === k)
    val kept = cells.join(complete.select(col("i")), Seq("i"), "left_semi")
    val rowAgg = complete.agg(
      count(lit(1)).as("n_items"),
      sum(col("ri")).cast("double").as("st"),
      sum(col("ri") * col("ri")).cast("double").as("sr2")).head()
    val nItems = rowAgg.getLong(0)
    if (nItems == 0) return out(0L, None)
    val colAgg = kept.groupBy(col("j")).agg(sum(col("x")).as("tj"))
      .agg(sum(col("tj") * col("tj")).cast("double").as("stj2")).head()
    val st = rowAgg.getDouble(1); val sr2 = rowAgg.getDouble(2)
    val denom = k * st - sr2
    out(nItems, Option.when(denom > 0)(
      (k - 1) * (k * colAgg.getDouble(0) - st * st) / denom))
  }

  /** G-test (likelihood-ratio) of independence — the χ² companion that
    * behaves better on small expected counts and adds EXACTLY across
    * nested tables (G decomposes; Pearson χ² does not): G = 2·Σ o·ln(o·n
    * / (rowΣ·colΣ)) over observed cells, df = (kₐ−1)(k_b−1). One row:
    * `(n, k_a, k_b, g, df, p_value)`; empty cells contribute 0 (the
    * o·ln o limit), NULL g when either column is constant. p is exact
    * for even df ([[Drift.chi2Survival]]) — pick query designs
    * accordingly. Complete-case.
    *
    * Scale: the one cell-bounded contingency shuffle + two tiny marginal
    * reduces — the [[categoricalAssociation]] plan with a different
    * summand. */
  def gTest(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df
      .filter(col(a).isNotNull && col(b).isNotNull)
      .groupBy(col(a).cast("string").as("va"), col(b).cast("string").as("vb"))
      .agg(count(lit(1)).cast("double").as("o"))
    val ma = cells.groupBy(col("va")).agg(sum(col("o")).as("ca"))
    val mb = cells.groupBy(col("vb")).agg(sum(col("o")).as("cb"))
    val totals = cells.agg(sum(col("o")).as("n"),
      count_distinct(col("va")).as("ka"), count_distinct(col("vb")).as("kb"))
    val row = cells
      .join(broadcast(ma), "va").join(broadcast(mb), "vb")
      .crossJoin(broadcast(totals))
      .agg(first(col("n")).as("n"), first(col("ka")).as("ka"),
        first(col("kb")).as("kb"),
        (sum(col("o") * log(col("o") * col("n") / (col("ca") * col("cb"))))
          * 2).as("g"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    // an empty table has no first row: zero counts and df
    val empty = row.isNullAt(0)
    val n = if (empty) 0L else row.getDouble(0).toLong
    val (ka, kb) = if (empty) (0L, 0L) else (row.getLong(1), row.getLong(2))
    val dof = if (empty) 0L else (ka - 1) * (kb - 1)
    val g = Option.when(dof >= 1)(row.getDouble(3))
    Seq((n, ka, kb, g, dof, g.map(Drift.chi2Survival(dof.toInt, _))))
      .toDF("n", "k_a", "k_b", "g", "df", "p_value")
  }

  /** Cronbach's α — internal-consistency reliability of k parallel item
    * columns ("do these k signals measure one underlying thing?"; the
    * multi-item generalization of the split-half correlation, and the
    * sanity check before AVERAGING k quality signals into one score):
    * α = k/(k−1) · (1 − Σ var(itemᵢ) / var(Σ items)). One row:
    * `(n, k, sum_item_var, total_var, alpha)`; NULL α when the total
    * variance is 0 or n < 2. Complete-case across ALL item columns
    * (listwise deletion, the standard convention).
    *
    * Scale: ONE aggregation computing every item's (Σx, Σx²) plus the
    * row-sum moments — 2k+3 codegen'd sums in a single pass. */
  def cronbachAlpha(df: DataFrame, itemCols: Seq[String]): DataFrame = {
    require(itemCols.size >= 2, "cronbachAlpha needs at least 2 items")
    val k = itemCols.size
    val items = itemCols.map(c => col(c).cast("double"))
    val base = df.filter(items.map(_.isNotNull).reduce(_ && _))
      .select(items.zipWithIndex.map { case (c, i) => c.as(s"x$i") } :+
        items.reduce(_ + _).as("t"): _*)
    val aggs = Seq(count(lit(1)).as("n"), sum(col("t")).as("st"),
      sum(col("t") * col("t")).as("qt")) ++
      (0 until k).flatMap(i => Seq(sum(col(s"x$i")).as(s"s$i"),
        sum(col(s"x$i") * col(s"x$i")).as(s"q$i")))
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (row.isNullAt(0)) 0L else row.getLong(0)
    def sampleVar(s: Double, q: Double): Double = (q - s * s / n) / (n - 1)
    // (sum_item_var, total_var) for n ≥ 2
    val vars = Option.when(n >= 2)(((0 until k).map(i =>
        sampleVar(row.getDouble(3 + 2 * i), row.getDouble(4 + 2 * i))).sum,
      sampleVar(row.getDouble(1), row.getDouble(2))))
    Seq((n, k.toLong, vars.map(_._1), vars.map(_._2),
        vars.collect { case (sumVarI, varT) if varT > 0 =>
          k.toDouble / (k - 1) * (1.0 - sumVarI / varT) }))
      .toDF("n", "k", "sum_item_var", "total_var", "alpha")
  }

  /** Weighted Cohen's κ for ORDINAL ratings — a one-step disagreement
    * should cost less than a five-step one ([[cohenKappa]] treats every
    * miss equally, which punishes near-miss ordinal raters absurdly).
    * Ratings are ordered by NUMERIC value; penalties d_ij = |i−j|/(k−1)
    * (`"linear"`) or its square (`"quadratic"`, the default — equivalent
    * to an ICC under mild conditions); κ_w = 1 − Σo·d / Σe·d with e the
    * independence expectation. One row:
    * `(n, k, obs_penalty, exp_penalty, kappa_w)`; NULL κ when the
    * expected penalty is 0 (a single shared rating level). The distinct
    * rating scale must be small (`maxLevels` guards the k² cross of the
    * penalty table — ordinal scales are single digits in practice).
    *
    * Scale: one cell-bounded contingency + two k-bounded marginals; the
    * k-level index table is collected (k ≤ maxLevels) and joined back as
    * literals — no window, no row-sized driver data. */
  def weightedKappa(df: DataFrame, a: String, b: String,
      weight: String = "quadratic", maxLevels: Int = 1000): DataFrame = {
    require(Set("linear", "quadratic")(weight),
      s"weight must be linear|quadratic: $weight")
    val base = df
      .select(col(a).cast("double").as("va"), col(b).cast("double").as("vb"))
      .filter(col("va").isNotNull && col("vb").isNotNull)
    val levels = base.select(col("va").as("v"))
      .union(base.select(col("vb").as("v")))
      .distinct().orderBy(col("v")).limit(maxLevels + 1)
      .collect().map(_.getDouble(0))
    require(levels.length <= maxLevels,
      s"more than $maxLevels distinct rating levels — not an ordinal scale")
    val spark = df.sparkSession
    import spark.implicits._
    val k = levels.length
    // stats = (obs_penalty, exp_penalty, kappa_w)
    def out(n: Long, stats: Option[(Double, Double, Option[Double])]) =
      Seq((n, k.toLong, stats.map(_._1), stats.map(_._2),
          stats.flatMap(_._3)))
        .toDF("n", "k", "obs_penalty", "exp_penalty", "kappa_w")
    if (k == 0) return out(0L, None)
    val idx = broadcast(levels.zipWithIndex.toSeq.toDF("v", "i"))
    val cells = base
      .join(idx.select(col("v").as("va"), col("i").as("ia")), Seq("va"))
      .join(idx.select(col("v").as("vb"), col("i").as("ib")), Seq("vb"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).cast("double").as("o"))
    val ma = cells.groupBy(col("ia")).agg(sum(col("o")).as("ra"))
    val mb = cells.groupBy(col("ib")).agg(sum(col("o")).as("cb"))
    val nTot = cells.agg(sum(col("o"))).head().getDouble(0)
    def pen(i: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) = {
      val lin = if (k > 1) abs(i - j).cast("double") / (k - 1) else lit(0.0)
      if (weight == "linear") lin else lin * lin
    }
    val obs = cells.agg(sum(col("o") * pen(col("ia"), col("ib"))))
      .head().getDouble(0)
    val exp = ma.crossJoin(broadcast(mb))
      .agg(sum(col("ra") * col("cb") * pen(col("ia"), col("ib"))))
      .head().getDouble(0) / nTot
    out(nTot.toLong, Some((obs / nTot, exp / nTot,
      Option.when(exp > 0)(1.0 - obs / exp))))
  }

  /** Mutual information between two NUMERIC columns over rank-exact
    * quantile bins — the nonlinear-dependence companion of Pearson/
    * Spearman (a U-shaped relation scores 0 correlation but high MI; the
    * num×num leg of the leakage triad beside [[categoricalAssociation]]
    * and [[correlationRatio]]). Bin edges are the values at ranks
    * ⌈i·n/bins⌉ from each column's distinct-value prefix sum
    * (deterministic, tie-collapsing — heavy ties reduce the effective
    * bin count, reported as `bins_a`/`bins_b`); MI is the plug-in
    * estimate over the bin cells, with NMI = MI/√(H_a·H_b). One row:
    * `(n, bins_a, bins_b, mi_nats, nmi)`; NULL NMI when either margin
    * has a single bin. Complete-case on both columns.
    *
    * Scale: two DISTRIBUTED two-phase cumsums for the edges
    * ([[graft.ops.ScaleOps.rankCutpoints]] — never an unkeyed window),
    * broadcast literal cuts for binning, one bins²-bounded cell
    * aggregation. */
  def numericMutualInfo(df: DataFrame, a: String, b: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val base = df.select(col(a).cast("double").as("va"),
        col(b).cast("double").as("vb"))
      .filter(col("va").isNotNull && col("vb").isNotNull)
    val spark = df.sparkSession
    // ONE pass over the data into a distinct-(va,vb) pair-count table:
    // both cutpoint derivations and the binned contingency are exact
    // functions of it (marginal counts = sums of pair counts), so the
    // upstream scan — often carrying an expensive derived column like a
    // text-kernel token count — runs once instead of once per cutpoint/
    // contingency pass (measured ~6 scans for q342 at sf0.1). The cache
    // is smaller than the input (3 numeric columns, distinct pairs only)
    // and releases as soon as the bins²-bounded contingency checkpoints.
    val pairCells = graft.ops.ScaleOps.persisted(
      base.groupBy(col("va"), col("vb")).agg(count(lit(1)).as("pc")))
    import spark.implicits._
    def out(n: Long, binsA: Long, binsB: Long, mi: Option[Double],
        nmi: Option[Double]) = Seq((n, binsA, binsB, mi, nmi))
      .toDF("n", "bins_a", "bins_b", "mi_nats", "nmi")
    val cells = graft.ops.ScaleOps.releasing(pairCells) {
      def cuts(c: String): Seq[Double] = {
        val counts = pairCells.groupBy(col(c).as("v"))
          .agg(sum(col("pc")).as("cnt"))
        graft.ops.ScaleOps.rankCutpoints(counts, "v", "cnt",
          graft.ops.ScaleOps.quantileRanks(bins))._2
      }
      val (ca, cb) = (cuts("va"), cuts("vb"))
      if (ca.isEmpty && cb.isEmpty && pairCells.isEmpty)
        return out(0L, 0L, 0L, None, None)
      def binOf(c: String, cs: Seq[Double]) =
        cs.foldLeft(lit(0)) { (acc, cut) =>
          acc + when(col(c) > cut, 1).otherwise(0)
        }
      // bins²-bounded — checkpointing cuts the lineage so the marginal and
      // total aggregates below (four separate subtrees) read ≤ bins² rows
      // instead of each replaying the contingency aggregation
      graft.ops.ScaleOps.cut(pairCells
        .select(binOf("va", ca).as("ba"), binOf("vb", cb).as("bb"), col("pc"))
        .groupBy(col("ba"), col("bb"))
        .agg(sum(col("pc")).cast("double").as("o")))
    }
    // the contingency is read to the driver: release its cut on every exit
    val r = graft.ops.ScaleOps.releasing(cells) {
      val ma = cells.groupBy(col("ba")).agg(sum(col("o")).as("ra"))
      val mb = cells.groupBy(col("bb")).agg(sum(col("o")).as("cb2"))
      val totals = cells.agg(sum(col("o")).as("nn"),
        count_distinct(col("ba")).as("ka"), count_distinct(col("bb")).as("kb"))
      cells.join(broadcast(ma), "ba").join(broadcast(mb), "bb")
        .crossJoin(broadcast(totals))
        .agg(first(col("nn")).cast("long").as("n"),
          first(col("ka")).as("bins_a"), first(col("kb")).as("bins_b"),
          sum(col("o") / col("nn") *
            log(col("o") * col("nn") / (col("ra") * col("cb2")))).as("mi_nats"))
        .crossJoin(broadcast(
          ma.crossJoin(broadcast(totals.select(col("nn").as("_t"))))
            .agg((-sum(col("ra") / col("_t") * log(col("ra") / col("_t"))))
              .as("_ha"))))
        .crossJoin(broadcast(
          mb.crossJoin(broadcast(totals.select(col("nn").as("_t"))))
            .agg((-sum(col("cb2") / col("_t") * log(col("cb2") / col("_t"))))
              .as("_hb"))))
        .select(col("n"), col("bins_a"), col("bins_b"), col("mi_nats"),
          when(col("_ha") > 0 && col("_hb") > 0,
            col("mi_nats") / sqrt(col("_ha") * col("_hb"))).as("nmi"))
        .head()
    }
    def opt(o: Int) = Option.when(!r.isNullAt(o))(r.getDouble(o))
    out(r.getLong(0), r.getLong(1), r.getLong(2), opt(3), opt(4))
  }

  /** Fleiss' κ — chance-corrected agreement for MANY raters per item
    * ([[cohenKappa]] handles exactly two fixed raters; Fleiss handles "n
    * annotators rated each item with a category", the multi-annotator
    * labeling-QA shape). Input: one row per individual rating
    * `(itemCol, categoryCol)`. Items with fewer than 2 ratings are
    * dropped (within-item agreement is undefined on a single rating);
    * unequal ratings-per-item use the standard generalization
    * P_i = (Σ_j n_ij² − n_i) / (n_i(n_i−1)) with P̄ the unweighted item
    * mean and P_e = Σ_j p_j² from the overall category proportions. One
    * row out: `(n_items, n_ratings, k_categories, p_bar, p_e, kappa)`;
    * NULL κ when P_e = 1 (a single category — agreement is vacuous).
    *
    * Scale: one `(item, category)` contingency aggregation (partial
    * aggregation collapses to cells before the exchange), one item-keyed
    * reduce, one category-bounded marginal — nothing row-sized after the
    * scan. */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String): DataFrame = {
    val cells = df
      .filter(col(itemCol).isNotNull && col(categoryCol).isNotNull)
      .groupBy(col(itemCol).as("i"), col(categoryCol).cast("string").as("j"))
      .agg(count(lit(1)).cast("double").as("nij"))
    val perItem = cells
      .groupBy(col("i"))
      .agg(sum(col("nij")).as("ni"), sum(col("nij") * col("nij")).as("sq"))
      .filter(col("ni") >= 2)
      .select(col("ni"),
        ((col("sq") - col("ni")) / (col("ni") * (col("ni") - 1))).as("pi"))
    val itemAgg = perItem.agg(
      count(lit(1)).as("n_items"), sum(col("ni")).as("n_ratings"),
      avg(col("pi")).as("p_bar"))
    // category proportions over the SURVIVING items only (the same
    // ratings P̄ is computed from), via a semi-join-free re-aggregation of
    // the cell table against the per-item filter
    val kept = cells.join(
      cells.groupBy(col("i")).agg(sum(col("nij")).as("_ni"))
        .filter(col("_ni") >= 2).select(col("i")),
      Seq("i"), "left_semi")
    val byCat = kept.groupBy(col("j")).agg(sum(col("nij")).as("cj"))
    val pe = byCat
      .crossJoin(broadcast(byCat.agg(sum(col("cj")).as("_t"),
        count(lit(1)).as("k_categories"))))
      .agg(first(col("k_categories")).as("k_categories"),
        sum(pow(col("cj") / col("_t"), 2)).as("p_e"))
    itemAgg.crossJoin(broadcast(pe))
      .select(col("n_items"), col("n_ratings").cast("long").as("n_ratings"),
        col("k_categories"), col("p_bar"), col("p_e"),
        when(col("p_e") < 1,
          (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e"))).as("kappa"))
  }
}
