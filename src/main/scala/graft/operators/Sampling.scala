package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting / quota operators for training-data
  * pipelines (north-star extensions — the reference has no sampling surface;
  * these are the operations a 100 TB corpus build needs around the dedup and
  * quality-filter family).
  *
  * Design rules:
  *  - Hash-based, not `rand()`: membership of a row is a pure function of
  *    its id and a salt, so splits are reproducible across runs, engines,
  *    cluster sizes and repartitioning — the property a train/val/test
  *    split must have (a rand() split silently reshuffles when the
  *    partitioning changes). md5 is used (not xxhash64) because every
  *    engine computes identical md5 hex for identical bytes, which gives
  *    these operators exact cross-engine oracles.
  *  - [[hashSplit]] / [[hashSample]] / [[weightedMixture]] are stateless
  *    projections/filters: no shuffle, no state, trivially scale to any
  *    corpus size and parallelism, and push down through the scan.
  *  - [[quotaPerGroup]] is the one shuffling operator (a per-group top-k
  *    needs its group co-located); skew is bounded by the largest group.
  */
object Sampling {

  /** Number of hash buckets: first 4 hex chars of md5 → 16 bits. Weight
    * granularity is therefore 1/65536 ≈ 0.0015%. */
  private val Buckets = 1 << 16

  /** The row's bucket as a 4-hex-char string — kept in string space (hex
    * compares like the integer it encodes, digits-before-letters) so the
    * oracle is a byte-for-byte md5/substring mirror with no integer
    * conversion on either side. */
  private def hexBucket(idCol: Column, salt: String): Column =
    substring(md5(concat(lit(salt), idCol.cast("string"))), 1, 4)

  /** 4-hex-char literal for `floor(fraction * 65536)`. */
  def fractionHex(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of [0,1]: $fraction")
    f"${math.min((fraction * Buckets).toInt, Buckets - 1)}%04x"
  }

  /** Cumulative upper-bound hex thresholds for a weighted split.
    * `Seq(train->0.8, val->0.1, test->0.1)` → `train < cccc ≤ val < e666 ≤
    * test`. Exposed so an external oracle can mirror the boundaries from
    * the same source of truth. */
  def splitThresholdsHex(splits: Seq[(String, Double)]): Seq[(String, String)] = {
    require(splits.nonEmpty, "at least one split required")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"split weights must sum to 1, got $total")
    var cum = 0.0
    splits.map { case (name, w) =>
      cum += w
      name -> fractionHex(cum)
    }
  }

  /** Deterministic train/val/test-style split: adds a `split` column whose
    * value is a pure function of `md5(salt ++ id)`. One projection — no
    * shuffle, no rand(), stable under any re-partitioning. */
  def hashSplit(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
      salt: String = ""): DataFrame = {
    val b = hexBucket(col(idCol), salt)
    val thresholds = splitThresholdsHex(splits)
    // last split is the else-branch: its threshold is the top of the range
    val assigned = thresholds.init.foldRight(lit(thresholds.last._1): Column) {
      case ((name, hexUpper), rest) => when(b < lit(hexUpper), lit(name)).otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  /** Leakage-safe split: near-duplicate documents ALWAYS land on the same
    * side — the eval-hygiene property a plain [[hashSplit]] cannot give
    * (two near-identical docs hash independently, so one trains on the
    * other's test twin). Assignment hashes the transitive near-dup
    * COMPONENT label ([[Dedup.nearDupClusters]]) instead of the doc id:
    * every member of a cluster shares the label, hence the split; docs in
    * no pair are their own singleton component and split exactly as
    * [[hashSplit]] would on the id. Output: input columns + `component` +
    * `split`.
    *
    * Cost = the LSH cluster pass (bounded by the near-dup pair subgraph)
    * plus one key join of the (tiny) component relabeling against the
    * corpus; the split itself stays a pure projection. */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splits: Seq[(String, Double)],
      salt: String = "",
      shingleSize: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    val comps = Dedup.nearDupClusters(df, idCol, textCol,
      shingleSize, numHashes, numBands, threshold)
      .select(col("id").as("__cid"), col("component"))
    val withComp = df.join(comps, df(idCol) === col("__cid")).drop("__cid")
    hashSplit(withComp, "component", splits, salt)
  }

  /** Deterministic Bernoulli-by-id sample: keeps a row iff its hash bucket
    * falls below `fraction`. A pure filter (combines with scan pushdown of
    * other predicates); sampling the same id set with a larger fraction
    * yields a superset — the nesting property reproducible corpus
    * downsampling needs. */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
      salt: String = ""): DataFrame =
    if (fraction >= 1.0) df
    else df.filter(hexBucket(col(idCol), salt) < lit(fractionHex(fraction)))

  /** Uniform k-per-group sample: keep k rows of each group chosen by hash
    * rank (md5 of the id), NOT by a quality ordering — the unbiased
    * counterpart of [[quotaPerGroup]] for when the cap must not prefer any
    * property of the rows. Deterministic (pure function of ids + salt),
    * stable under repartitioning, and runs on the same k-bounded heap
    * aggregate, so each partition ships at most k rows per group into the
    * shuffle. Output adds `sample_rank` (1-based hash-rank order). */
  def uniformPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
      k: Int, salt: String = ""): DataFrame = {
    require(!df.columns.contains("__rk"), "column __rk would collide")
    quotaPerGroup(
        df.withColumn("__rk", md5(concat(lit(salt), col(idCol).cast("string")))),
        groupCols, Seq(col("__rk").asc, col(idCol).asc), k)
      .withColumnRenamed("quota_rank", "sample_rank")
      .drop("__rk")
  }

  /** Upper-bound hex threshold for a keep-fraction: "g" (lexically above
    * every hex bucket) for fraction ≥ 1 so full strata keep ALL rows
    * (including bucket ffff). */
  private def fractionHexUpper(fraction: Double): String =
    if (fraction >= 1.0) "g" else fractionHex(fraction)

  /** Deterministic stratified sample: a per-stratum keep-fraction, applied
    * as a single hash filter whose threshold is a CASE over the stratum
    * column — one scan-side projection-filter, no shuffle, no per-group
    * state (contrast `df.stat.sampleBy`, which is seed-random rather than
    * id-deterministic). Strata absent from `fractions` keep
    * `defaultFraction`. Nesting holds per stratum: raising a stratum's
    * fraction only ever adds rows. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0,
      salt: String = ""): DataFrame = {
    fractions.foreach { case (s, f) =>
      require(f >= 0.0 && f <= 1.0, s"fraction out of [0,1] for stratum $s: $f") }
    require(defaultFraction >= 0.0 && defaultFraction <= 1.0,
      s"default fraction out of [0,1]: $defaultFraction")
    val threshold = fractions.toSeq.sortBy(_._1)
      .foldRight(lit(fractionHexUpper(defaultFraction)): Column) {
        case ((stratum, frac), rest) =>
          when(col(stratumCol) === stratum, lit(fractionHexUpper(frac))).otherwise(rest)
      }
    df.filter(hexBucket(col(idCol), salt) < threshold)
  }

  /** Weighted mixture of sources: hash-sample each source at its rate and
    * union by name. The standard "data mixture" step of a training-corpus
    * build (e.g. upweight curated text, downweight crawl): each branch is a
    * stateless filter, the union is plan-level only — no shuffle anywhere. */
  def weightedMixture(sources: Seq[(DataFrame, Double)], idCol: String,
      salt: String = ""): DataFrame = {
    require(sources.nonEmpty, "at least one source required")
    sources.foreach { case (_, rate) =>
      require(rate >= 0.0 && rate <= 1.0,
        s"weightedMixture rates are keep-fractions in [0,1], got $rate — " +
          "use epochMixture for upsampling (rates above 1)")
    }
    sources.map { case (df, rate) => hashSample(df, idCol, rate, salt) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Temperature-rebalanced mixture: downsample each group (language,
    * source, …) at a rate derived from the corpus's own group frequencies
    * so the kept distribution follows `p_g^alpha` — the multilingual
    * rebalancing rule (alpha < 1 flattens toward uniform; alpha = 1 keeps
    * the natural distribution). Rates are downsample-only and anchored to
    * the rarest group: `rate_g = (n_min / n_g)^(1-alpha)`, so the smallest
    * group keeps everything and no group is upsampled (pair with
    * [[epochMixture]] when rare groups must repeat instead). Adds
    * `keep_rate`.
    *
    * Cost: one tiny per-group count aggregate broadcast back onto the
    * corpus; membership stays the pure md5 hash filter of [[hashSample]] —
    * deterministic, repartition-stable, and exactly mirrorable by an
    * external SQL oracle (the hex threshold is computed IN the plan with
    * `format_string("%04x", …)`, byte-identical to `printf('%04x', …)`). */
  /** Raking (iterative proportional fitting) over a two-way cell table —
    * the mixture tool when you must hit TWO marginal targets at once
    * ([[temperatureMixture]] reshapes one margin; a corpus rebalance
    * usually pins language shares AND source shares simultaneously, and
    * per-cell quotas that satisfy both don't factor into independent
    * per-margin rates): start from the observed cell counts and
    * alternately scale rows to the row targets and columns to the column
    * targets for `iterations` rounds — the classical IPF fixed point
    * (Deming–Stephan), converging to the max-entropy table with the
    * requested margins. One row per observed cell: `(row_key, col_key,
    * n, weight, cell_share)` — `weight` is the per-document sampling
    * multiplier (raked mass / observed count), `cell_share` the raked
    * share of the corpus.
    *
    * `rowShares` must carry EXACTLY the observed row keys (missing keys
    * have no target; extra never-observed keys would make the row margin
    * sum to less than the column margin — inconsistent targets IPF can
    * only oscillate between) and sum to 1; column
    * targets are uniform over the OBSERVED column keys (the common
    * "de-bias source skew" ask). Zero cells stay zero (IPF preserves the
    * support).
    *
    * Determinism contract: cell masses re-quantize to 12-dp decimals
    * after each half-step, so every margin total is an EXACT decimal sum
    * and both engines iterate on identical values — a DuckDB oracle
    * replays the loop as unrolled CTEs.
    *
    * Scale: ONE (row, col) count aggregation (partial-aggregated); the
    * driver iterates on ≤ `maxCells` cells (a lang × source table — two
    * LOW-cardinality dimensions by construction; the guard fail-stops a
    * high-cardinality misuse). Join the emitted weights back broadcast
    * to apply them per document. */
  def rakeWeights(df: DataFrame, rowCol: String, colCol: String,
      rowShares: Seq[(String, Double)], iterations: Int = 5,
      maxCells: Int = 100000): DataFrame = {
    require(rowShares.nonEmpty, "rowShares must be non-empty")
    require(math.abs(rowShares.map(_._2).sum - 1.0) < 1e-9,
      s"row shares must sum to 1, got ${rowShares.map(_._2).sum}")
    require(rowShares.forall(_._2 > 0), "row shares must be positive")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df
      .filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(cells.length <= maxCells,
      s"rakeWeights: ${cells.length} cells exceed maxCells $maxCells — " +
        "rake on low-cardinality dimensions")
    if (cells.isEmpty)
      return Seq.empty[(String, String, Long, Double, Double)]
        .toDF("row_key", "col_key", "n", "weight", "cell_share")
    val shareMap = rowShares.toMap
    val obsRows = cells.map(_._1).distinct
    require(obsRows.forall(shareMap.contains),
      s"rowShares missing observed keys: ${obsRows.filterNot(shareMap.contains).toSeq}")
    // the margins must be CONSISTENT: a share on a never-observed row key
    // makes row targets sum to < nTotal while the uniform column targets
    // sum to nTotal, so IPF oscillates between the two half-steps forever
    // instead of converging — fail loudly rather than emit a non-fixed
    // point
    require(shareMap.keySet == obsRows.toSet,
      "rowShares carries keys never observed in the data " +
        s"(${(shareMap.keySet -- obsRows).toSeq.sorted}) — their mass " +
        "would leave the row and column targets inconsistent and IPF " +
        "oscillating; restrict shares to observed keys (renormalized)")
    val nTotal = cells.map(_._3).sum
    val kCols = cells.map(_._2).distinct.length
    val colTarget = 1.0 / kCols * nTotal
    def r12(v: Double): BigDecimal =
      BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    var w = cells.map { case (_, _, n) => BigDecimal(n) }
    for (_ <- 1 to iterations) {
      val rowTot = cells.indices.groupBy(i => cells(i)._1)
        .map { case (r, is) => r -> is.map(w).sum }
      w = cells.indices.map { i =>
        val r = cells(i)._1
        r12(w(i).toDouble *
          (shareMap(r) * nTotal / rowTot(r).toDouble))
      }.toArray
      val colTot = cells.indices.groupBy(i => cells(i)._2)
        .map { case (c, is) => c -> is.map(w).sum }
      w = cells.indices.map { i =>
        val c = cells(i)._2
        r12(w(i).toDouble * (colTarget / colTot(c).toDouble))
      }.toArray
    }
    cells.indices.map { i =>
      val (r, c, n) = cells(i)
      (r, c, n, w(i).toDouble / n, w(i).toDouble / nTotal)
    }.toSeq.toDF("row_key", "col_key", "n", "weight", "cell_share")
  }

  /** Kish design effect of a weighting scheme — what the weights COST
    * in effective sample size ([[rakeWeights]] buys margin alignment;
    * this prices it: unequal weights inflate the variance of every
    * weighted mean by deff = 1 + cv²(w), so n_eff = n/deff is what the
    * weighted sample is WORTH): deff = n·Σcᵢwᵢ²/(Σcᵢwᵢ)² over rows that
    * each stand for `countCol` units sharing weight `weightCol`
    * (omit countCol for per-unit rows). One row: `(n_units, sum_w,
    * deff, n_eff, cv_weights)`. NULL stats when the weight mass is 0.
    *
    * Determinism: per-row terms c·w and (c·w)·w round to 12/9 dp before
    * exact decimal sums (the order-free float-sum recipe), so both
    * engines agree bit-for-bit on any row order.
    *
    * Scale: ONE whole-table reduce — works on a k-bounded cell table
    * ([[rakeWeights]] output) or billions of per-unit weight rows
    * alike; O(1) driver math. */
  def designEffect(df: DataFrame, weightCol: String,
      countCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val c = countCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val w = col(weightCol).cast("double")
    val r = df.filter(w.isNotNull && c.isNotNull && c > 0)
      .agg(sum(c).as("__n"),
        sum(round(c * w, 12).cast("decimal(28,12)")).as("__s1"),
        sum(round(c * w * w, 9).cast("decimal(28,9)")).as("__s2"))
      .head()
    val n = if (r.isNullAt(0)) 0L else r.getLong(0)
    // (Σw, Σw²) once the weights carry mass
    val s = Option.when(n > 0)((BigDecimal(r.getDecimal(1)).toDouble,
        BigDecimal(r.getDecimal(2)).toDouble))
      .filter { case (s1, s2) => s1 > 0 && s2 > 0 }
    val deff = s.map { case (s1, s2) => n * s2 / (s1 * s1) }
    Seq((n, s.map(_._1), deff, s.map { case (s1, s2) => s1 * s1 / s2 },
        deff.map(d => math.sqrt(math.max(d - 1.0, 0.0)))))
      .toDF("n_units", "sum_w", "deff", "n_eff", "cv_weights")
  }

  /** Survey-weighted mean with the Taylor-linearized SE — the ESTIMATE
    * the weights exist for ([[rakeWeights]] aligns the margins,
    * [[designEffect]] prices the weights; this actually reports the
    * reweighted metric with an honest error bar): the Hájek ratio mean
    * ŷ = Σwᵢyᵢ/Σwᵢ and SE = √(Σ(wᵢ(yᵢ−ŷ))²)/Σwᵢ — the standard
    * linearization of the ratio estimator (with-replacement
    * approximation) — plus the zCrit CI. One row: `(n, sum_w, wmean,
    * se, ci_lo, ci_hi)`; NULL stats when the weight mass is 0.
    *
    * Determinism contract: per-row w·y rounds to 12 dp and the
    * residual square (w(y−ŷ))² to 9 dp before exact decimal sums; ŷ
    * re-rounds to 12 dp between the two passes (the [[graft.operators
    * .LinearModel.ipwAte]] recipe) — both engines replay bit-for-bit.
    *
    * Scale: TWO whole-table reduces (mean, then residuals) — no
    * window, no driver state. */
  def weightedMeanSurvey(df: DataFrame, valueCol: String,
      weightCol: String, zCrit: Double = 1.959963985): DataFrame = {
    require(zCrit > 0, s"zCrit must be > 0: $zCrit")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(valueCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(valueCol).cast("double").as("__y"),
        col(weightCol).cast("double").as("__w"))
    val r = base.agg(count(lit(1)).as("n"),
        sum(round(col("__w"), 12).cast("decimal(28,12)")).as("sw"),
        sum(round(col("__w") * col("__y"), 12).cast("decimal(28,12)"))
          .as("swy"))
      .head()
    val n = r.getLong(0)
    // stats = (sum_w, wmean, se) once the weights carry mass
    def out(stats: Option[(Double, Double, Double)]) =
      Seq((n, stats.map(_._1), stats.map(_._2), stats.map(_._3),
          stats.map(st => st._2 - zCrit * st._3),
          stats.map(st => st._2 + zCrit * st._3)))
        .toDF("n", "sum_w", "wmean", "se", "ci_lo", "ci_hi")
    if (n == 0 || r.isNullAt(1)) return out(None)
    val sw = BigDecimal(r.getDecimal(1)).toDouble
    if (sw <= 0) return out(None)
    val swy = BigDecimal(r.getDecimal(2)).toDouble
    val wmean = BigDecimal(swy / sw)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val resid = col("__w") * (col("__y") - lit(wmean))
    val v = base.agg(sum(round(resid * resid, 9).cast("decimal(28,9)"))
      .as("sr")).head()
    val sr = if (v.isNullAt(0)) 0.0 else BigDecimal(v.getDecimal(0)).toDouble
    out(Some((sw, wmean, math.sqrt(math.max(sr, 0.0)) / sw)))
  }

  /** Neyman-optimal stratified sampling allocation — how to SPEND a
    * fixed row budget across strata so the stratified mean's variance is
    * minimal ([[temperatureMixture]] reshapes shares by a temperature;
    * Neyman allocates by what each stratum contributes to the ESTIMATE:
    * n_h ∝ N_h·s_h, so big AND internally-variable strata get more).
    * One row per stratum: `(stratum, n_rows, stddev, weight_share,
    * alloc, rate)` — `alloc` = round(budget · N_h s_h / Σ N_h s_h)
    * clamped to N_h, `rate` the realized sampling fraction.
    * Zero-variance strata (constant metric, or a single row) carry no
    * estimator variance and allocate 0 — pair with a floor downstream
    * if every stratum must appear.
    *
    * Determinism contract: the metric casts to LONG (pre-quantize
    * fractional metrics), Σv and Σv² are exact decimal sums, and s_h is
    * the textbook (q − s²/n)/(n−1) from those exact sums — both engines
    * compute identical doubles; the HALF_UP rounding of `alloc` is the
    * same round() on both.
    *
    * Scale: ONE aggregation to the stratum-bounded table, driver algebra
    * on ≤ `maxStrata` rows (fail-stop). */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
      budget: Long, maxStrata: Int = 100000): DataFrame = {
    require(budget > 0, s"budget must be > 0: $budget")
    val per = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .select(col(stratumCol).cast("string").as("stratum"),
        col(valueCol).cast("long").as("__v"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast("decimal(38,0)")).as("__s"),
        sum(col("__v").cast("decimal(38,0)") * col("__v")).as("__q"))
      .collect()
    require(per.length <= maxStrata,
      s"neymanAllocation: ${per.length} strata exceed maxStrata $maxStrata")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = per.sortBy(_.getString(0)).map { r =>
      val nH = r.getLong(1)
      val s = BigDecimal(r.getDecimal(2)).toDouble
      val q = BigDecimal(r.getDecimal(3)).toDouble
      val sd = if (nH < 2) 0.0
        else math.sqrt(math.max(0.0, (q - s * s / nH) / (nH - 1.0)))
      (r.getString(0), nH, sd, nH * sd)
    }
    val totW = rows.map(_._4).sum
    rows.map { case (k, nH, sd, w) =>
      val share = if (totW > 0) w / totW else 0.0
      val alloc = math.min(nH,
        BigDecimal(budget * share)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      (k, nH, sd, share, alloc, alloc.toDouble / nH)
    }.toSeq.toDF("stratum", "n_rows", "stddev", "weight_share", "alloc",
      "rate")
  }

  def temperatureMixture(df: DataFrame, idCol: String, groupCol: String,
      alpha: Double, salt: String = ""): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min(col("__n")).as("__nmin"))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col(groupCol),
        pow(col("__nmin").cast("double") / col("__n"), lit(1.0 - alpha))
          .as("keep_rate"))
    val thresholdHex = format_string("%04x",
      least(floor(col("keep_rate") * Buckets), lit(Buckets - 1)).cast("long"))
    df.join(broadcast(rates), groupCol)
      .filter(col("keep_rate") >= 1.0 ||
        hexBucket(col(idCol), salt) < thresholdHex)
  }

  /** Mixture with UPSAMPLING: a rate of 2.5 emits two full copies of the
    * source plus a deterministic half sample, each tagged with an `epoch`
    * column (0-based) — how curated sources are repeated for multiple
    * epochs while crawl data is downsampled, in one dataset. Everything
    * stays narrow: copies are plan-level unions of the same scan and the
    * fractional epoch is a hash filter (same md5 buckets as [[hashSample]],
    * so its membership oracle-mirrors cross-engine); no shuffle, no
    * materialization, and downstream packing/shuffling sees `epoch` as an
    * ordinary column. */
  def epochMixture(sources: Seq[(DataFrame, Double)], idCol: String,
      salt: String = ""): DataFrame = {
    require(sources.nonEmpty, "at least one source required")
    sources.map { case (df, rate) =>
      require(rate > 0.0, s"rate must be positive: $rate")
      val fullEpochs = math.floor(rate).toInt
      val frac = rate - fullEpochs
      val copies =
        (0 until fullEpochs).map(e => df.withColumn("epoch", lit(e))) ++
        (if (frac > 1e-12)
           Seq(hashSample(df, idCol, frac, salt).withColumn("epoch", lit(fullEpochs)))
         else Nil)
      copies.reduce(_.unionByName(_))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Per-group quota cap: keep the top-`k` rows of each group by `orderBy`
    * (e.g. ≤ k documents per domain, best-quality first — the crawl
    * domain-cap). Adds `quota_rank` (1-based).
    *
    * Default path (`heap = true`): a k-bounded heap aggregate
    * ([[graft.functions.kernels.TopKRowsAgg]]) that combines MAP-SIDE — each
    * input partition ships at most k rows per group into the shuffle, so the
    * shuffle volume is k·partitions·groups rows instead of the whole corpus.
    * `heap = false` keeps the window formulation. Spark's own
    * InferWindowGroupLimit does insert a Partial WindowGroupLimit before
    * the exchange there (map-side k-limiting, so the shuffle volume is
    * comparable), but it fully SORTS every input partition first —
    * O(n log n) + sort spill vs the heap's O(n log k) with O(groups·k)
    * memory and no sort; the heap also skips the post-shuffle re-sort +
    * Window pass. Use the window path only when k is a large fraction of
    * the group size (heap churn exceeds sort cost). Both paths need
    * `orderBy` to be a total order (include a unique id) for deterministic
    * output. Heap-path sort keys must be plain `.asc`/`.desc` columns.
    * NULL sort keys rank LAST on both paths: the window path normalizes
    * plain-column keys to `asc_nulls_last`/`desc_nulls_last` so flipping
    * the `heap` flag never changes the selected rows (it reads as a pure
    * performance switch, and it is one). */
  def quotaPerGroup(df: DataFrame, groupCols: Seq[String], orderBy: Seq[Column],
      k: Int, heap: Boolean = true): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(k > 0, s"quota must be positive: $k")
    if (!heap) {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(nullsLastOrder(orderBy): _*)
      df.withColumn("quota_rank", row_number().over(w))
        .filter(col("quota_rank") <= k)
    } else {
      import graft.functions.kernels.TopKRowsAgg
      val sortKeys = TopKRowsAgg.sortSpec(orderBy)
      val fields = df.columns.filterNot(groupCols.contains).toSeq
      val missing = sortKeys.map(_._1).filterNot(fields.contains)
      require(missing.isEmpty,
        s"heap sort keys must be non-group columns: ${missing.mkString(",")}")
      df.groupBy(groupCols.map(col): _*)
        .agg(TopKRowsAgg.topK(k, fields.map(n => n -> col(n)), sortKeys).as("__topk"))
        .select((groupCols.map(col) :+ posexplode(col("__topk"))): _*)
        .select((groupCols.map(col)
          ++ fields.map(n => col("col").getField(n).as(n))
          :+ (col("pos") + 1).cast("int").as("quota_rank")): _*)
        .select((df.columns.map(col) :+ col("quota_rank")): _*)
    }
  }

  /** Per-group TOKEN-budget quota: keep each group's rows, best-first, while
    * the running `costCol` total stays within `budget` — the unit a corpus
    * mixture is actually specified in ("≤ 2B tokens per source"), where
    * [[quotaPerGroup]]'s row count is only a proxy. Adds `budget_used`
    * (inclusive running total). `orderBy` must be a total order (include a
    * unique id) for deterministic output; a single row larger than the
    * whole budget is dropped (never overshoot).
    *
    * One shuffle: the running sum needs its group co-located and sorted, so
    * this is the window formulation by necessity (a heap can cap row COUNTS
    * map-side, but a cost prefix-sum is order-dependent state). Skew is
    * bounded by the largest group — salt the group key upstream
    * ([[graft.ops.ScaleOps]]) if one source dominates. */
  def tokenBudgetPerGroup(df: DataFrame, groupCols: Seq[String],
      orderBy: Seq[Column], costCol: String, budget: Long): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(budget > 0, s"budget must be positive: $budget")
    require(df.columns.contains(costCol), s"cost column not in frame: $costCol")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("budget_used", sum(col(costCol)).over(w))
      .filter(col("budget_used") <= budget)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    * draw `k` rows where each row's inclusion odds are proportional to its
    * weight, deterministically. Each row gets `u ∈ (0, 1]` derived from
    * `md5(salt ++ id)` (reproducible — same engine-portable construction
    * as [[hashSplit]]) and rank key `ln(u) / w`; the k LARGEST keys are
    * the sample (equivalent to ranking by `u^(1/w)`, the E–S result, in
    * log space to avoid underflow for large weights). Rows with
    * non-positive or null weights are excluded (E–S is defined on w > 0).
    *
    * Scale: a stateless projection followed by a global top-k, which Spark
    * executes as TakeOrderedAndProject — per-partition bounded heaps, one
    * k-row merge on the driver; no full sort, no shuffle of the corpus.
    * The returned frame carries `sample_key` so callers can audit ranks.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    // first 8 md5 hex chars as a uint32; +0.5 maps into the OPEN (0,1):
    // u = 1 would give key = ln(1)/w = 0 — the E-S maximum — making that
    // row (p = 2^-32 per row, expected at billion-row scale) always win
    // regardless of weight
    val u = (conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long") + 0.5) / lit(4294967296.0)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("sample_key", log(u) / col(weightCol).cast("double"))
      .orderBy(col("sample_key").desc)
      .limit(k)
  }

  /** Per-group weighted sampling without replacement: [[weightedSample]]'s
    * Efraimidis–Spirakis construction composed with [[quotaPerGroup]]'s
    * k-bounded heap aggregate — k rows per group, inclusion odds ∝ weight
    * within the group, deterministic under any partitioning. The heap
    * ranks `(sample_key desc, id asc)`; the id tiebreak makes equal keys
    * (impossible in practice, md5-derived) deterministic anyway. */
  def weightedSamplePerGroup(df: DataFrame, groupCols: Seq[String],
      idCol: String, weightCol: String, k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    val u = (conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long") + 0.5) / lit(4294967296.0)
    quotaPerGroup(
      df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
        .withColumn("sample_key", log(u) / col(weightCol).cast("double")),
      groupCols, Seq(col("sample_key").desc, col(idCol).asc), k)
  }

  /** DSIR-style importance weights (public recipe: Xie et al. 2023,
    * arXiv:2302.03169 "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much more likely its hashed
    * token features are under the TARGET distribution than under the RAW
    * corpus distribution —
    * `weight(d) = Σ_b count_b(d) · (ln p̂_target[b] − ln p̂_raw[b])`
    * with add-one-smoothed bucket distributions
    * `p̂[b] = (count[b] + 1) / (total + B)`. High-weight documents are the
    * ones to up-sample toward the target domain (feed the weights to
    * [[weightedSample]] to draw the resampled corpus).
    *
    * The feature hash is deliberately engine-portable (part of the oracle
    * contract, like the md5 split buckets above):
    * `bucket(term) = (length(term)·31 + codepoint(term[0])) mod B` —
    * `length`/`ascii` compute identical values in Spark and DuckDB for any
    * Unicode token (verified incl. CJK). A production run can swap in
    * xxhash64 shingle features without changing the plan shape.
    *
    * Determinism: bucket log-ratios are cast to DECIMAL(28,15) once, so
    * the per-document sum is exact-decimal — order-independent under any
    * partitioning — and converted to double once at the end.
    *
    * Plan shape: the token stream reduces to two B-sized histograms (one
    * aggregation, map-side combined) and a per-(doc, bucket) count whose
    * width is bounded by B; the B-row log-ratio table broadcasts back.
    * Token text never shuffles — only (id, bucket) pairs. Documents with
    * no tokens surface with null weight (a left join from the input),
    * never silently dropped. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, numBuckets: Int = 64, roundTo: Int = 6): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2: $numBuckets")
    val spark = docs.sparkSession
    val tb = docs.select(col(idCol).as("id"), isTarget.as("__t"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("__term"))
      .select(col("id"), col("__t"),
        LinearModel.portableBucket(col("__term"), numBuckets).as("__b"))
    val hist = tb.groupBy(col("__b"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("__cr"))
    val totals = hist.agg(sum(col("__ct")).as("__tt"), sum(col("__cr")).as("__tr"))
    // every bucket gets a ratio (smoothing defines it even at count 0);
    // a bucket absent from BOTH sides contributes a well-defined constant
    val llr = spark.range(numBuckets).select(col("id").cast("int").as("__b"))
      .join(hist, Seq("__b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)) + lit(1.0)) /
             (col("__tt") + lit(numBuckets.toDouble))) -
         log((coalesce(col("__cr"), lit(0L)) + lit(1.0)) /
             (col("__tr") + lit(numBuckets.toDouble))))
          .cast("decimal(28,15)").as("__w"))
    val perDoc = tb.groupBy(col("id"), col("__b")).agg(count(lit(1)).as("__c"))
      .join(broadcast(llr), Seq("__b"))
      .groupBy(col("id"))
      .agg(sum(col("__c")).as("n_toks"),
        // count as DECIMAL(9,0): (9,0)×(28,15) lands exactly on (38,15) —
        // a LONG count would push precision past 38 and Spark's
        // allowPrecisionLoss rule silently truncates the scale
        sum(col("__c").cast("decimal(9,0)") * col("__w")).cast("double").as("__wt"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_toks"),
        round(col("__wt"), roundTo).as("dsir_weight"))
  }

  /** Deterministic word-dropout augmentation: drop each token with
    * probability `p` — the classic cheap text augmentation for
    * contrastive/denoising training — decided by the SAME md5 hash family
    * the row samplers use, keyed on (salt, doc id, 1-based position,
    * token). Reproducible across runs, engines and partitionings: an
    * augmented epoch is a pure function of (corpus, salt), so changing
    * the salt mints a fresh epoch and keeping it replays one exactly.
    * Output: `(id, n_orig, n_kept, text_aug)` with surviving tokens
    * re-joined in document order (docs whose every token dropped surface
    * with an empty string, never silently vanish).
    *
    * Plan shape: explode → stateless hash filter → one keyed aggregation
    * that re-assembles the text. The re-join sorts WITHIN each document's
    * collected token list (bounded by doc length) — no global order, no
    * window. */
  def wordDropout(docs: DataFrame, idCol: String, textCol: String,
      p: Double, salt: String = "wd:"): DataFrame = {
    require(p >= 0 && p < 1, s"dropout fraction must be in [0, 1): $p")
    val thr = fractionHex(p)
    val base = docs.select(col(idCol).as("id"),
      graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
    val kept = base
      .select(col("id"), posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .withColumn("__pos", col("__pos") + lit(1)) // 1-based: the SQL ordinality
      .filter(substring(md5(concat(lit(salt), col("id").cast("string"), lit(":"),
        col("__pos").cast("string"), lit(":"), col("__tok"))), 1, 4) >= thr)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__nk"),
        array_join(
          expr("transform(array_sort(collect_list(struct(__pos, __tok))), x -> x.__tok)"),
          " ").as("__aug"))
    base.select(col("id"), size(col("__toks")).as("n_orig"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_orig"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        coalesce(col("__aug"), lit("")).as("text_aug"))
  }

  /** Gumbel-top-k: draw `k` rows without replacement with probability
    * ∝ exp(logit) — the Gumbel-max construction (public folklore result;
    * the log-domain sibling of [[weightedSample]]'s Efraimidis–Spirakis
    * keys, for weights that live in LOG space and may be negative, like
    * [[dsirWeights]]' log-likelihood ratios):
    * `key = logit − ln(−ln(u))` with the same deterministic md5-derived
    * uniform the other samplers use, mapped into the OPEN interval (0,1)
    * via (h + 0.5)/2^32: u = 1 would give key = logit − ln(−ln(1)) = +∞,
    * selecting that row regardless of its logit (p = 2^-32 per row —
    * expected to occur at billion-row scale). Deterministic under any
    * partitioning, reproducible by any engine with md5 + ln.
    *
    * Scale: stateless projection + global top-k — Spark executes
    * TakeOrderedAndProject (per-partition bounded heaps, k-row driver
    * merge); no shuffle of the corpus, no full sort. */
  def gumbelTopK(df: DataFrame, idCol: String, logitCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    val u = (conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long") + 0.5) / lit(4294967296.0)
    df.filter(col(logitCol).isNotNull)
      .withColumn("sample_key", col(logitCol).cast("double") - log(-log(u)))
      .orderBy(col("sample_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Downsample every class to the SMALLEST class's size — the
    * deterministic class-balancer a classifier-training set needs
    * ([[quotaPerGroup]] caps at a FIXED quota; this derives the quota
    * from the data so no class dominates and none is starved). Row
    * selection is md5-ranked per class (salted, id-tiebroken) — the same
    * hash-order convention as every sampler here, so reruns and engines
    * agree bit-for-bit. Returns the kept rows with their original
    * columns.
    *
    * Scale: one class-bounded count, one keyed window rank (partitioned
    * by class — never global), one filter. */
  def downsampleToBalance(df: DataFrame, classCol: String, idCol: String,
      salt: String = "balance"): DataFrame = {
    val counts = df.filter(col(classCol).isNotNull)
      .groupBy(col(classCol)).agg(count(lit(1)).as("_c"))
      .agg(min(col("_c"))).head()
    if (counts.isNullAt(0)) return df.limit(0)
    val m = counts.getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol))
      .orderBy(md5(concat_ws("|", lit(salt), col(idCol).cast("string"))),
        col(idCol))
    df.filter(col(classCol).isNotNull)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= m)
      .drop("__rk")
  }

  /** Rewrite plain-column sort keys to rank NULLs last in either direction
    * — the heap aggregate's fixed contract — so [[quotaPerGroup]]'s two
    * paths select identical rows. Non-plain-column expressions pass
    * through untouched (the heap path rejects them anyway). */
  private def nullsLastOrder(orderBy: Seq[Column]): Seq[Column] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
    import org.apache.spark.sql.graft.ColumnBridge
    def name(e: Any): Option[String] = e match {
      case u: UnresolvedAttribute => Some(u.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    orderBy.map { c =>
      ColumnBridge.convertedExpression(c) match {
        case SortOrder(child, dir, _, _) => name(child) match {
          case Some(n) if dir == Ascending => col(n).asc_nulls_last
          case Some(n) => col(n).desc_nulls_last
          case None => c
        }
        case other => name(other) match {
          case Some(n) => col(n).asc_nulls_last
          case None => c
        }
      }
    }
  }
}
