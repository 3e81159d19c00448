package graft.profile

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column statistical profiling (SURVEY §2.4 A1/A2; reference
  * /root/reference/parq_tools/utils/profile_utils.py:286-309 — the metric set
  * compared downstream is exactly profile_compare_utils.py:8-16:
  * mean, std, min, max, n_missing, p_missing, n_distinct).
  *
  * One single `agg` pass computes every metric for every requested column —
  * one job, one shuffle-free scan with partial aggregation (vs the
  * reference's one-column-at-a-time batched profiling, parq_profile.py:133-156,
  * which exists only because pandas is memory-bound). In exact mode the
  * distinct counts, exact quartiles and histograms for non-decimal numerics
  * ride the same pass through [[graft.functions.kernels.NumericProfileAgg]]
  * (one value→count buffer per column — no `count_distinct` Expand, no
  * second percentile scan); exact-mode decimals and strings keep the
  * expression path (`count_distinct`, plus a second scan for decimal
  * quartiles).
  *
  * `exactDistinct = false` is the 100 TB mode AND THE DEFAULT: `approx_count_distinct`
  * (HLL, mergeable sketch) + `percentile_approx`, all buffers bounded — the
  * comparison layer's tolerances absorb the ≤ rsd error (SURVEY §7.4 hard
  * part 5). The exact kernel's buffer is bounded by distinct values per
  * column, the same bound Spark's own `percentile` carries.
  */
object ColumnProfiler {

  /** Fixed-width histogram bin count per numeric column (ydata default
    * granularity class; edges are the exact data min/max). */
  val HistBins = 10

  final case class ColumnProfile(
      name: String,
      dtype: String,
      n: Long,
      nMissing: Long,
      pMissing: Double,
      nDistinct: Long,
      mean: Option[Double],
      std: Option[Double],
      min: Option[Any],
      max: Option[Any],
      memorySize: Long,
      nZeros: Long = 0L,
      nInfinite: Long = 0L,
      alerts: Seq[String] = Nil,
      p25: Option[Double] = None,
      p50: Option[Double] = None,
      p75: Option[Double] = None,
      histLo: Option[Double] = None,
      histHi: Option[Double] = None,
      hist: Option[Seq[Long]] = None,
      minLength: Option[Long] = None,
      maxLength: Option[Long] = None,
      skewness: Option[Double] = None)

  final case class TableProfile(
      n: Long,
      nVar: Int,
      variables: Map[String, ColumnProfile],
      nDuplicates: Option[Long] = None,
      tableAlerts: Seq[String] = Nil) {
    /** Column-batched profiling merge (reference parq_profile.py:133-156):
      * later batches overwrite same-named variables; table stats recomputed.
      * Table-level duplicate facts follow LAST-WRITER-WINS as a unit: when
      * the later batch computed a duplicate count, BOTH its count and its
      * alert decision replace this one's (a batch run on a different
      * column subset measures a different duplicate relation — keeping the
      * old alert beside the new count would let a stale 'duplicates' flag
      * contradict nDuplicates = 0). Batches that never computed duplicates
      * leave both untouched. */
    def merge(other: TableProfile): TableProfile = {
      val (dups, tAlerts) =
        if (other.nDuplicates.isDefined)
          (other.nDuplicates,
            (tableAlerts.filterNot(_ == "duplicates") ++ other.tableAlerts).distinct)
        else (nDuplicates,
          (tableAlerts ++ other.tableAlerts.filterNot(_ == "duplicates")).distinct)
      TableProfile(math.max(n, other.n), (variables ++ other.variables).size,
        variables ++ other.variables, dups, tAlerts)
    }
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def isOrderable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
    case _ => false
  }

  /** Pairwise Pearson correlations of numeric columns in ONE aggregation
    * pass — all k(k−1)/2 `corr` co-moment aggregates ride a single scan
    * with map-side partial aggregation, so cost is one pass regardless of
    * pair count (the ydata report's correlation matrix, reference
    * parq_profile.py:83-131 delegating to its profiling fork). Output long
    * form: (col_a, col_b, pearson), pairs in given column order; null
    * pearson when a column is constant (undefined correlation). */
  def correlations(df: DataFrame,
      columns: Option[Seq[String]] = None): DataFrame = {
    val cols = columns.getOrElse(
      df.schema.fields.filter(f => isNumeric(f.dataType)).map(_.name).toSeq)
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"Columns not in frame: ${missing.mkString(", ")}")
    require(cols.size >= 2, s"need at least two numeric columns, got $cols")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    // corr = covar_samp / (stddev_samp · stddev_samp), assembled from the
    // co-moments rather than the corr() aggregate: under ANSI mode corr()
    // raises DIVIDE_BY_ZERO on a constant column, where the reference
    // semantics (and DuckDB) want NULL — try_divide restores that.
    val aggs =
      pairs.map { case (a, b) =>
        covar_samp(col(a).cast("double"), col(b).cast("double")).as(s"__cov__${a}__$b") } ++
      cols.map(c => stddev_samp(col(c).cast("double")).as(s"__sd__$c"))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs.map { case (a, b) =>
      s"'$a', '$b', try_divide(`__cov__${a}__$b`, `__sd__$a` * `__sd__$b`)"
    }.mkString(", ")
    row.select(expr(
      s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, pearson)"))
  }

  /** Pairwise interaction DENSITY GRID — the scale-native form of the
    * profiling report's scatter plots (reference inherits per-pair scatter
    * "interactions" from its report engine; plotting raw points is
    * driver-bound at any real size). Each numeric column pair is binned
    * into a `bins`×`bins` grid over its [min, max] ranges and counted:
    * output is long-form `(col_a, col_b, bin_x, bin_y, n)` plus the pair's
    * axis bounds `(lo_a, hi_a, lo_b, hi_b)` for rendering. EXACT counts
    * (no sampling), one full pass: a broadcast 1-row min/max aggregate,
    * then an explode of k(k−1)/2 pair structs per row into a partial-
    * aggregated groupBy — the [[graft.profile.Drift.psiBins]] shape in two
    * dimensions. Output is bounded by pairs × bins², independent of row
    * count. */
  def interactionGrid(df: DataFrame, columns: Option[Seq[String]] = None,
      bins: Int = 24): DataFrame = {
    require(bins >= 2, s"interaction grid needs >= 2 bins, got $bins")
    val cols = columns.getOrElse(
      df.schema.fields.filter(f => isNumeric(f.dataType)).map(_.name).toSeq)
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"Columns not in frame: ${missing.mkString(", ")}")
    require(cols.size >= 2, s"need at least two numeric columns, got $cols")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val aggCols = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__lo_$c"),
      max(col(c).cast("double")).as(s"__hi_$c")))
    val minmax = df.agg(aggCols.head, aggCols.tail: _*)
    def binOf(c: String): Column = {
      val x = col(c).cast("double")
      val lo = col(s"__lo_$c"); val hi = col(s"__hi_$c")
      val raw = floor(((x - lo) / (hi - lo)) * bins)
      when(hi === lo, lit(0L))
        .otherwise(least(greatest(raw, lit(0L)), lit(bins - 1L))).cast("int")
    }
    val entries = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        binOf(a).as("bin_x"), binOf(b).as("bin_y"),
        (col(a).isNotNull && col(b).isNotNull).as("ok"),
        col(s"__lo_$a").as("lo_a"), col(s"__hi_$a").as("hi_a"),
        col(s"__lo_$b").as("lo_b"), col(s"__hi_$b").as("hi_b"))
    }
    df.crossJoin(broadcast(minmax))
      .select(explode(array(entries: _*)).as("e"))
      .filter(col("e.ok"))
      .groupBy(col("e.col_a").as("col_a"), col("e.col_b").as("col_b"),
        col("e.bin_x").as("bin_x"), col("e.bin_y").as("bin_y"),
        col("e.lo_a").as("lo_a"), col("e.hi_a").as("hi_a"),
        col("e.lo_b").as("lo_b"), col("e.hi_b").as("hi_b"))
      .agg(count(lit(1)).as("n"))
      .select(col("col_a"), col("col_b"), col("bin_x"), col("bin_y"),
        col("n"), col("lo_a"), col("hi_a"), col("lo_b"), col("hi_b"))
  }

  /** Quantile clipping (winsorization): clamp each requested numeric column
    * into its own [lower, upper] quantile range — the robust-statistics
    * companion to the alerts: a handful of corrupt extremes (scraping
    * artifacts, unit errors) stop dominating downstream means, mixtures and
    * z-scores. In-place semantics: clipped columns keep their names; all
    * other columns pass through.
    *
    * `exact = true` uses the linear-interpolated exact percentile (DuckDB
    * `quantile_cont` parity — one extra aggregation scan whose buffers hold
    * the distinct-value histogram); `exact = false` uses the mergeable
    * approx sketch, the right call at 100 TB where a ±0.1%% quantile error
    * moves the clip boundary by noise. Either way the clamp itself is a
    * pure scan projection. */
  def winsorize(df: DataFrame, columns: Seq[String],
      lower: Double = 0.01, upper: Double = 0.99,
      exact: Boolean = true): DataFrame = {
    require(columns.nonEmpty, "at least one column required")
    require(0.0 <= lower && lower < upper && upper <= 1.0,
      s"need 0 <= lower < upper <= 1: [$lower, $upper]")
    val missing = columns.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"Columns not in frame: ${missing.mkString(", ")}")
    columns.foreach { c =>
      require(isNumeric(df.schema(c).dataType), s"winsorize needs numeric columns: $c") }
    // exact mode: the histogram-guided order-statistic path, ALL columns
    // sharing the same three passes (see [[ExactQuantiles]] — the
    // percentile aggregate's all-distinct buffer is both slower and a
    // corpus-scale OOM); approx mode keeps the one mergeable-sketch pass
    // a column with no non-null values has no bounds: it passes through
    // unclipped (cast only) rather than crashing — nothing to winsorize
    val bounds: Map[String, Option[Seq[Double]]] =
      if (exact)
        ExactQuantiles.quantiles(df, columns, Seq(lower, upper))
          .map { case (c, vs) =>
            c -> (if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get)))
          }
      else {
        val aggs = columns.map { c =>
          percentile_approx(col(c).cast("double"), lit(Array(lower, upper)),
            lit(10000)).as(c)
        }
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        columns.map(c => c -> Option(row.getAs[scala.collection.Seq[Double]](c))
          .map(_.toSeq)).toMap
      }
    val clipped = columns.flatMap { c =>
      bounds(c).map(b =>
        c -> least(greatest(col(c).cast("double"), lit(b(0))), lit(b(1))))
    }.toMap
    df.select(df.columns.map(c =>
      clipped.get(c).map(_.as(c)).getOrElse(col(c))): _*)
  }

  /** Robust outlier scoring via median absolute deviation: adds
    * `robust_z = (v − median) / (1.4826·MAD)` (the normal-consistent
    * robust z-score) and `is_outlier = |robust_z| > k`. The flagging
    * companion to [[winsorize]]'s clipping — medians don't move when the
    * outliers themselves get more extreme, which is exactly where
    * mean/stddev z-scores fail. `k = 3.5` is the conventional cutoff
    * (Iglewicz & Hoaglin's modified z-score).
    *
    * Degenerate scale (MAD = 0 — over half the values identical): every
    * `robust_z` is null and nothing is flagged, documented rather than
    * dividing by zero. Null inputs keep a null score and are never
    * flagged. Two aggregation scans (the second medians the deviations
    * from the first's result — inherently sequential); the scoring itself
    * is a pure projection. `exact = false` swaps both medians for the
    * mergeable approx sketch at corpus scale. */
  def madOutliers(df: DataFrame, column: String, k: Double = 3.5,
      exact: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(df.columns.contains(column), s"Column not in frame: $column")
    require(isNumeric(df.schema(column).dataType),
      s"madOutliers needs a numeric column: $column")
    val v = col(column).cast("double")
    def medianOf(c: Column): Option[Double] =
      if (exact) exactQuantiles(df.select(c.as("__m")), "__m", Seq(0.5)).head
      else {
        val r = df.agg(percentile_approx(c, lit(0.5), lit(10000)).as("m")).collect()(0)
        if (r.isNullAt(0)) None else Some(r.getDouble(0))
      }
    // exact mode on a small column: BOTH medians come from one distinct
    // collect — the MAD's |v − median| table is a pure driver transform of
    // the value table (same doubles, same interpolation), saving the
    // second set of scans the sequential construction otherwise needs
    val smallBoth: Option[Option[(Double, Double)]] =
      if (!exact) None
      else ExactQuantiles.distinctCounts(df.select(v.as("__m")), "__m").map { counts =>
        ExactQuantiles.quantilesFromCounts(counts, Seq(0.5)).head.map { med =>
          val dev = counts.map { case (x, c) => (math.abs(x - med), c) }
            .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
          (med, ExactQuantiles.quantilesFromCounts(dev, Seq(0.5)).head.get)
        }
      }
    val scale = (smallBoth match {
      case Some(pair) => pair
      case None =>
        for { med <- medianOf(v); mad <- medianOf(abs(v - med)) } yield (med, mad)
    }).map { case (med, mad) => (med, 1.4826 * mad) }
    scale match {
      case Some((med, s)) if s > 0.0 =>
        df.withColumn("robust_z", (v - med) / s)
          .withColumn("is_outlier", coalesce(abs(v - med) > k * s, lit(false)))
      case _ =>
        df.withColumn("robust_z", lit(null).cast("double"))
          .withColumn("is_outlier", lit(false))
    }
  }

  /** Long-form exact percentiles per group: one row per (group, p) with
    * the interpolated quantile of `valueCol` — the per-group companion to
    * the global profile's quartiles (SLA-style p50/p90/p99 per category).
    * One groupBy pass computes ALL percentiles per group (a single
    * percentile-array aggregate), then the k-row-per-group array unfolds
    * in-plan. `exact = false` switches to the sketch for huge groups. */
  def percentilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
      exact: Boolean = true): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0,1]: $ps")
    val v = col(valueCol).cast("double")
    val agg = (if (exact) percentile(v, lit(ps.toArray))
               else percentile_approx(v, lit(ps.toArray), lit(10000))).as("_ps")
    df.groupBy(col(groupCol).as("group"))
      .agg(agg)
      .select(col("group"), posexplode(col("_ps")).as(Seq("_i", "value")))
      .select(col("group"),
        element_at(lit(ps.toArray), col("_i") + 1).as("p"), col("value"))
  }

  /** Percentile rank (empirical CDF) of `valueCol` within its group: adds
    * `pct_rank` = `cume_dist()` over the group ordered by value — the
    * fraction of the group with a value ≤ this row's (ties share a rank).
    * The rank-feature transform; a keyed window, so cost is bounded by the
    * largest group, never a global sort. */
  def percentileRank(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col(valueCol))
    df.withColumn("pct_rank", cume_dist().over(w))
  }

  /** Per-group min-max normalization: each listed column gains a
    * `<column>_scaled` ∈ [0, 1] sibling, `(x − min_g) / (max_g − min_g)`
    * within the row's group (0.0 for constant groups, NULL stays NULL).
    * One grouped min/max aggregation joined back on the group key — both
    * sides hash-partition on the same key, and AQE broadcasts the
    * aggregate side when the group count is small. */
  def minMaxScale(df: DataFrame, groupCols: Seq[String],
      columns: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(columns.nonEmpty, "at least one column to scale required")
    columns.foreach { c =>
      require(isNumeric(df.schema(c).dataType), s"minMaxScale needs numeric columns: $c") }
    val aggs = columns.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val stats = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val joined = df.join(stats, groupCols)
    val scaled = columns.foldLeft(joined) { (d, c) =>
      val x = col(c).cast("double")
      val mn = col(s"__mn_$c"); val mx = col(s"__mx_$c")
      d.withColumn(s"${c}_scaled",
        when(x.isNull, lit(null).cast("double"))
          .when(mx === mn, lit(0.0))
          .otherwise((x - mn) / (mx - mn)))
    }
    scaled.drop(columns.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
  }

  /** Per-group robust z-scores: `robust_z = (v − median_g) / (1.4826 ·
    * MAD_g)` with the group's own interpolated median and MAD — the
    * grouped sibling of [[madOutliers]] (per-source outlier scoring where
    * sources have different scales). Two grouped percentile aggregations
    * (median, then MAD of residuals) joined back on the group key; groups
    * with MAD = 0 score NULL rather than ±∞. */
  def robustZByGroup(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    require(isNumeric(df.schema(valueCol).dataType),
      s"robustZByGroup needs a numeric column: $valueCol")
    val v = col(valueCol).cast("double")
    val med = df.groupBy(col(groupCol))
      .agg(percentile(v, lit(0.5)).as("__med"))
    val withMed = df.join(med, Seq(groupCol))
    val mad = withMed.groupBy(col(groupCol))
      .agg(percentile(abs(v - col("__med")), lit(0.5)).as("__mad"))
    withMed.join(mad, Seq(groupCol))
      .withColumn("robust_z",
        when(col("__mad") > 0, (v - col("__med")) / (lit(1.4826) * col("__mad")))
          .otherwise(lit(null).cast("double")))
      .drop("__med", "__mad")
  }

  /** Equi-depth bucketing: adds `<column>_bucket` ∈ 1..k assigned by the
    * column's own interpolated quantile boundaries (bucket i ⇔ value ≤
    * the i/k quantile, last bucket catches the rest; NULLs get NULL).
    * The quantile-space companion to fixed-width binning ([[graft.profile.Drift]])
    * — equal POPULATION per bucket, which is what rank features and
    * monotonic-binning transforms want.
    *
    * Never `ntile()`: a global ntile window single-partitions the corpus.
    * The k−1 boundaries come from the histogram-guided order-statistic
    * pass (exact — [[ExactQuantiles]]) or the approx sketch aggregation
    * (`exact = false` at corpus scale); assignment is a literal-compare
    * projection (exact: driver-resolved boundary literals, no join in the
    * plan) or a broadcast-compare (approx) — either way shuffle-free and
    * stable under repartitioning. */
  def quantileBins(df: DataFrame, column: String, k: Int = 4,
      exact: Boolean = true): DataFrame = {
    require(k >= 2, s"need k >= 2 buckets, got $k")
    require(df.columns.contains(column), s"column not in frame: $column")
    require(isNumeric(df.schema(column).dataType),
      s"quantileBins needs a numeric column: $column")
    val v = col(column).cast("double")
    val psSeq = (1 until k).map(_.toDouble / k)
    if (exact) {
      // relational order-statistic bounds (see [[exactQuantiles]]);
      // boundaries become literals, assignment stays a pure projection.
      // An empty/all-null column has no boundaries: every bucket is null
      // (the percentile aggregate's null-bounds behavior, kept graceful)
      val bsOpt = exactQuantiles(df, column, psSeq)
      if (bsOpt.exists(_.isEmpty))
        df.withColumn(s"${column}_bucket", lit(null).cast("int"))
      else {
        val bs = bsOpt.map(_.get)
        val bucket = (1 until k).foldRight(lit(k): Column) { (i, rest) =>
          when(v <= lit(bs(i - 1)), lit(i)).otherwise(rest)
        }
        df.withColumn(s"${column}_bucket",
          when(v.isNull, lit(null).cast("int")).otherwise(bucket))
      }
    } else {
      val boundsAgg = percentile_approx(v, lit(psSeq.toArray), lit(10000)).as("_qb")
      val bounds = df.agg(boundsAgg)
      val bucket = (1 until k).foldRight(lit(k): Column) { (i, rest) =>
        when(v <= element_at(col("_qb"), i), lit(i)).otherwise(rest)
      }
      df.crossJoin(broadcast(bounds))
        .withColumn(s"${column}_bucket",
          when(v.isNull, lit(null).cast("int")).otherwise(bucket))
        .drop("_qb")
    }
  }

  /** Long-form per-group profile of numeric columns: one row per
    * (group, column) with n, n_missing, n_distinct, mean, std, min, max —
    * the per-source / per-language corpus monitoring view (a whole-table
    * [[profile]] hides a broken source inside global aggregates; this
    * surfaces it per group). NaN counts as missing, mirroring [[profile]].
    *
    * One groupBy aggregation: every metric for every column rides a single
    * map-side-combined pass keyed on the group. Exact per-group distincts
    * run on the set-buffer kernel ([[graft.functions.kernels.DistinctCountAgg]]
    * — a regular aggregate, no Expand); memory is bounded by distinct
    * values per (group, column) per partial buffer, so the DEFAULT is
    * `exactDistinct = false` (one bounded HLL sketch per cell — the
    * corpus-scale mode; see [[profile]]'s parameter doc for the exact-mode
    * memory contract). The wide→long `stack` runs on |groups| aggregated
    * rows only. */
  def profileByGroup(df: DataFrame, groupCol: String, columns: Seq[String],
      exactDistinct: Boolean = false): DataFrame = {
    require(columns.nonEmpty, "at least one column required")
    val missing = (groupCol +: columns).filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"Columns not in frame: ${missing.mkString(", ")}")
    columns.foreach { c =>
      require(isNumeric(df.schema(c).dataType), s"profileByGroup needs numeric columns: $c") }
    val aggs = count(lit(1)).as("__n") +: columns.flatMap { c =>
      val f = df.schema(c)
      val raw = col(c)
      val v = f.dataType match {
        case DoubleType | FloatType => when(missingPred(f, raw), lit(null)).otherwise(raw)
        case _ => raw
      }
      // exact distinct via the set-buffer kernel (regular aggregate — k
      // count_distincts over different columns would plan an Expand of
      // (k+1)× the rows). Stringification is injective per type: integral
      // types print canonically; float/double normalize −0.0 first (the
      // one value pair distinct-by-bits but equal under aggregation
      // semantics; NaN is already nulled by the missing rule above).
      val distinctKey = f.dataType match {
        case DoubleType | FloatType =>
          when(v === 0.0, lit(0.0)).otherwise(v.cast("double")).cast("string")
        case _ => v.cast("string")
      }
      Seq(
        sum(when(missingPred(f, raw), 1L).otherwise(0L)).as(s"__miss__$c"),
        (if (exactDistinct)
          graft.functions.kernels.DistinctCountAgg.distinctCount(distinctKey)
        else approx_count_distinct(v)).as(s"__dist__$c"),
        avg(v).as(s"__mean__$c"), stddev_samp(v).as(s"__std__$c"),
        min(v).cast("double").as(s"__min__$c"), max(v).cast("double").as(s"__max__$c"))
    }
    val wide = df.groupBy(col(groupCol).as("group")).agg(aggs.head, aggs.tail: _*)
    val stackArgs = columns.map { c =>
      s"'$c', `__miss__$c`, `__dist__$c`, `__mean__$c`, `__std__$c`, `__min__$c`, `__max__$c`"
    }.mkString(", ")
    wide.select(col("group"), col("__n").as("n"), expr(
      s"stack(${columns.size}, $stackArgs) AS " +
        "(column_name, n_missing, n_distinct, mean, std, min, max)"))
  }

  /** Exact mode runs the [[graft.functions.kernels.NumericProfileAgg]]
    * kernel for these — one value→count buffer per column yields the exact
    * distinct count, exact percentiles and the histogram in the SAME scan
    * as the declarative stats (no `count_distinct` Expand, no second
    * percentile scan — the two-job split this replaced measured 3.5 s +
    * 2.9 s at sf0.1 where the fused pass runs in one). Decimals are
    * excluded (the kernel buffers doubles; >15-significant-digit decimals
    * could merge) and keep the legacy expression path. */
  private def kernelEligible(dt: DataType): Boolean = dt match {
    // a decimal of ≤ 15 significant digits round-trips through double
    // INJECTIVELY (IEEE-754 guarantees 15 significant decimal digits
    // survive a decimal→double→decimal trip, so distinct decimals stay
    // distinct — NOT that the binary value is exact: 0.1 has no finite
    // binary form). Injectivity is what the kernel needs: its outputs are
    // value COUNTS (distinct count, histogram membership) and order
    // statistics (percentiles = actual data values, and the double order
    // matches the decimal order under a monotone conversion), all of
    // which are value-identical to the legacy decimal expression path —
    // confirmed against the DuckDB oracle on every profile query. The
    // legacy SECOND scan (exact percentile + conditional-sum histogram)
    // disappears; wider decimals could merge in the buffer and keep the
    // legacy path.
    case d: DecimalType => d.precision <= 15
    case _: NumericType => true
    case _ => false
  }

  /** Profile every requested column in one aggregation pass.
    *
    * `exactDistinct` — the distinct-count / quantile mode, DEFAULT `false`:
    *  - `false` (default, the 100 TB mode): `approx_count_distinct` (HLL,
    *    fixed-size mergeable sketch) + `percentile_approx`. Every
    *    aggregation buffer is bounded regardless of column cardinality;
    *    safe to point at any table. Small-cardinality counts are still
    *    exact (HLL sparse mode); high-cardinality counts carry ≤ ~5% rsd,
    *    which [[ProfileComparison]]'s tolerances absorb.
    *  - `true` (reference-parity mode): exact distinct counts, exact
    *    quartiles and histograms. MEMORY CONTRACT: per column, each
    *    partial aggregation buffer holds state per DISTINCT VALUE in that
    *    partition — 16 bytes/value for strings/decimals (128-bit hash
    *    pairs, [[graft.functions.kernels.DistinctCountAgg]]) and a
    *    value→count entry for numerics
    *    ([[graft.functions.kernels.NumericProfileAgg]]). On an id-like
    *    column (distinct ≈ rows) that is gigabytes per executor at
    *    corpus scale — profile a sample, or use the default mode, for
    *    such columns. See SCALING.md. */
  def profile(df: DataFrame, columns: Option[Seq[String]] = None,
      exactDistinct: Boolean = false): TableProfile = {
    val fields = columns match {
      case Some(cs) =>
        val missing = cs.filterNot(df.columns.contains)
        if (missing.nonEmpty)
          throw new IllegalArgumentException(s"Columns not in frame: ${missing.mkString(", ")}")
        cs.map(c => df.schema(c))
      case None => df.schema.fields.toSeq
    }

    val aggs: Seq[Column] = count(lit(1)).as("__n") +: fields.flatMap { f =>
      val c = col(f.name)
      // NaN counts as missing (n_missing), so the value stats must exclude
      // it too: aggregating the raw column would propagate NaN into
      // mean/std and sort it greatest (max = NaN) — inconsistent with the
      // pandas semantics the reference inherits.
      val v = f.dataType match {
        case DoubleType | FloatType => when(missingPred(f, c), lit(null)).otherwise(c)
        case _ => c
      }
      val kernel = exactDistinct && kernelEligible(f.dataType)
      // the string cast is injective for these scalars (so set-of-strings
      // counts exactly); NESTED types' formatted cast is not ("[a, b]"
      // collides) — they keep count_distinct and its Expand (rare)
      val stringifiable = f.dataType match {
        case StringType | DateType | TimestampType | TimestampNTZType | BooleanType |
             BinaryType | _: DecimalType => true
        case _ => false
      }
      val distinct =
        if (kernel) Nil // n_distinct comes from the kernel struct
        else if (exactDistinct && stringifiable)
          // set-buffer kernel, NOT count_distinct: k distinct aggregates
          // over different columns plan an Expand ((k+1)× the input rows —
          // the dominant exact-profile cost); the stringified set is a
          // regular aggregate. TIMESTAMP stringifies via unix_micros, not
          // cast: cast formats in the session timezone, and in a DST zone
          // the fall-back hour maps two distinct instants to the same
          // wall-clock string (injectivity loss → undercount); the
          // microsecond long is timezone-proof.
          Seq(graft.functions.kernels.DistinctCountAgg
            .distinctCount((f.dataType match {
              case TimestampType => unix_micros(v)
              case _ => v
            }).cast("string")).as(s"${f.name}__dist"))
        else if (exactDistinct) Seq(count_distinct(v).as(s"${f.name}__dist"))
        else Seq(approx_count_distinct(v).as(s"${f.name}__dist"))
      Seq(sum(when(missingPred(f, c), 1L).otherwise(0L)).as(s"${f.name}__miss")) ++
        distinct ++
        (if (isNumeric(f.dataType))
           Seq(avg(v).as(s"${f.name}__mean"), stddev_samp(v).as(s"${f.name}__std"),
             // population skewness g1 (Spark's skewness aggregate) feeds the
             // ydata SKEWED alert — one more partial-agg cell, same pass
             skewness(v).as(s"${f.name}__skew"),
             sum(when(v === 0, 1L).otherwise(0L)).as(s"${f.name}__zeros")) ++
             // quartiles (ydata describe_1d numeric set): the kernel carries
             // them for exact mode, the approx sketch for 100 TB mode;
             // exact DECIMAL columns fall to the legacy second scan below.
             (if (kernel)
                Seq(graft.functions.kernels.NumericProfileAgg.numericProfile(
                  v.cast("double"), Seq(0.25, 0.5, 0.75), HistBins).as(s"${f.name}__prof"))
              else if (exactDistinct) Nil
              else Seq(
                percentile_approx(v.cast("double"), lit(Array(0.25, 0.5, 0.75)), lit(10000))
                  .as(s"${f.name}__q")))
         else Nil) ++
        (f.dataType match {
          case DoubleType | FloatType => Seq(
            sum(when(v === Double.PositiveInfinity || v === Double.NegativeInfinity, 1L)
              .otherwise(0L)).as(s"${f.name}__inf"))
          case _ => Nil
        }) ++
        (if (isOrderable(f.dataType))
           Seq(min(v).as(s"${f.name}__min"), max(v).as(s"${f.name}__max"))
         else Nil) ++
        (f.dataType match {
          // string length bounds feed the constant_length alert (ydata's
          // CONSTANT_LENGTH); two more partial-agg cells, same pass
          case StringType => Seq(
            min(length(v)).cast("long").as(s"${f.name}__minlen"),
            max(length(v)).cast("long").as(s"${f.name}__maxlen"))
          case _ => Nil
        })
    }

    val row: Row = df.agg(aggs.head, aggs.tail: _*).collect()(0)

    def firstPass[T](name: String): Option[T] = {
      if (!row.schema.fieldNames.contains(name)) return None
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.getAs[T](i))
    }

    // Legacy second scan — now ONLY for exact-mode DECIMAL columns (the
    // kernel covers every other numeric type in the main pass): exact
    // quartiles via the percentile aggregate plus conditional-sum histogram
    // bins with edges from the first pass's min/max. (In the
    // exactDistinct=false single-pass 100 TB mode there is no second scan
    // and no histogram — the approx quartile sketch stands in for shape.)
    val quantRow: Option[Row] = {
      val qAggs = if (exactDistinct) fields.filter(f =>
        isNumeric(f.dataType) && !kernelEligible(f.dataType)).flatMap { f =>
        val c = col(f.name)
        val v = f.dataType match {
          case DoubleType | FloatType => when(missingPred(f, c), lit(null)).otherwise(c)
          case _ => c
        }
        val histAgg = (firstPass[Any](s"${f.name}__min").map(toD),
            firstPass[Any](s"${f.name}__max").map(toD)) match {
          case (Some(lo), Some(hi)) =>
            val width = if (hi > lo) hi - lo else 1.0
            // right-inclusive last bin: v == max clamps to HistBins - 1.
            // The null guard must be explicit: greatest()/least() IGNORE
            // nulls, so a null value would otherwise land in bin 0.
            val idx = when(v.isNull, lit(null)).otherwise(
              least(lit(HistBins - 1), greatest(lit(0),
                floor((v.cast("double") - lit(lo)) / lit(width) * lit(HistBins))
                  .cast("int"))))
            Seq(array((0 until HistBins).map(i =>
              sum(when(idx === i, 1L).otherwise(0L))): _*).as(s"${f.name}__hist"))
          case _ => Nil // all-null column: no edges, no histogram
        }
        percentile(v.cast("double"), lit(Array(0.25, 0.5, 0.75))).as(s"${f.name}__q") +:
          histAgg
      } else Nil
      if (qAggs.isEmpty) None else Some(df.agg(qAggs.head, qAggs.tail: _*).collect()(0))
    }

    def get[T](name: String): Option[T] = {
      val r = if ((name.endsWith("__q") || name.endsWith("__hist")) && quantRow.isDefined)
        quantRow.get else row
      if (!r.schema.fieldNames.contains(name)) return None
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    }
    val n = row.getAs[Long]("__n")

    val profiles = fields.map { f =>
      val miss = get[Long](s"${f.name}__miss").getOrElse(0L)
      // kernel struct (exact mode, non-decimal numerics): n_distinct,
      // percentiles, hist, min, max from the single-pass buffer
      val prof: Option[Row] = {
        val name = s"${f.name}__prof"
        if (!row.schema.fieldNames.contains(name)) None
        else {
          val i = row.fieldIndex(name)
          if (row.isNullAt(i)) None else Some(row.getStruct(i))
        }
      }
      val base = ColumnProfile(
        name = f.name,
        dtype = f.dataType.simpleString,
        n = n,
        nMissing = miss,
        pMissing = if (n == 0) 0.0 else miss.toDouble / n,
        nDistinct = prof.map(_.getLong(0))
          .orElse(get[Long](s"${f.name}__dist")).getOrElse(0L),
        mean = if (isNumeric(f.dataType)) get[Any](s"${f.name}__mean").map(toD) else None,
        std = if (isNumeric(f.dataType)) get[Any](s"${f.name}__std").map(toD) else None,
        min = if (isOrderable(f.dataType)) get[Any](s"${f.name}__min") else None,
        max = if (isOrderable(f.dataType)) get[Any](s"${f.name}__max") else None,
        memorySize = 0L,
        nZeros = get[Long](s"${f.name}__zeros").getOrElse(0L),
        nInfinite = get[Long](s"${f.name}__inf").getOrElse(0L))
        .copy(
          skewness = if (isNumeric(f.dataType))
            get[Any](s"${f.name}__skew").map(toD) else None,
          p25 = prof.map(_.getSeq[Double](1)(0))
            .orElse(get[scala.collection.Seq[Double]](s"${f.name}__q").map(_(0))),
          p50 = prof.map(_.getSeq[Double](1)(1))
            .orElse(get[scala.collection.Seq[Double]](s"${f.name}__q").map(_(1))),
          p75 = prof.map(_.getSeq[Double](1)(2))
            .orElse(get[scala.collection.Seq[Double]](s"${f.name}__q").map(_(2))),
          histLo = prof.map(_.getDouble(3)).orElse(
            get[scala.collection.Seq[Long]](s"${f.name}__hist")
              .flatMap(_ => get[Any](s"${f.name}__min").map(toD))),
          histHi = prof.map(_.getDouble(4)).orElse(
            get[scala.collection.Seq[Long]](s"${f.name}__hist")
              .flatMap(_ => get[Any](s"${f.name}__max").map(toD))),
          hist = prof.map(_.getSeq[Long](2).toSeq).orElse(
            get[scala.collection.Seq[Long]](s"${f.name}__hist").map(_.toSeq)),
          minLength = get[Long](s"${f.name}__minlen"),
          maxLength = get[Long](s"${f.name}__maxlen"))
      f.name -> base.copy(alerts = alertsFor(base))
    }.toMap

    TableProfile(n = n, nVar = fields.size, variables = profiles)
  }

  /** Exact interpolated quantiles (Spark `percentile` interpolation,
    * bit-identical results on NaN-free data) without the `percentile`
    * aggregate's all-distinct single-task buffer — delegates to the
    * histogram-guided order-statistic pass ([[ExactQuantiles.quantiles]]).
    * Returns one Option per p (None on an empty/all-null column). */
  def exactQuantiles(df: DataFrame, column: String,
      ps: Seq[Double]): Seq[Option[Double]] =
    ExactQuantiles.quantiles(df, Seq(column), ps)(column)

  /** Append ydata's HIGH_CORRELATION alert: a column is flagged when
    * |pearson| ≥ `threshold` against any OTHER profiled numeric column.
    * Cross-column by nature, so it cannot come from the per-column
    * aggregates — it costs one extra [[correlations]] pass (itself a
    * single scan with partial aggregation over all pairs). Constant
    * columns correlate as NULL and are never flagged. */
  def withCorrelationAlerts(df: DataFrame, profile: TableProfile,
      threshold: Double = 0.9): TableProfile = {
    val numCols = df.schema.fields
      .filter(f => isNumeric(f.dataType) && profile.variables.contains(f.name))
      .map(_.name).toSeq
    if (numCols.size < 2) return profile
    val hot = correlations(df, Some(numCols)).collect()
      .filter(r => !r.isNullAt(2) && math.abs(r.getDouble(2)) >= threshold)
      .flatMap(r => Seq(r.getString(0), r.getString(1))).toSet
    profile.copy(variables = profile.variables.map { case (n, p) =>
      n -> (if (hot(n) && !p.alerts.contains("high_correlation"))
        p.copy(alerts = p.alerts :+ "high_correlation") else p)
    })
  }

  /** Append ydata's IMBALANCE alert to categorical (string/boolean)
    * columns: score = 1 − H(value counts)/ln(k) > `threshold` (ydata's
    * `column_imbalance_score`, default threshold 0.5; k = distinct values,
    * H = Shannon entropy, natural log, nulls excluded like
    * `value_counts()`). ONE pass for every categorical column: values
    * explode to `(column, value)` pairs, a partial-aggregated two-level
    * groupBy yields per-column `Σ c·ln c`, k and total — the driver sees
    * one row per column. The intermediate is bounded by the summed
    * distinct cardinalities (the same budget an exact distinct count
    * already spends). Single-valued columns score 0 (never flagged). */
  def withImbalanceAlerts(df: DataFrame, profile: TableProfile,
      threshold: Double = 0.5): TableProfile = {
    val catCols = df.schema.fields
      .filter(f => (f.dataType == StringType || f.dataType == BooleanType) &&
        profile.variables.contains(f.name))
      .map(_.name).toSeq
    if (catCols.isEmpty) return profile
    val pairs = df.select(explode(map(
      catCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))
      .as(Seq("__col", "__val")))
    val hot = pairs.filter(col("__val").isNotNull)
      .groupBy("__col", "__val").agg(count(lit(1)).as("__c"))
      .groupBy("__col").agg(
        count(lit(1)).as("__k"),
        sum("__c").cast("double").as("__tot"),
        sum(col("__c").cast("double") * log(col("__c").cast("double"))).as("__clnc"))
      .filter(col("__k") > 1)
      // H = ln(tot) − (Σ c·ln c)/tot;  score = 1 − H/ln(k)
      .select(col("__col"),
        (lit(1.0) - (log(col("__tot")) - col("__clnc") / col("__tot")) /
          log(col("__k").cast("double"))).as("__score"))
      .collect().filter(_.getDouble(1) > threshold).map(_.getString(0)).toSet
    profile.copy(variables = profile.variables.map { case (n, p) =>
      n -> (if (hot(n) && !p.alerts.contains("imbalance"))
        p.copy(alerts = p.alerts :+ "imbalance") else p)
    })
  }

  /** Append ydata's table-level DUPLICATES alert: count rows that are
    * repeats of an identical earlier row (`n − distinct rows`, ydata's
    * `n_duplicates`) and flag when the duplicate fraction exceeds
    * `threshold` (default 0 — any duplicate row fires, ydata's behavior).
    * One shuffle keyed by the full row (partial-aggregated) + a scalar
    * reduce; no driver-side row data. At corpus scale this costs what an
    * exact full-row distinct costs — run it where that is already the
    * dedup contract, or on a column subset via `select` first. */
  def withDuplicateRowAlert(df: DataFrame, profile: TableProfile,
      threshold: Double = 0.0): TableProfile = {
    val r = df.groupBy(df.columns.map(col): _*).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("n"),
        coalesce(sum(when(col("__c") > 1, col("__c") - 1).otherwise(0L)), lit(0L))
          .as("ndup"))
      .head()
    val (n, ndup) = (r.getLong(0), r.getLong(1))
    val fires = n > 0 && ndup.toDouble / n > threshold
    profile.copy(nDuplicates = Some(ndup),
      tableAlerts =
        if (fires && !profile.tableAlerts.contains("duplicates"))
          profile.tableAlerts :+ "duplicates"
        else profile.tableAlerts)
  }

  /** Profile a Parquet file/directory, filling `memorySize` with the exact
    * uncompressed byte count per column from the footers (the reference
    * samples chunks and extrapolates; footers are exact and free). */
  def profileFile(spark: org.apache.spark.sql.SparkSession, path: String,
      columns: Option[Seq[String]] = None,
      exactDistinct: Boolean = false): TableProfile = {
    val base = profile(graft.io.ParquetIO.read(spark, path), columns, exactDistinct)
    val sizes = graft.ops.MemoryOps.memoryUsage(spark, path).columns
      .map(c => c.column -> c.uncompressedBytes).toMap
    base.copy(variables = base.variables.map { case (name, p) =>
      name -> p.copy(memorySize = sizes.getOrElse(name, 0L))
    })
  }

  /** Deterministic alert rules over the computed stats — the subset of the
    * ydata-profiling alert set the reference surfaces
    * (profile_utils.py:286-309 `get_alerts`) that is derivable from
    * single-pass aggregates. Thresholds follow ydata defaults. */
  private[profile] def alertsFor(p: ColumnProfile): Seq[String] = {
    val present = p.n - p.nMissing
    val out = Vector.newBuilder[String]
    if (p.nMissing > 0) out += "missing"
    if (present > 0 && p.nDistinct == 1) out += "constant"
    if (present > 1 && p.nDistinct == present) out += "unique"
    if (p.nZeros > 0) out += "zeros"
    if (p.nInfinite > 0) out += "infinite"
    if (p.dtype == "string" && present > 10 && p.nDistinct > present / 2 &&
        p.nDistinct != present) out += "high_cardinality"
    // ydata CONSTANT_LENGTH: every non-missing string has the same length
    // (fires alongside "constant" when the values are identical too)
    if (p.dtype == "string" && present > 0 &&
        p.minLength.isDefined && p.minLength == p.maxLength)
      out += "constant_length"
    // ydata SKEWED: |g1| > 20 (ydata's vars.num.skewness_threshold
    // default) — population skewness from the same aggregation pass
    for (sk <- p.skewness if math.abs(sk) > 20) out += "skewed"
    // ydata UNIFORM — INTENTIONAL DEVIATION: ydata runs the chi-square
    // over per-distinct-VALUE counts; this runs it over the equal-width
    // HISTOGRAM bins the profile already computes (value counts for a
    // continuous column are data-sized — all 1s — and ydata's own test
    // degenerates there: every count 1 ⇒ stat 0 ⇒ fires vacuously). The
    // histogram form asks "is the DENSITY flat", which is the useful
    // question at corpus scale and costs nothing extra; low-cardinality
    // columns where bins ≈ values agree with ydata. Only fires with real
    // spread (> 1 distinct) — a constant column's single-bin spike is
    // maximally NON-uniform and fails the test anyway.
    for (h <- p.hist if present > 0 && p.nDistinct > 1) {
      val total = h.sum.toDouble
      val bins = h.size
      if (total > 0 && bins > 1) {
        val exp = total / bins
        val stat = h.map { o => val d = o - exp; d * d / exp }.sum
        if (Stat.chiSquareP(bins - 1, stat) > 0.999) out += "uniform"
      }
    }
    out.result()
  }

  /** NaN counts as missing for float columns (pandas semantics the reference
    * inherits via ydata-profiling). */
  private def missingPred(f: StructField, c: Column): Column = f.dataType match {
    case DoubleType | FloatType => c.isNull || isnan(c)
    case _ => c.isNull
  }

  private def toD(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case s: Short => s.toDouble
    case b: Byte => b.toDouble
    case bd: java.math.BigDecimal => bd.doubleValue
    case bd: BigDecimal => bd.doubleValue
    case other => throw new IllegalArgumentException(s"non-numeric stat value: $other")
  }
}

/** Scalar statistics helpers for the alert rules — driver-side math over
  * already-aggregated values (never row data). */
object Stat {

  /** Upper-tail p-value of the chi-square distribution with `dof` degrees
    * of freedom at `stat`: `Q(dof/2, stat/2)`, the regularized upper
    * incomplete gamma function. Standard series / continued-fraction
    * evaluation (Lanczos log-gamma; textbook numerical method). */
  def chiSquareP(dof: Int, stat: Double): Double = {
    require(dof >= 1, s"dof must be >= 1: $dof")
    if (stat <= 0) return 1.0
    val a = dof / 2.0
    val x = stat / 2.0
    if (x < a + 1.0) 1.0 - gammaPSeries(a, x) else gammaQFraction(a, x)
  }

  /** Lanczos approximation of ln Γ(x) (g = 7, 9-term public constants). */
  def lnGamma(xIn: Double): Double = {
    val g = Array(676.5203681218851, -1259.1392167224028, 771.32342877765313,
      -176.61502916214059, 12.507343278686905, -0.13857109526572012,
      9.9843695780195716e-6, 1.5056327351493116e-7)
    if (xIn < 0.5)
      math.log(math.Pi / math.sin(math.Pi * xIn)) - lnGamma(1.0 - xIn)
    else {
      val z = xIn - 1.0
      var acc = 0.99999999999980993
      var i = 0
      while (i < g.length) { acc += g(i) / (z + i + 1); i += 1 }
      val t = z + g.length - 0.5
      0.5 * math.log(2 * math.Pi) + (z + 0.5) * math.log(t) - t + math.log(acc)
    }
  }

  /** Series expansion of the regularized lower incomplete gamma P(a, x),
    * convergent for x < a + 1. */
  private def gammaPSeries(a: Double, x: Double): Double = {
    var ap = a
    var sum = 1.0 / a
    var del = sum
    var i = 0
    while (i < 200 && math.abs(del) >= math.abs(sum) * 1e-14) {
      ap += 1.0
      del *= x / ap
      sum += del
      i += 1
    }
    sum * math.exp(-x + a * math.log(x) - lnGamma(a))
  }

  /** Lentz continued fraction for the regularized upper incomplete gamma
    * Q(a, x), convergent for x >= a + 1. */
  private def gammaQFraction(a: Double, x: Double): Double = {
    val tiny = 1e-300
    var b = x + 1.0 - a
    var c = 1.0 / tiny
    var d = 1.0 / b
    var h = d
    var i = 1
    var del = 0.0
    do {
      val an = -i * (i - a)
      b += 2.0
      d = an * d + b; if (math.abs(d) < tiny) d = tiny
      c = b + an / c; if (math.abs(c) < tiny) c = tiny
      d = 1.0 / d
      del = d * c
      h *= del
      i += 1
    } while (i < 200 && math.abs(del - 1.0) >= 1e-14)
    math.exp(-x + a * math.log(x) - lnGamma(a)) * h
  }
}
