package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation: constraint rules evaluated as
  * aggregates, plus referential-integrity checks — the contract gate a
  * pipeline runs before publishing a dataset version (the style of check
  * popularized by Deequ/Great Expectations, re-expressed as plain
  * aggregation plans).
  *
  * Scale shape: ALL row-level rules (not-null, range, set, regex) compile
  * into ONE aggregation pass over the data — one conditional-sum column
  * per rule, partial-aggregated, no per-rule scans. Each uniqueness rule
  * needs its own groupBy (duplicate detection is inherently a shuffle on
  * the checked key); its result joins the report as one extra small job.
  * Referential integrity is a broadcast-or-shuffle anti-join counted,
  * never materializing the orphan rows unless asked.
  */
object QualityOps {

  /** A validation rule; `test` is the per-row PASS predicate and null
    * handling is explicit per rule type. */
  sealed trait Rule {
    def name: String
    def columnName: String
  }
  /** Fails on SQL NULL. */
  case class NotNull(columnName: String) extends Rule {
    val name = s"not_null($columnName)"
  }
  /** Fails when the value falls outside [lo, hi]; NULLs fail too (use
    * [[NotNull]] semantics — a range check on nothing is a failure). */
  case class InRange(columnName: String, lo: Double, hi: Double) extends Rule {
    val name = s"in_range($columnName,$lo,$hi)"
  }
  /** Fails when the value is not in the allowed set; NULLs fail. */
  case class InSet(columnName: String, allowed: Seq[String]) extends Rule {
    val name = s"in_set($columnName)"
  }
  /** Fails when the value does not fully match `regex`; NULLs fail. */
  case class Matches(columnName: String, regex: String) extends Rule {
    val name = s"matches($columnName)"
  }
  /** Fails for every row beyond the first occurrence of a key (duplicate
    * count = n_rows − n_distinct_keys). Needs its own groupBy job. */
  case class Unique(columns: Seq[String]) extends Rule {
    val name = s"unique(${columns.mkString(",")})"
    val columnName: String = columns.mkString(",")
  }

  private def passExpr(r: Rule): Column = r match {
    case NotNull(c) => col(c).isNotNull
    case InRange(c, lo, hi) =>
      // cast-then-null-check: a NULL *or an uncastable value* both fail
      // (col.isNotNull && between would let garbage strings pass as NULL)
      col(c).cast("double").isNotNull && col(c).cast("double").between(lo, hi)
    case InSet(c, allowed) => col(c).isNotNull && col(c).isin(allowed: _*)
    case Matches(c, re) => col(c).isNotNull && col(c).rlike(re)
    case _: Unique => lit(true) // handled by its own aggregation
  }

  /** Evaluate `rules` against `df`: one report row per rule with
    * `(rule, column, n_rows, violations, violation_rate, pass)` where
    * `pass` is 1 iff violations == 0. Row-level rules share a single
    * aggregation pass; each [[Unique]] adds one distinct-count job. */
  def validate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule required")
    require(rules.map(_.name).distinct.size == rules.size, "duplicate rule names")
    val rowRules = rules.filter(!_.isInstanceOf[Unique])
    val uniqueRules = rules.collect { case u: Unique => u }

    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    val reportSchema = StructType(Seq(
      StructField("rule", StringType, nullable = false),
      StructField("column_name", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("violations", LongType, nullable = false)))

    val rowPart: Option[DataFrame] = if (rowRules.isEmpty) None else {
      val aggs = count(lit(1)).as("_n") +:
        rowRules.zipWithIndex.map { case (r, i) =>
          sum(when(!passExpr(r), 1L).otherwise(0L)).as(s"_v$i")
        }
      val one = df.agg(aggs.head, aggs.tail: _*)
      // reshape the single wide row to long form in-plan (no driver data)
      val entries = rowRules.zipWithIndex.map { case (r, i) =>
        struct(lit(r.name).as("rule"), lit(r.columnName).as("column_name"),
          col("_n").as("n_rows"), coalesce(col(s"_v$i"), lit(0L)).as("violations"))
      }
      Some(one.select(explode(array(entries: _*)).as("e")).select(col("e.*")))
    }
    val uniqueParts: Seq[DataFrame] = uniqueRules.map { u =>
      df.groupBy(u.columns.map(col): _*).agg(count(lit(1)).as("_c"))
        .agg(coalesce(sum("_c"), lit(0L)).as("n_rows"),
          coalesce(sum(col("_c") - 1), lit(0L)).as("violations"))
        .select(lit(u.name).as("rule"), lit(u.columnName).as("column_name"),
          col("n_rows"), col("violations"))
    }
    val all = (rowPart.toSeq ++ uniqueParts)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], reportSchema))
    all.select(col("rule"), col("column_name"), col("n_rows"), col("violations"),
      round(col("violations").cast("double") / col("n_rows"), 6).as("violation_rate"),
      when(col("violations") === 0, 1).otherwise(0).as("pass"))
  }

  /** Referential-integrity summary: how many `fact` rows reference a key
    * absent from `dim`. One anti-join (broadcast when dim's distinct keys
    * are small, AQE decides) + counts; orphan ROWS are only materialized
    * by [[orphanRows]]. NULL fact keys are counted separately (they
    * reference nothing, which is its own data-quality signal). */
  def referentialIntegrity(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame = {
    val nonNull = fact.filter(col(factKey).isNotNull)
    val orphans = nonNull.join(
      dim.select(col(dimKey).as(factKey)).distinct(), Seq(factKey), "left_anti")
    val counts = fact.agg(
      count(lit(1)).as("n_fact"),
      coalesce(sum(when(col(factKey).isNull, 1L).otherwise(0L)), lit(0L))
        .as("n_null_keys"))
    counts.crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
      .select(col("n_fact"), col("n_null_keys"), col("n_orphans"),
        round(col("n_orphans").cast("double") / col("n_fact"), 6).as("orphan_rate"))
  }

  /** The orphan rows themselves (for debugging a failed check). */
  def orphanRows(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame =
    fact.filter(col(factKey).isNotNull).join(
      dim.select(col(dimKey).as(factKey)).distinct(), Seq(factKey), "left_anti")

  /** k-anonymity report over quasi-identifier columns — the governance
    * check a training-data release runs before shipping: every row must
    * share its quasi-identifier combination (its equivalence class) with
    * at least `k−1` others, or it is re-identifiable. One row out:
    * `(n_rows, n_classes, k_anonymity, n_classes_below_k,
    * n_rows_at_risk, risk_share, pass)` where `k_anonymity` is the
    * dataset's ACTUAL minimum class size (its achieved k) and `pass`
    * means `k_anonymity >= k`. NULL quasi-values form their own classes
    * (a null birthdate is itself an identifying pattern).
    *
    * Scale: one partial-aggregated groupBy on the quasi columns → class
    * counts (quasi-cardinality-sized, never row-sized), then one scalar
    * reduce. Same budget as an exact distinct over the same columns. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    classGate(df, quasiCols, count(lit(1)), "k_anonymity",
      "n_classes_below_k", k)
  }

  /** Shared shape of the per-class release gates ([[kAnonymity]],
    * [[lDiversity]]): class table keyed by the quasi columns with a
    * per-class `metric`, then ONE scalar reduce — achieved minimum,
    * classes/rows below `threshold`, risk share, pass flag. */
  private def classGate(df: DataFrame, quasiCols: Seq[String],
      metric: Column, metricName: String, belowName: String,
      threshold: Long): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column required")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), metric.as("__m"))
      .agg(
        sum(col("__n")).cast("long").as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("__m")).cast("long").as(metricName),
        sum(when(col("__m") < threshold, 1L).otherwise(0L)).cast("long")
          .as(belowName),
        sum(when(col("__m") < threshold, col("__n")).otherwise(0L)).cast("long")
          .as("n_rows_at_risk"))
      .withColumn("risk_share",
        round(col("n_rows_at_risk").cast("double") / col("n_rows"), 6))
      .withColumn("pass", col(metricName) >= threshold)
  }

  /** l-diversity release gate — [[kAnonymity]]'s companion: a k-anonymous
    * class is still disclosive when every row in it shares the SAME
    * sensitive value, so the gate also requires ≥ `l` DISTINCT sensitive
    * values per quasi-identifier class. Output mirrors [[kAnonymity]]:
    * one row with achieved `l_diversity` (the minimum class diversity),
    * the classes/rows below `l`, and the pass flag. Nulls in the
    * sensitive column are ignored by the distinct count (standard
    * `count(DISTINCT …)` semantics on both engines) — a class whose
    * sensitive values are ALL null has diversity 0 and fails any l ≥ 1.
    *
    * Scale: one partial-aggregated groupBy on the quasi columns (the
    * distinct count is exact per class — bounded by the sensitive
    * domain, which is small for any column l-diversity makes sense on),
    * then a scalar reduce. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      l: Long): DataFrame = {
    require(l >= 1, s"l must be >= 1: $l")
    classGate(df, quasiCols, count_distinct(col(sensitiveCol)), "l_diversity",
      "n_classes_below_l", l)
  }

  /** t-closeness release gate — the third privacy gate ([[kAnonymity]]
    * hides identity, [[lDiversity]] forces value variety; t-closeness
    * bounds how much a quasi-class's SENSITIVE DISTRIBUTION deviates from
    * the global one — a class that is 95% "cancer" leaks even with l = 3).
    * For an ORDERED sensitive attribute the distance is the standard
    * ordered-EMD: `(1/(k−1)) Σᵢ |cumP(i) − cumQ(i)|` over the k distinct
    * sensitive values. One row:
    * `(n_rows, n_classes, t_closeness, n_classes_above_t,
    * n_rows_at_risk, risk_share, pass)` — `t_closeness` = the WORST
    * class's EMD; pass when it is ≤ `t`.
    *
    * Scale: global per-value counts ride the shared deterministic-bucket
    * cumsum (no global window); the class × value grid is
    * classes·k-bounded (the sensitive domain is small by the same
    * contract as [[lDiversity]]'s exact distinct), built from one
    * class-value count aggregation joined to the broadcast value spine;
    * per-class cumulatives use CLASS-KEYED windows. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column required")
    require(t > 0 && t < 1, s"t must be in (0,1): $t")
    import org.apache.spark.sql.expressions.Window
    val s = col(sensitiveCol).cast("double")
    val base = df.filter(s.isNotNull)
      .select(quasiCols.map(col) :+ s.as("__v"): _*)
    val globalCounts = base.groupBy(col("__v")).agg(count(lit(1)).as("__g"))
    val kn = globalCounts
      .agg(count(lit(1)).as("k"), sum(col("__g")).as("n")).head()
    val k = kn.getLong(0)
    val n = if (kn.isNullAt(1)) 0L else kn.getLong(1)
    val spark = df.sparkSession
    import spark.implicits._
    def out(nRows: Long, nClasses: Long, tClose: Double, nAbove: Long,
        nAtRisk: Long, riskShare: Double, pass: Boolean) =
      Seq((nRows, nClasses, tClose, nAbove, nAtRisk, riskShare, pass))
        .toDF("n_rows", "n_classes", "t_closeness", "n_classes_above_t",
          "n_rows_at_risk", "risk_share", "pass")
    // a 0/1-value sensitive domain: every class matches trivially
    if (n == 0 || k < 2) return out(n, 0L, 0.0, 0L, 0L, 0.0, pass = true)
    val (cum, _) = graft.ops.ScaleOps.withExclusiveRunningSums(
      globalCounts, col("__v"), Seq("__g"), Seq("__gBelow"),
      persistInput = false)
    val spine = cum.select(col("__v"),
      ((col("__gBelow") + col("__g")).cast("double") / n).as("__pCum"))
    val classes = base.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__cn"))
    val cv = base.groupBy(quasiCols.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    // complete class × value grid (bounded by contract), zero-filled
    val grid = classes.crossJoin(broadcast(spine))
      .join(cv, quasiCols :+ "__v", "left")
      .na.fill(0L, Seq("__c"))
    val w = Window.partitionBy(quasiCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perClass = grid
      .withColumn("__qCum", sum(col("__c")).over(w).cast("double") / col("__cn"))
      .groupBy(quasiCols.map(col) :+ col("__cn").as("__n"): _*)
      .agg((sum(abs(col("__qCum") - col("__pCum"))) / (k - 1)).as("__emd"))
    val r = perClass.agg(
        sum(col("__n")).cast("long").as("n_rows"),
        count(lit(1)).as("n_classes"),
        max(col("__emd")).as("t_closeness"),
        sum(when(col("__emd") > t, 1L).otherwise(0L)).cast("long")
          .as("n_classes_above_t"),
        sum(when(col("__emd") > t, col("__n")).otherwise(0L)).cast("long")
          .as("n_rows_at_risk"))
      .withColumn("risk_share",
        round(col("n_rows_at_risk").cast("double") / col("n_rows"), 6))
      .withColumn("pass", col("t_closeness") <= t)
      .head()
    out(r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
      r.getLong(4), r.getDouble(5), r.getBoolean(6))
  }

  /** Benford first-digit test — the classic synthetic-/fabricated-data
    * smell test for naturally-occurring magnitudes (prices, populations,
    * file sizes follow P(d) = log₁₀(1 + 1/d); uniform or hand-typed data
    * does not). One row per digit 1–9 (always all nine, observed or
    * not): `(digit, n, share, expected_share, chi2)` where `chi2` is the
    * TOTAL χ² statistic over all nine digits, repeated on each row
    * (8 degrees of freedom; > 20.09 rejects Benford at α = 0.01).
    *
    * The leading digit is `⌊x / 10^⌊log₁₀x⌋⌋` with the two off-by-one
    * float corrections (a log₁₀ that rounds across an integer boundary
    * yields 10 or 0; the true digit is then 1 or 9 respectively), so
    * ANY correctly-rounded-to-±1ulp log₁₀ — Spark's and DuckDB's both —
    * produces the exact digit. Zero, null, NaN and ±∞ values are
    * excluded.
    *
    * Scale: ONE scan projection + a 9-group aggregation, collapsed to a
    * single row carrying the digit→count map, the total AND the χ² total
    * (an `aggregate` fold over the fixed 9-digit domain), then joined to
    * the 9-row digit spine — the scan lineage appears exactly once in the
    * plan, so no exchange-reuse dependence and no second data pass. */
  def benfordTest(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = abs(col(valueCol).cast("double"))
    val usable = df
      .filter(col(valueCol).isNotNull && !isnan(x) &&
        x > 0.0 && x < Double.PositiveInfinity)
      .select(x.as("__x"))
    val raw = floor(col("__x") / pow(lit(10.0), floor(log10(col("__x")))))
    val observed = usable
      .select(when(raw === 10.0, 1).when(raw === 0.0, 9)
        .otherwise(raw.cast("int")).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("__o"))
    // digit d's Benford share, log₁₀(1 + 1/d), as the SAME correctly-
    // rounded primitive the oracle uses (ln-ratio log(10, x) can differ
    // by 1 ulp from a native log10)
    def expected(d: Column): Column = log10(lit(1.0) + lit(1.0) / d)
    // ≤ 9 rows fold to ONE: the digit→count map, the grand total, and the
    // total χ² as a closed fold over the full 1–9 domain (absent digits
    // contribute (0 − n·e)²/(n·e))
    val oneRow = observed.agg(
      map_from_entries(collect_list(struct(col("digit"), col("__o")))).as("__om"),
      sum(col("__o")).cast("double").as("__n"))
    val chi2All = aggregate(
      sequence(lit(1), lit(9)),
      lit(0.0),
      (acc, d) => {
        val o = coalesce(element_at(col("__om"), d), lit(0L)).cast("double")
        val ne = col("__n") * expected(d.cast("int"))
        acc + pow(o - ne, 2) / ne
      })
    val spine = (1 to 9).toDF("digit")
    spine
      .crossJoin(broadcast(oneRow.select(col("__om"), col("__n"),
        chi2All.as("chi2"))))
      .select(col("digit"),
        coalesce(element_at(col("__om"), col("digit")), lit(0L)).as("n"),
        (coalesce(element_at(col("__om"), col("digit")), lit(0L)) / col("__n"))
          .as("share"),
        expected(col("digit")).as("expected_share"),
        col("chi2"))
  }

  // Shared regex character classes for [[unicodeAnomalies]] — ONE
  // definition used by both the Spark plan and the DuckDB oracle (the q213
  // lesson: engine-native classes like \s diverge between Java and RE2;
  // explicit \x escapes are interpreted identically). All BMP, so
  // code-point counting agrees across engines.
  /** U+FFFD — the decoder's substitution char: mojibake smoking gun. */
  val ReplacementClass = "[\\x{FFFD}]"
  /** C0/DEL control chars EXCLUDING \t \n \r (legitimate in text). */
  val ControlClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
  /** Anything outside printable ASCII + \t \n \r. */
  val NonAsciiClass = "[^\\x09\\x0A\\x0D\\x20-\\x7E]"
  /** Basic Latin letters. */
  val LatinClass = "[A-Za-z]"
  /** Cyrillic block — the classic Latin-lookalike homoglyph source. */
  val CyrillicClass = "[\\x{0400}-\\x{04FF}]"

  /** Empirical-Bayes (beta-binomial) shrinkage of per-key success rates —
    * the fix for "this source has 3 docs and a 100% violation rate": raw
    * per-key rates from few observations are noise; shrinking toward the
    * cross-key prior by observation count ranks keys honestly. Prior
    * (α, β) by method of moments over the raw rates: with m = mean(rate)
    * and v = var_samp(rate), common = m(1−m)/v − 1, α = m·common,
    * β = (1−m)·common; shrunk rate = (k + α)/(n + α + β). Degenerate
    * priors (zero/invalid variance, m at 0 or 1, fewer than 2 keys) fall
    * back to the raw rate with NULL α/β — fail-open, never a fabricated
    * prior. Output per key: `(key, n, k, raw_rate, shrunk_rate, alpha,
    * beta)` (α/β repeated on each row for transparency).
    *
    * Scale: one keyed count/sum aggregation, one scalar moment reduce
    * over the key-bounded rate table (collected — two doubles), one
    * projection. */
  def ebShrinkRates(df: DataFrame, keyCol: String,
      successCol: String): DataFrame = {
    val perKey = df
      .filter(col(keyCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("boolean").cast("long")).as("k"))
      .withColumn("raw_rate", col("k").cast("double") / col("n"))
    val mv = perKey.agg(avg(col("raw_rate")).as("m"),
      var_samp(col("raw_rate")).as("v")).head()
    val prior: Option[(Double, Double)] =
      if (mv.isNullAt(0) || mv.isNullAt(1)) None
      else {
        val (m, v) = (mv.getDouble(0), mv.getDouble(1))
        if (v <= 0 || m <= 0 || m >= 1) None
        else {
          val common = m * (1 - m) / v - 1
          if (common <= 0) None else Some((m * common, (1 - m) * common))
        }
      }
    prior match {
      case Some((a, b)) => perKey.select(col("key"), col("n"), col("k"),
        col("raw_rate"),
        ((col("k") + a) / (col("n") + a + b)).as("shrunk_rate"),
        lit(a).as("alpha"), lit(b).as("beta"))
      case None => perKey.select(col("key"), col("n"), col("k"),
        col("raw_rate"), col("raw_rate").as("shrunk_rate"),
        lit(null).cast("double").as("alpha"),
        lit(null).cast("double").as("beta"))
    }
  }

  /** Per-language Unicode-anomaly report — the encoding-health gate a
    * corpus passes before tokenizer training: replacement characters
    * (U+FFFD) mean a decode already failed upstream; stray C0 controls
    * mean binary contamination; Latin+Cyrillic mixing inside one document
    * is the canonical homoglyph-spoofing / poisoning signature. Output per
    * `langCol` value: `(lang, n_docs, n_docs_replacement, n_docs_control,
    * n_docs_mixed_script, nonascii_share)` — the share is corpus-weighted
    * (Σ non-ASCII chars / Σ chars), NULL on an all-empty slice.
    *
    * Scale: counts are `length(x) − length(regexp_replace(x, class, ""))`
    * — pure codegen'd scan projections, no explode, no UDF — into one
    * lang-keyed partial aggregation. Output height = |languages|. */
  def unicodeAnomalies(docs: DataFrame, textCol: String,
      langCol: String): DataFrame = {
    def cnt(cls: String) =
      length(col(textCol)) - length(regexp_replace(col(textCol), cls, ""))
    docs
      .filter(col(langCol).isNotNull && col(textCol).isNotNull)
      .select(col(langCol).as("lang"),
        cnt(ReplacementClass).as("__repl"),
        cnt(ControlClass).as("__ctrl"),
        cnt(NonAsciiClass).as("__nonascii"),
        length(col(textCol)).as("__len"),
        (col(textCol).rlike(LatinClass) &&
          col(textCol).rlike(CyrillicClass)).as("__mixed"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__repl") > 0, 1L).otherwise(0L)).as("n_docs_replacement"),
        sum(when(col("__ctrl") > 0, 1L).otherwise(0L)).as("n_docs_control"),
        sum(when(col("__mixed"), 1L).otherwise(0L)).as("n_docs_mixed_script"),
        sum(col("__nonascii")).as("__na"),
        sum(col("__len")).as("__chars"))
      .select(col("lang"), col("n_docs"), col("n_docs_replacement"),
        col("n_docs_control"), col("n_docs_mixed_script"),
        when(col("__chars") > 0,
          col("__na").cast("double") / col("__chars")).as("nonascii_share"))
  }

  /** Wald's sequential probability ratio test (SPRT) gate — the quality
    * gate that knows when it has SEEN ENOUGH: test H₀ "rate ≤ p0" against
    * H₁ "rate ≥ p1" on a boolean column and answer accept / reject /
    * continue with guaranteed error rates (α false-reject, β
    * false-accept) — the sequential alternative to fixed-n tests that
    * lets a pipeline stop sampling a source early. One row:
    * `(n, k, llr, lower, upper, decision)` — the binomial log-likelihood
    * ratio `k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0))` against Wald's
    * boundaries `ln(β/(1−α))` / `ln((1−β)/α)`. Complete-case on the
    * boolean.
    *
    * Scale: ONE count/sum aggregation; everything else is literals. */
  def sprtGate(df: DataFrame, successCol: String, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p1 < 1 && p0 < p1, s"need 0 < p0 < p1 < 1: $p0, $p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha/beta must be in (0,1): $alpha, $beta")
    val lower = math.log(beta / (1 - alpha))
    val upper = math.log((1 - beta) / alpha)
    val lrPos = math.log(p1 / p0)
    val lrNeg = math.log((1 - p1) / (1 - p0))
    df.filter(col(successCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("boolean").cast("long")).as("k"))
      .select(col("n"), coalesce(col("k"), lit(0L)).as("k"),
        (coalesce(col("k"), lit(0L)) * lrPos +
          (col("n") - coalesce(col("k"), lit(0L))) * lrNeg).as("llr"),
        lit(lower).as("lower"), lit(upper).as("upper"))
      .withColumn("decision",
        when(col("llr") >= col("upper"), lit("reject_h0"))
          .when(col("llr") <= col("lower"), lit("accept_h0"))
          .otherwise(lit("continue")))
  }
}
