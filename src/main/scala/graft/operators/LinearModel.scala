package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{ParamFrame, ScaleOps}
import NewtonFit.{dec, round12}

/** Distributed training of a linear (logistic-regression) text classifier
  * over hashed token features — the quality-/domain-classifier step of a
  * training-data pipeline (public recipe: the fastText-style linear
  * classifiers corpus filters use, trained here by full-batch gradient
  * descent).
  *
  * Features are TERM FREQUENCIES `x_d[b] = cnt_d[b] / len_d` (raw counts
  * would make the margin scale with document LENGTH — every long doc
  * saturates the sigmoid regardless of class). The 1/len never rides
  * inside a distributed sum: margins divide once after the exact
  * count-sum, and the gradient folds 1/len into the per-doc residual
  * BEFORE it is decimal-rounded, so every Σ stays integer×decimal exact.
  *
  * Architecture = [[Similarity.kmeansLloyd]]'s shape: the CONTROL loop is
  * driver-sequenced (weights are B doubles — control-plane data), each
  * iteration is one distributed pass:
  *   margin_d = (Σ_b w[b]·cnt_d[b]) / len_d  (exact sum, one division)
  *   r_d      = (y_d − σ(margin_d)) / len_d  (double → 15-dp decimal)
  *   g[b]     = Σ_d r_d·cnt_d[b] / N         (decimal-exact sum)
  *   w'[b]    = round₁₂(w[b] + lr·g[b])
  *
  * Determinism contract (what makes the DuckDB oracle possible): every
  * SUM runs in exact decimal, so partial-aggregation order cannot change
  * a bit; the only transcendental (σ's exp) is computed on decimal-exact
  * inputs and its ≤1-ulp cross-engine difference is damped by the 15-dp
  * residual rounding — and logistic regression is SMOOTH (no argmin/
  * threshold branches), so that noise stays O(1e−12) instead of flipping
  * discrete decisions. Inter-iteration 12-dp weight rounding is the
  * pageRank-oracle pattern of [[graft.catalog.DedupLinkage]] (q180).
  *
  * Scale shape: the token stream reduces once to per-(doc, bucket) counts
  * (map-side combined, bounded by B per doc); each iteration joins those
  * counts to a BROADCAST B-row weight table and runs two partial-agg
  * shuffles (per-doc margin, per-bucket gradient). Token text never
  * shuffles. N passes over the counts = `iterations`; cache the counts
  * DataFrame for multi-epoch runs.
  */
object LinearModel {

  /** The engine-portable feature hash shared with
    * [[Sampling.dsirWeights]]: `(length(term)·31 + codepoint(term[0]))
    * mod B` — identical values in Spark and DuckDB for any Unicode token. */
  def portableBucket(term: Column, numBuckets: Int): Column =
    pmod(length(term) * lit(31) + ascii(term), lit(numBuckets))

  /** Train `iterations` full-batch gradient steps from w = 0; returns the
    * final weights as one row per bucket `(bucket, weight)` (rounded to
    * `roundTo`). `label` must evaluate to 0/1. Empty documents (no
    * tokens) take no part — they have no features and would only dilute
    * N. */
  def logregTrainHashed(docs: DataFrame, idCol: String, textCol: String,
      label: Column, numBuckets: Int = 64, lr: Double = 0.1,
      iterations: Int = 2, roundTo: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    val (xc0, yv0) = features(docs, idCol, textCol, label, numBuckets)
    // BOTH sides persist: each iteration reads the counts twice (margin +
    // gradient) and the label/length table once — without the caches the
    // token explode re-runs 3× per iteration. Both caches are
    // REPARTITIONED BY id first (guide §2.4 — establish the partitioning
    // once): every per-iteration hop keys by id (margin groupBy, the
    // label join, the gradient join), so co-partitioned caches make each
    // epoch shuffle only the B-row gradient aggregate instead of
    // re-exchanging the feature counts twice per iteration.
    // The partition count is SIZE-DERIVED (guide §2 — from the data, not
    // the session constant): under the session setting a ~9k-doc training
    // set cached as 32 near-empty blocks and every epoch hop paid 32
    // tasks × 3 joins (measured 554 tasks for q200 at sf0.1); one cheap
    // doc count sizes the cache at ~8k docs/task, and corpora larger than
    // the session setting × 8k keep the session setting unchanged.
    val pT = math.min(
      math.max(1, spark.sessionState.conf.numShufflePartitions),
      math.max(1L, (docs.count() + 8191) / 8192)).toInt
    val xc = ScaleOps.persisted(xc0.repartition(pT, col("id")))
    val yv = ScaleOps.persisted(yv0.repartition(pT, col("id")))
    ScaleOps.releasing(xc, yv)(ParamFrame.withFixedPlan(spark) {
      val n = yv.count().toDouble
      var w = Array.fill(numBuckets)(0.0)
      for (_ <- 1 to iterations) {
        // weights ride as doubles and re-round to the SAME 12-dp decimal
        // at use (the 12-dp decimal → nearest double → 12-dp decimal
        // round trip is the identity at these magnitudes) — exactly what
        // the oracle's CAST(round(w, 12) AS DECIMAL(28,12)) computes
        val wDf = broadcast(spark.createDataFrame(
          w.zipWithIndex.map { case (v, b) => (b, v) }.toSeq)
          .toDF("__b", "__w"))
        val margins = xc.join(wDf, Seq("__b"))
          .groupBy(col("id"))
          .agg(sum(col("__c").cast("decimal(9,0)") * col("__w").cast("decimal(28,12)"))
            .cast("double").as("__rawm"))
        val resid = yv.join(margins, Seq("id"), "left")
          .select(col("id"),
            ((col("__y") - lit(1.0) /
              (lit(1.0) + exp(-(coalesce(col("__rawm"), lit(0.0)) / col("__len")))))
              / col("__len")).cast("decimal(28,15)").as("__r"))
        val grads = xc.join(resid, Seq("id"))
          .groupBy(col("__b"))
          .agg((sum(col("__c").cast("decimal(9,0)") * col("__r")).cast("double") / lit(n))
            .as("__g"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        w = w.zipWithIndex.map { case (v, b) =>
          round12(v + lr * grads.getOrElse(b, 0.0))
        }
      }
      import spark.implicits._
      w.zipWithIndex.map { case (v, b) =>
        (b, BigDecimal(v).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.toDF("bucket", "weight")
    })
  }

  /** Score documents with a trained weight table: `(id, label, score)`
    * with `score = σ(Σ_b w[b]·x_d[b])` — the admission signal a corpus
    * gate thresholds on. One broadcast join + one partial-agg shuffle.
    * Token-less documents are OMITTED (the feature builder has no row for
    * them — same universe as training); left-join from the full doc set
    * and coalesce to 0.5 if a no-evidence row is wanted.
    *
    * Pass weights at full 12-dp precision (train with `roundTo = 12`):
    * the scoring join re-casts them to DECIMAL(28,12), and 6-dp display
    * weights would score slightly differently than the training margins
    * did. */
  def logregScoreHashed(docs: DataFrame, idCol: String, textCol: String,
      label: Column, weights: DataFrame, numBuckets: Int = 64,
      roundTo: Int = 4): DataFrame = {
    val (xc, yv) = features(docs, idCol, textCol, label, numBuckets)
    val wDf = broadcast(weights.select(col("bucket").as("__b"),
      col("weight").cast("decimal(28,12)").as("__w")))
    val margins = xc.join(wDf, Seq("__b"))
      .groupBy(col("id"))
      .agg(sum(col("__c").cast("decimal(9,0)") * col("__w"))
        .cast("double").as("__rawm"))
    yv.join(margins, Seq("id"), "left")
      .select(col("id"), col("__y").as("label"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("__rawm"), lit(0.0)) / col("__len")))), roundTo)
          .as("score"))
  }

  /** Classifier evaluation over a scored table `(id, label, score)` — the
    * metrics a corpus gate is tuned with, computed at corpus scale:
    * rank-based AUC (Mann–Whitney U with average ranks for score ties —
    * exact, no curve sampling) plus the confusion counts and accuracy at
    * `threshold`. One per-distinct-score aggregation, a distributed
    * running count, and one final aggregation; output is a single row
    * `(n_pos, n_neg, auc, tp, fp, tn, fn, accuracy)`.
    *
    * Scale shape: everything reduces to one row per DISTINCT score
    * (count + positive count), and the rank material — the count of rows
    * BELOW each score — comes from the two-phase distributed running sum
    * ([[graft.ops.ScaleOps.withExclusiveRunningSum]], the [[graft.profile.Drift.ksStatistic]]
    * mechanics): range partition, per-partition windows, driver
    * prefix-summed offsets. No global single-partition window anywhere, so
    * this runs at corpus scale, not just eval-set scale. Scores should be
    * pre-rounded (q201's contract) so ranking is engine-replayable; tie
    * average-ranks are dyadic rationals (k + 0.5), so every sum here is
    * float-exact under any order. */
  def evalScores(scored: DataFrame, threshold: Double = 0.5,
      roundTo: Int = 6): DataFrame = {
    // null-label rows are EXCLUDED up front: the per-score counts would
    // otherwise fold them into the negatives (count(1) vs sum(__y)), and
    // the old per-row form silently let them inflate rank positions —
    // both wrong answers for an unlabeled row in an eval set
    val perScore = scored.select(col("label").cast("int").as("__y"),
        col("score").cast("double").as("score"))
      .filter(col("__y").isNotNull)
      .groupBy(col("score"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).cast("long").as("__pos"))
    val ranked = graft.ops.ScaleOps.withExclusiveRunningSum(
      perScore, col("score"), "__cnt", "__below")
    ranked.agg(
        sum(col("__pos")).cast("long").as("__p"),
        sum(col("__cnt") - col("__pos")).cast("long").as("__n"),
        // Σ over positives of average rank: the rows at score s occupy
        // ranks __below+1 .. __below+__cnt, so each averages
        // __below + (__cnt+1)/2 — a dyadic half, summed exactly in double
        sum(col("__pos") * (col("__below") + (col("__cnt") + lit(1)) / lit(2.0)))
          .as("__sp"),
        sum(when(col("score") >= threshold, col("__pos")).otherwise(lit(0L)))
          .cast("long").as("tp"),
        sum(when(col("score") >= threshold, col("__cnt") - col("__pos")).otherwise(lit(0L)))
          .cast("long").as("fp"),
        sum(when(col("score") < threshold, col("__cnt") - col("__pos")).otherwise(lit(0L)))
          .cast("long").as("tn"),
        sum(when(col("score") < threshold, col("__pos")).otherwise(lit(0L)))
          .cast("long").as("fn"))
      .select(col("__p").as("n_pos"), col("__n").as("n_neg"),
        round((col("__sp") - col("__p") * (col("__p") + lit(1)) / lit(2.0)) /
          (col("__p") * col("__n")).cast("double"), roundTo).as("auc"),
        col("tp"), col("fp"), col("tn"), col("fn"),
        round((col("tp") + col("tn")) / (col("__p") + col("__n")).cast("double"), roundTo)
          .as("accuracy"))
  }

  /** Calibration (reliability) table over a scored set: decile score bins
    * with per-bin volume, mean predicted probability and OBSERVED positive
    * rate — the curve that says whether 0.8 means 80%. A well-calibrated
    * model tracks the diagonal; the gap per bin is what Platt/isotonic
    * recalibration would correct. One partial-aggregated groupBy over ≤10
    * keys; mean scores sum in exact decimal so the bin means are
    * order-independent. */
  def reliabilityBins(scored: DataFrame, bins: Int = 10,
      roundTo: Int = 4): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    scored.select(col("label").cast("int").as("__y"),
        col("score").cast("double").as("__s"))
      .withColumn("bin", least(floor(col("__s") * bins).cast("int"), lit(bins - 1)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__s").cast("decimal(10,4)")).cast("double") / count(lit(1)), roundTo)
          .as("mean_score"),
        round(sum(col("__y")) / count(lit(1)).cast("double"), roundTo)
          .as("observed_rate"))
  }

  /** Isotonic (PAVA) probability calibration — the nonparametric
    * recalibrator [[reliabilityBins]]'s gaps call for: fit the best
    * MONOTONE nondecreasing map score → P(y=1) and emit it per quantile
    * bin. One row per non-empty bin: `(bin, n, mean_score,
    * observed_rate, calibrated)` — `calibrated` is the isotonic fit,
    * equal to `observed_rate` wherever the empirical curve is already
    * monotone and the pooled-adjacent value where it violates.
    *
    * The fit uses the minimax characterization (equivalent to PAVA,
    * Robertson–Wright–Dykstra): fit(k) = max_{i≤k} min_{j≥k}
    * mean(y over bins i..j). Block means divide two EXACT long sums, so
    * both engines compare the identical doubles and a DuckDB oracle
    * replays the whole fit as a three-way bin join (bins ≤ 64 → at most
    * 64³ tiny tuples).
    *
    * Scale: quantile cutpoints from the distinct-score distributed
    * cumsum ([[graft.ops.ScaleOps.rankCutpoints]] — never a global
    * window), a broadcast cutpoint array for bin assignment, ONE
    * bin-bounded aggregation; the driver sees ≤ `bins` rows and does
    * O(bins²) arithmetic. */
  def isotonicCalibration(scored: DataFrame, labelCol: String,
      scoreCol: String, bins: Int = 20): DataFrame = {
    require(bins >= 2 && bins <= 64, s"bins must be in 2..64: $bins")
    val spark = scored.sparkSession
    import spark.implicits._
    val base = scored.select(col(labelCol).cast("long").as("y"),
        col(scoreCol).cast("double").as("s"))
      .filter(col("y").isNotNull && col("s").isNotNull)
    val counts = base.groupBy(col("s")).agg(count(lit(1)).as("c"))
    val (n, cuts) = graft.ops.ScaleOps.rankCutpoints(counts, "s", "c",
      graft.ops.ScaleOps.quantileRanks(bins))
    if (n == 0)
      return Seq.empty[(Int, Long, Double, Double, Double)]
        .toDF("bin", "n", "mean_score", "observed_rate", "calibrated")
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("s") > c, 1).otherwise(0)
    }
    val byBin = base.withColumn("b", bin)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("y")).as("yb"),
        sum(col("s").cast("decimal(20,12)")).as("sb"))
      .orderBy(col("b"))
      .collect()
    val k = byBin.length
    val nb = byBin.map(_.getLong(1))
    val yb = byBin.map(_.getLong(2))
    // exclusive prefixes so block sums over i..j are O(1) exact longs
    val pn = nb.scanLeft(0L)(_ + _)
    val py = yb.scanLeft(0L)(_ + _)
    def blockMean(i: Int, j: Int): Double =
      (py(j + 1) - py(i)).toDouble / (pn(j + 1) - pn(i))
    val fit = Array.tabulate(k) { kk =>
      (0 to kk).map { i =>
        (kk until k).map(j => blockMean(i, j)).min
      }.max
    }
    byBin.zipWithIndex.map { case (r, i) =>
      (r.getInt(0), nb(i),
        r.getDecimal(3).doubleValue() / nb(i),
        yb(i).toDouble / nb(i), fit(i))
    }.toSeq.toDF("bin", "n", "mean_score", "observed_rate", "calibrated")
  }

  /** Hosmer–Lemeshow calibration test — "are the predicted
    * probabilities honest?" as ONE p-value ([[reliabilityBins]] shows
    * the calibration curve; HL decides it): group by DECILE-OF-RISK
    * bins (cutpoints = the rank-exact score values at ranks ⌈i·n/bins⌉
    * over the distinct-score prefix sum — deterministic, never a global
    * ntile window; scores tying a cutpoint share a bin), then
    * HL = Σ_b [(o₁−e₁)²/(e₁·(1−e₁/n_b))] with e₁ = Σ score in the bin,
    * HL ~ χ²(bins−2). One row: `(n, n_bins, hl, df, p_value)` where
    * `n_bins` counts NON-EMPTY bins; NULL hl/p when any non-empty bin
    * is degenerate (e₁ = 0 or e₁ = n_b — division undefined; a model
    * predicting hard 0/1 can't be HL-tested).
    *
    * Scale: the two-phase DISTRIBUTED cumsum over the distinct-score
    * table for the cutpoints ([[graft.ops.ScaleOps.rankCutpoints]] —
    * never an unkeyed window), a broadcast cutpoint array for bin
    * assignment, one bin-bounded aggregation, scalar algebra on the
    * driver. */
  def hosmerLemeshow(scored: DataFrame, labelCol: String, scoreCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 3, s"bins must be >= 3: $bins")
    val base = scored.select(col(labelCol).cast("int").as("y"),
        col(scoreCol).cast("double").as("s"))
      .filter(col("y").isNotNull && col("s").isNotNull)
    val counts = base.groupBy(col("s")).agg(count(lit(1)).as("c"))
    // cutpoints at ranks ceil(i*n/bins), i = 1..bins-1 — all resolved by
    // the distributed cumsum (its totals pass also yields n)
    val (n, cuts) = graft.ops.ScaleOps.rankCutpoints(counts, "s", "c",
      graft.ops.ScaleOps.quantileRanks(bins))
    val spark = scored.sparkSession
    import spark.implicits._
    def out(nBins: Long, hl: Option[Double]) =
      Seq((n, nBins, hl, (bins - 2).toLong,
          hl.map(graft.profile.Drift.chi2Survival(bins - 2, _))))
        .toDF("n", "n_bins", "hl", "df", "p_value")
    if (n == 0) return out(0L, None)
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("s") > c, 1).otherwise(0)
    }
    val byBin = base.withColumn("b", bin)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("y")).cast("double").as("o1"),
        sum(col("s")).as("e1"))
    val agg = byBin.agg(count(lit(1)).as("k"),
        min(least(col("e1"), col("nb") - col("e1"))).as("minE"),
        sum(when(col("e1") > 0 && col("e1") < col("nb"),
          pow(col("o1") - col("e1"), 2) /
            (col("e1") * (lit(1.0) - col("e1") / col("nb"))))).as("hl"))
      .head()
    out(agg.getLong(0), Option.when(!(agg.isNullAt(1) ||
      agg.getDouble(1) <= 0 || agg.isNullAt(2)))(agg.getDouble(2)))
  }

  /** Expected / maximum calibration error — the one-number summaries of
    * the [[reliabilityBins]] curve (ECE = Σ (n_b/n)·|mean score −
    * observed rate|, MCE = max over bins): the headline metric every
    * model-calibration report leads with. Fixed-width score bins (the
    * reliabilityBins convention). One row: `(n, n_bins, ece, mce)`;
    * `n_bins` counts non-empty bins.
    *
    * Scale: one bin-bounded aggregation + a scalar reduce. */
  def calibrationError(scored: DataFrame, labelCol: String, scoreCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val base = scored.select(col(labelCol).cast("int").as("y"),
        col(scoreCol).cast("double").as("s"))
      .filter(col("y").isNotNull && col("s").isNotNull)
    val byBin = base
      .withColumn("b", least(floor(col("s") * bins).cast("int"), lit(bins - 1)))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("s")).as("ss"),
        sum(col("y")).cast("double").as("sy"))
    val gap = abs(col("ss") / col("nb") - col("sy") / col("nb"))
    byBin.agg(sum(col("nb")).as("_n"), count(lit(1)).as("n_bins"),
        sum(col("nb") * gap).as("_wgap"), max(gap).as("mce"))
      .select(col("_n").as("n"), col("n_bins"),
        when(col("_n") > 0, col("_wgap") / col("_n")).as("ece"), col("mce"))
  }

  /** Multiclass confusion report — one row per class with the counts and
    * the per-class precision/recall/F1 ([[evalScores]] is the BINARY
    * score evaluator; this is the label-vs-label report for language-ID,
    * domain routing, any categorical predictor). Classes = union of
    * observed actual and predicted labels; precision is NULL when the
    * class is never predicted, recall NULL when it never occurs (the
    * honest convention — summarizers choose their own zero-fill;
    * [[classificationSummary]] uses sklearn's zero_division = 0).
    * Output: `(class, n_actual, n_pred, tp, precision, recall, f1)`.
    * Complete-case on both columns.
    *
    * Scale: one (actual, predicted) cell aggregation (class²-bounded
    * after partial agg), two class-bounded marginals, keyed joins on the
    * class. */
  def confusionMatrix(df: DataFrame, actualCol: String, predCol: String): DataFrame = {
    val base = df.select(col(actualCol).cast("string").as("a"),
        col(predCol).cast("string").as("p"))
      .filter(col("a").isNotNull && col("p").isNotNull)
    val na = base.groupBy(col("a").as("class")).agg(count(lit(1)).as("n_actual"))
    val np = base.groupBy(col("p").as("class")).agg(count(lit(1)).as("n_pred"))
    val tp = base.filter(col("a") === col("p"))
      .groupBy(col("a").as("class")).agg(count(lit(1)).as("tp"))
    na.join(np, Seq("class"), "full_outer")
      .join(tp, Seq("class"), "left")
      .na.fill(0L, Seq("n_actual", "n_pred", "tp"))
      .select(col("class"), col("n_actual"), col("n_pred"), col("tp"),
        when(col("n_pred") > 0, col("tp") / col("n_pred")).as("precision"),
        when(col("n_actual") > 0, col("tp") / col("n_actual")).as("recall"))
      .withColumn("f1",
        when(coalesce(col("precision"), lit(0.0)) +
          coalesce(col("recall"), lit(0.0)) > 0,
          lit(2.0) * coalesce(col("precision"), lit(0.0)) *
            coalesce(col("recall"), lit(0.0)) /
            (coalesce(col("precision"), lit(0.0)) +
              coalesce(col("recall"), lit(0.0)))))
  }

  /** One-row multiclass summary over [[confusionMatrix]]'s table:
    * `(n, n_classes, accuracy, macro_precision, macro_recall, macro_f1)`
    * — micro-averaged accuracy plus macro averages over the classes
    * PRESENT IN THE ACTUALS (absent-prediction classes contribute 0, the
    * sklearn zero_division = 0 convention; predicted-only ghost classes
    * don't dilute the macro denominators). */
  def classificationSummary(df: DataFrame, actualCol: String,
      predCol: String): DataFrame = {
    val cm = confusionMatrix(df, actualCol, predCol)
      .filter(col("n_actual") > 0)
    cm.agg(
      sum(col("n_actual")).as("n"),
      count(lit(1)).as("n_classes"),
      (sum(col("tp")) / sum(col("n_actual"))).as("accuracy"),
      avg(coalesce(col("precision"), lit(0.0))).as("macro_precision"),
      avg(coalesce(col("recall"), lit(0.0))).as("macro_recall"),
      avg(coalesce(col("f1"), lit(0.0))).as("macro_f1"))
  }

  /** Binary-classifier diagnostics beyond accuracy — the confusion
    * counts plus the prevalence-robust summary set: Matthews correlation
    * (the single number that survives class imbalance), balanced
    * accuracy, Youden's J, and F1 ([[evalScores]] ranks SCORES; this
    * evaluates a hard 0/1 prediction). One row: `(n, tp, fp, tn, fn,
    * accuracy, precision, recall, f1, balanced_accuracy, youden_j,
    * mcc)`; NULLs where a marginal is empty (e.g. MCC with no predicted
    * positives). Complete-case.
    *
    * Scale: ONE conditional-count aggregation; scalar algebra in-plan. */
  def binaryDiagnostics(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val y = col(labelCol).cast("int")
    val p = col(predCol).cast("int")
    val agg = df.filter(y.isNotNull && p.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(y === 1 && p === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(y === 0 && p === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(y === 0 && p === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(y === 1 && p === 0, 1L).otherwise(0L)).as("fn"))
    val (tp, fp, tn, fn) = (col("tp").cast("double"), col("fp").cast("double"),
      col("tn").cast("double"), col("fn").cast("double"))
    val prec = when(tp + fp > 0, tp / (tp + fp))
    val rec = when(tp + fn > 0, tp / (tp + fn))
    val tnr = when(tn + fp > 0, tn / (tn + fp))
    val mccDen = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    agg.select(col("n"), col("tp"), col("fp"), col("tn"), col("fn"),
      when(col("n") > 0, (tp + tn) / col("n")).as("accuracy"),
      prec.as("precision"), rec.as("recall"),
      when(coalesce(prec, lit(0.0)) + coalesce(rec, lit(0.0)) > 0,
        lit(2.0) * coalesce(prec, lit(0.0)) * coalesce(rec, lit(0.0)) /
          (coalesce(prec, lit(0.0)) + coalesce(rec, lit(0.0)))).as("f1"),
      ((coalesce(rec, lit(0.0)) + coalesce(tnr, lit(0.0))) / 2)
        .as("balanced_accuracy"),
      (coalesce(rec, lit(0.0)) + coalesce(tnr, lit(0.0)) - 1).as("youden_j"),
      when(mccDen > 0, (tp * tn - fp * fn) / sqrt(mccDen)).as("mcc"))
  }

  /** Operationalize a score gate: the admission threshold that keeps
    * `keepRate` of the scored set, plus what actually happens at that
    * threshold. The threshold is the score of the rank-⌈n·keepRate⌉ row
    * under (score desc, id asc) — an exact order statistic, no
    * interpolation — and because scores TIE, the `>= threshold` gate may
    * admit more than the target: the output reports both (`n_target` vs
    * `n_kept`), which is the real operating decision (move the threshold
    * or accept the overshoot). One row:
    * `(threshold, n, n_target, n_kept, kept_pos_rate, overall_pos_rate)`.
    *
    * Scale shape: the rank-k score is an order statistic of the score
    * MULTISET — the (score desc, id asc) tiebreak never changes which
    * VALUE sits at rank k, because ties share one score — so it reduces
    * to one row per distinct score plus a distributed running count
    * ([[withExclusiveRunningCount]]); no global single-partition window.
    * Corpus-scale gates still typically pick the threshold on a small
    * labeled set and apply it as a stateless filter, but nothing here
    * requires that. */
  def thresholdAtKeepRate(scored: DataFrame, keepRate: Double,
      roundTo: Int = 4): DataFrame = {
    require(keepRate > 0 && keepRate <= 1, s"keepRate must be in (0, 1]: $keepRate")
    // The per-distinct-score table carries the positive-label sum alongside
    // the count, so EVERY output statistic reduces over this one table —
    // the (possibly expensive) scoring lineage is evaluated exactly once,
    // when the cumsum materializes its cache. (The previous shape paid a
    // second full scoring pass for the final n_kept/pos-rate aggregate.)
    val perScore = scored
      .select(col("label").cast("int").as("__y"), col("score").cast("double").as("score"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).cast("long").as("__pos"))
    // shared two-phase cumsum — no global single-partition window; the
    // grand total doubles as n (no separate count job)
    val (ranked, grand) = ScaleOps.withExclusiveRunningSums(
      perScore, col("score").desc, Seq("__cnt"), Seq("__above"))
    val n = grand.head
    val k = math.ceil(n * keepRate).toLong
    // every output is a driver scalar: the cumsum's cached per-score table
    // is unreachable from the returned literal frame, so it releases here
    val (thr, stats) = ScaleOps.releasing(ranked) {
      require(n > 0, "thresholdAtKeepRate needs a non-empty scored set")
      // the row whose inclusive span covers rank k in descending order
      val thr = ranked
        .filter(col("__above") < k && col("__above") + col("__cnt") >= k)
        .select(col("score")).head().getDouble(0)
      // null-tolerant driver scalars: n_kept/kp floor at 0 via
      // otherwise(0) (0 kept is legal when every score is NaN — `>= NaN`
      // is false); the label sum stays NULLABLE (an unlabeled gate-tuning
      // set must report a null rate, not crash on unboxing)
      (thr, ranked.agg(
          sum(when(col("score") >= thr, col("__cnt")).otherwise(0L))
            .cast("long").as("n_kept"),
          sum(when(col("score") >= thr, coalesce(col("__pos"), lit(0L)))
            .otherwise(0L)).cast("long").as("__kp"),
          sum(col("__pos")).cast("long").as("__p"))
        .head())
    }
    val (nKept, kp) = (stats.getLong(0), stats.getLong(1))
    val p: Option[Long] = if (stats.isNullAt(2)) None else Some(stats.getLong(2))
    def rate(num: Option[Long], den: Long): Column = num match {
      case Some(v) if den > 0 =>
        round(lit(v.toDouble / den), roundTo).cast("double")
      case _ => lit(null).cast("double")
    }
    scored.sparkSession.range(1).select(
      round(lit(thr), roundTo).as("threshold"), lit(n).as("n"),
      lit(k).as("n_target"), lit(nKept).as("n_kept"),
      rate(p.map(_ => kp), nKept).as("kept_pos_rate"),
      rate(p, n).as("overall_pos_rate"))
  }

  /** Precision–recall / ROC operating points at EVERY distinct ROUNDED
    * score: scores are rounded to `roundTo` decimals FIRST and each
    * threshold t gates `round(score, roundTo) >= t` — one consistent
    * contract whether or not the caller pre-rounded (a raw-score caller
    * gets `roundTo`-granular operating points, never duplicate-threshold
    * rows with disagreeing cumulatives). kept/tp/fp counts and the derived
    * precision, recall, FPR and F1 — the full curve the q202
    * single-operating-point report summarizes. Null labels count as
    * negative (an unlabeled row can never be a true positive); rates whose
    * denominator is 0 (recall with no positives, FPR with no negatives)
    * are null, not a division artifact.
    *
    * Scale: one per-distinct-score aggregation, then the shared two-phase
    * cumsum ([[graft.ops.ScaleOps.withExclusiveRunningSums]]) attaches
    * BOTH running counts (rows above, positives above) in one pass — no
    * global single-partition window, and the output is bounded by the
    * distinct-score cardinality (4-dp sigmoid scores ⇒ ≤ 20 001 rows no
    * matter the corpus size). */
  def prCurve(scored: DataFrame, roundTo: Int = 4): DataFrame = {
    val perScore = scored
      .select(coalesce(col("label").cast("int"), lit(0)).as("__y"),
        // group on the ROUNDED score: the emitted threshold and the group
        // key must be the same value or an unrounded caller gets duplicate
        // threshold rows whose cumulatives disagree with the gate
        round(col("score").cast("double"), roundTo).as("score"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).cast("long").as("__pos"))
    val (ranked, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      perScore, col("score").desc, Seq("__cnt", "__pos"),
      Seq("__cntAbove", "__posAbove"))
    val (n, p) = (grand(0), grand(1))
    val kept = col("__cntAbove") + col("__cnt")
    val tp = col("__posAbove") + col("__pos")
    val fp = kept - tp
    def ratio(num: Column, den: Long): Column =
      if (den > 0) round(num.cast("double") / den, roundTo).cast("double")
      else lit(null).cast("double")
    ranked.select(
      round(col("score"), roundTo).as("threshold"),
      kept.cast("long").as("n_kept"),
      tp.cast("long").as("tp"),
      fp.cast("long").as("fp"),
      round(tp.cast("double") / kept, roundTo).cast("double").as("precision"),
      ratio(tp, p).as("recall"),
      ratio(fp, n - p).as("fpr"),
      round(tp.cast("double") * 2 / (kept + lit(p.toDouble)), roundTo)
        .cast("double").as("f1"))
  }

  /** Exact ROC AUC — the threshold-free ranking quality of a scored set
    * ([[prCurve]] sweeps operating points; AUC is their integral, and the
    * one number model selection compares). Computed rank-based (AUC ≡ the
    * Mann–Whitney statistic): `AUC = (Σ ranks of positives − P(P+1)/2) /
    * (P·N)` with AVERAGE ranks over ties — exactly the
    * trapezoidal-over-tied-scores convention. One row:
    * `(n, n_pos, auc, gini)` (gini = 2·AUC − 1); NULL when either class
    * is absent. Null labels count as negatives (the [[prCurve]]
    * contract).
    *
    * Scale: per-DISTINCT-(rounded-)score counts + the shared
    * deterministic-bucket cumsum for rank offsets; rank sums are
    * half-integer-exact doubles, so the statistic is bit-reproducible. */
  def aucRoc(scored: DataFrame, roundTo: Int = 4): DataFrame = {
    val perScore = scored
      .select(coalesce(col("label").cast("int"), lit(0)).as("__y"),
        round(col("score").cast("double"), roundTo).as("score"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).cast("long").as("__pos"))
    val (ranked, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      perScore, col("score"), Seq("__cnt"), Seq("__below"))
    val n = grand.head
    val avgRank = col("__below") + (col("__cnt") + 1) / lit(2.0)
    val row = ScaleOps.releasing(ranked) {
      ranked.agg(sum(col("__pos") * avgRank).as("_rp"),
        sum(col("__pos")).cast("long").as("_p")).head()
    }
    val spark = scored.sparkSession
    import spark.implicits._
    val p = if (row.isNullAt(1)) 0L else row.getLong(1)
    val neg = n - p
    val auc = Option.when(p > 0 && neg > 0)(
      (row.getDouble(0) - p.toDouble * (p + 1) / 2.0) / (p.toDouble * neg))
    Seq((n, p, auc, auc.map(2.0 * _ - 1.0))).toDF("n", "n_pos", "auc", "gini")
  }

  /** DeLong AUC with its standard error and 95% CI — [[aucRoc]] plus the
    * error bar: is 0.871 vs 0.874 between two model versions signal or
    * ranking noise? DeLong's placement-variance estimator answers
    * without bootstrap resampling: each positive's placement v₁₀ = the
    * fraction of negatives it outranks (ties half), each negative's v₀₁
    * symmetric; Var(AUC) = S₁₀/P + S₀₁/N over the placement variances.
    * One row: `(n, n_pos, auc, se, ci_lo, ci_hi)` (CI clamped to [0,1]);
    * NULLs when either class is absent, se NULL when a class has one
    * member (sample variance undefined).
    *
    * Scale: the [[aucRoc]] plan — per-distinct-score counts, ONE cumsum
    * pass carrying both class prefix counts, two value-bounded reduces
    * (AUC, then the centered placement moments). Placements are exact
    * half-integer ratios, so the estimate replays bit-identically. */
  def aucDeLong(scored: DataFrame, roundTo: Int = 4): DataFrame = {
    val perScore = scored
      .select(coalesce(col("label").cast("int"), lit(0)).as("__y"),
        round(col("score").cast("double"), roundTo).as("score"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).cast("long").as("__pos"))
      .withColumn("__neg", col("__cnt") - col("__pos"))
    val (ranked, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      perScore, col("score"), Seq("__pos", "__neg"),
      Seq("__posBelow", "__negBelow"))
    ScaleOps.releasing(ranked) {
      val p = grand(0); val nn = grand(1)
      val spark = scored.sparkSession
      import spark.implicits._
      val zc = 1.959963984540054
      def out(auc: Option[Double], se: Option[Double]) =
        Seq((p + nn, p, auc, se,
            for (a <- auc; v <- se) yield math.max(0.0, a - zc * v),
            for (a <- auc; v <- se) yield math.min(1.0, a + zc * v)))
          .toDF("n", "n_pos", "auc", "se", "ci_lo", "ci_hi")
      if (p == 0 || nn == 0) return out(None, None)
      val v10 = (col("__negBelow") + col("__neg") / lit(2.0)) / nn
      val v01 = (lit(p) - col("__posBelow") - col("__pos") / lit(2.0)) / p
      val aucRow = ranked.agg(sum(col("__pos") * v10).as("_s")).head()
      val auc = aucRow.getDouble(0) / p
      val moments = ranked.agg(
        sum(col("__pos") * pow(v10 - auc, 2)).as("_m10"),
        sum(col("__neg") * pow(v01 - auc, 2)).as("_m01")).head()
      out(Some(auc), Option.when(p >= 2 && nn >= 2) {
        val s10 = moments.getDouble(0) / (p - 1)
        val s01 = moments.getDouble(1) / (nn - 1)
        math.sqrt(s10 / p + s01 / nn)
      })
    }
  }

  /** Murphy decomposition of the Brier score — WHY is the probability
    * model good or bad: `reliability` (calibration gap — how far bin mean
    * scores sit from bin outcome rates; lower is better), `resolution`
    * (how much the bins separate outcomes; higher is better),
    * `uncertainty` (the outcome base-rate entropy term ȳ(1−ȳ) — the
    * irreducible floor). Bins are the [[reliabilityBins]] fixed-width
    * score bins; with scores constant per bin the identity
    * `brier = reliability − resolution + uncertainty` is exact, otherwise
    * the within-bin score spread separates them (reported raw `brier`
    * makes the gap visible). One row:
    * `(n, brier, reliability, resolution, uncertainty)`. Null labels are
    * negatives.
    *
    * Scale: one bin-keyed aggregation (≤ bins rows) + one scalar reduce;
    * the Brier mean rides the same single scan. */
  def brierDecomposition(scored: DataFrame, bins: Int = 10,
      roundTo: Int = 4): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val base = scored.select(
      coalesce(col("label").cast("int"), lit(0)).cast("double").as("__y"),
      round(col("score").cast("double"), roundTo).as("__s"))
    val byBin = base
      .withColumn("__bin",
        least(floor(col("__s") * bins).cast("int"), lit(bins - 1)))
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("nk"),
        // decimal sums: the roundTo-dp scores and 0/1 labels sum exactly,
        // so bin means are the identical division on any engine
        sum(col("__s").cast("decimal(20,8)")).cast("double").as("ss"),
        sum(col("__y")).cast("double").as("sy"),
        sum((col("__s") - col("__y")) * (col("__s") - col("__y"))).as("sq"))
    val totals = byBin.agg(sum(col("nk")).as("_n"), sum(col("sy")).as("_y"))
    val sBar = col("ss") / col("nk")
    val yBar = col("sy") / col("nk")
    val yAll = col("_y") / col("_n")
    byBin.crossJoin(broadcast(totals))
      .agg(
        first(col("_n")).cast("long").as("n"),
        (sum(col("sq")) / first(col("_n"))).as("brier"),
        (sum(col("nk") * pow(sBar - yBar, 2)) / first(col("_n")))
          .as("reliability"),
        (sum(col("nk") * pow(yBar - yAll, 2)) / first(col("_n")))
          .as("resolution"),
        first(yAll * (lit(1.0) - yAll)).as("uncertainty"))
  }

  /** Confident-learning label-noise estimate (binary Cleanlab shape) —
    * HOW MANY labels are wrong, from the model's own scores: per-class
    * self-confidence thresholds (t₁ = mean score among label-1 rows,
    * t₀ = mean of 1−score among label-0 rows) partition the CONFIDENT
    * rows into a joint count C[given][suggested]; the off-diagonal cells
    * are the estimated mislabels. One row: `(n, t0, t1, n_00, n_01,
    * n_10, n_11, noise_0_to_1, noise_1_to_0)` — `n_01` = labeled 0 but
    * confidently 1 (suggested flips), rates relative to each label's
    * CONFIDENT count; rows confident for neither class stay out (the
    * abstention is what makes the counts robust). Null labels are
    * negatives. NULL rates when a class has no confident rows.
    *
    * Scale: one aggregation for the two thresholds, one conditional-sum
    * aggregation for the joint — two scans, no shuffle beyond scalar
    * rows. */
  def labelNoiseEstimate(scored: DataFrame, roundTo: Int = 4): DataFrame = {
    val base = scored.select(
      coalesce(col("label").cast("int"), lit(0)).as("__y"),
      round(col("score").cast("double"), roundTo).as("__s"))
    // decimal sums: roundTo-dp scores sum exactly, so the thresholds are
    // the identical division on any engine (a float-sum mean could sit
    // one ulp off a score exactly at the boundary)
    val tRow = base.agg(
      (sum(when(col("__y") === 1, col("__s")).cast("decimal(20,8)"))
        .cast("double") /
        sum(when(col("__y") === 1, 1L).otherwise(0L))).as("t1"),
      (sum(when(col("__y") === 0, lit(1.0) - col("__s"))
        .cast("decimal(20,8)")).cast("double") /
        sum(when(col("__y") === 0, 1L).otherwise(0L))).as("t0"))
      .head()
    val spark = scored.sparkSession
    import spark.implicits._
    // t = (t0, t1); the n_ij sums are NULL when no row is confident
    def out(n: Long, t: Option[(Double, Double)], n00: Option[Long],
        n01: Option[Long], n10: Option[Long], n11: Option[Long]) = {
      def rate(num: Option[Long], other: Option[Long]) =
        for (a <- num; b <- other if b + a > 0) yield a.toDouble / (b + a)
      Seq((n, t.map(_._1), t.map(_._2), n00, n01, n10, n11,
          rate(n01, n00), rate(n10, n11)))
        .toDF("n", "t0", "t1", "n_00", "n_01", "n_10", "n_11",
          "noise_0_to_1", "noise_1_to_0")
    }
    // one label class absent: no joint to estimate
    if (tRow.isNullAt(0) || tRow.isNullAt(1))
      return out(0L, None, Some(0L), Some(0L), Some(0L), Some(0L))
    val (t0, t1) = (tRow.getDouble(1), tRow.getDouble(0))
    // suggested class: 1 when s >= t1, 0 when 1-s >= t0; both -> the
    // larger margin (s - t1 vs (1-s) - t0); neither -> abstain
    val conf1 = col("__s") >= t1
    val conf0 = (lit(1.0) - col("__s")) >= t0
    val sug = when(conf1 && conf0,
        when(col("__s") - t1 >= (lit(1.0) - col("__s")) - t0, 1).otherwise(0))
      .when(conf1, 1).when(conf0, 0)
    val r = base.withColumn("__sug", sug)
      .filter(col("__sug").isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__y") === 0 && col("__sug") === 0, 1L).otherwise(0L))
          .as("n_00"),
        sum(when(col("__y") === 0 && col("__sug") === 1, 1L).otherwise(0L))
          .as("n_01"),
        sum(when(col("__y") === 1 && col("__sug") === 0, 1L).otherwise(0L))
          .as("n_10"),
        sum(when(col("__y") === 1 && col("__sug") === 1, 1L).otherwise(0L))
          .as("n_11"))
      .head()
    def cnt(o: Int) = Option.when(!r.isNullAt(o))(r.getLong(o))
    out(r.getLong(0), Some((t0, t1)), cnt(1), cnt(2), cnt(3), cnt(4))
  }

  /** Gains/lift table — the campaign-economics view of a scored set
    * ([[prCurve]] answers "what threshold?"; this answers "how much of the
    * value lives in the top decile?"): rank rows by score descending, cut
    * into `bins` quantile bins, and report per-bin and cumulative positive
    * capture. Per bin: `(bin, n, n_pos, pos_rate, cum_n, cum_pos, gain,
    * lift)` — `gain` = share of ALL positives captured through this bin,
    * `lift` = bin positive rate over the base rate. Tie handling: rows
    * sharing one (rounded) score NEVER split across bins — the whole tie
    * block lands in the bin of its cumulative END (deterministic on any
    * engine; bins are unequal exactly where ties straddle a boundary,
    * which the per-bin `n` makes visible).
    *
    * Scale: the [[prCurve]] shape — per-DISTINCT-score counts, the shared
    * deterministic-bucket cumsum, then a ≤`bins`-row aggregation. The bin
    * id is integer arithmetic on exact cumulative counts
    * (⌈cumEnd·bins/n⌉), so no float boundary can flip an assignment. */
  def liftTable(scored: DataFrame, bins: Int = 10,
      roundTo: Int = 4): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val perScore = scored
      .select(coalesce(col("label").cast("int"), lit(0)).as("__y"),
        round(col("score").cast("double"), roundTo).as("score"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).cast("long").as("__pos"))
    val (ranked, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      perScore, col("score").desc, Seq("__cnt", "__pos"),
      Seq("__cntAbove", "__posAbove"))
    val (n, p) = (grand(0), grand(1))
    val spark = scored.sparkSession
    if (n == 0) {
      return spark.range(0).select(
        lit(0L).as("bin"), lit(0L).as("n"), lit(0L).as("n_pos"),
        lit(0.0).as("pos_rate"), lit(0L).as("cum_n"), lit(0L).as("cum_pos"),
        lit(0.0).as("gain"), lit(0.0).as("lift"))
    }
    val cumEnd = col("__cntAbove") + col("__cnt")
    // exact integers below 2^53 — the double round-trip cannot flip a bin
    val bin = least(
      floor((cumEnd * bins + (n - 1)).cast("double") / n).cast("long"),
      lit(bins.toLong))
    val baseRate = p.toDouble / n
    ranked
      .withColumn("__bin", bin)
      .groupBy(col("__bin"))
      .agg(
        sum(col("__cnt")).cast("long").as("n"),
        sum(col("__pos")).cast("long").as("n_pos"),
        max(col("__cntAbove") + col("__cnt")).cast("long").as("cum_n"),
        max(col("__posAbove") + col("__pos")).cast("long").as("cum_pos"))
      .select(col("__bin").as("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n")).as("pos_rate"),
        col("cum_n"), col("cum_pos"),
        (if (p > 0) col("cum_pos").cast("double") / p
         else lit(null).cast("double")).as("gain"),
        (if (p > 0) col("n_pos").cast("double") / col("n") / lit(baseRate)
         else lit(null).cast("double")).as("lift"))
  }

  /** Per-(doc, bucket) counts + per-doc (label, token count) for
    * documents with at least one token. */
  private def features(docs: DataFrame, idCol: String, textCol: String,
      label: Column, numBuckets: Int): (DataFrame, DataFrame) = {
    val tb = docs.select(col(idCol).as("id"), label.cast("int").as("__y"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("__term"))
      .select(col("id"), col("__y"), portableBucket(col("__term"), numBuckets).as("__b"))
    val xc = tb.groupBy(col("id"), col("__b")).agg(count(lit(1)).as("__c"))
    val yv = tb.groupBy(col("id"))
      .agg(max(col("__y")).as("__y"), count(lit(1)).as("__len"))
    (xc, yv)
  }

  /** Poisson GLM (log link) by Newton–Raphson — the COUNT-outcome
    * regression ([[logregTrainHashed]] models a binary label; event/
    * defect/token counts want a rate model): y ~ Poisson(exp(β₀ + βᵀx)),
    * `iterations` fixed steps from β = 0, one row per term (`intercept`
    * first, then each covariate): `(term, n, beta, se, z, p_value)` —
    * each covariate's β is a log rate ratio per unit, SE from the
    * Fisher information evaluated AT the reported (post-final-step) β
    * via one extra no-step pass after the loop, two-sided p via the
    * shared A&S normal survival. NULL stats when the information matrix goes singular (a
    * constant covariate) or n = 0.
    *
    * Determinism contract (the [[graft.operators.Behavior.coxPH]]
    * recipe, SIMPLER here — no risk sets): covariates quantize to
    * DECIMAL(8,4), per-row means exp(β₀+βᵀx) to DECIMAL(20,12) (keep
    * |η| ≲ 18 by feature-scaling — the decimal overflows past 1e8, and
    * every pass counts NULL means and THROWS if any row overflowed: the
    * non-ANSI cast would otherwise silently drop the row from every
    * moment sum), so
    * every Newton ingredient (Σμ, Σμxₖ, Σμxₖxₗ, Σy, Σyxₖ) is an EXACT
    * decimal/long sum — aggregation order cannot move a bit; β re-rounds
    * to 12 dp between iterations, damping the ≤ 1 ulp libm exp noise.
    * With ONE covariate the Newton step and SE inverse are the
    * closed-form 2×2 expressions a DuckDB oracle mirrors verbatim;
    * higher dimensions solve by in-place Gaussian elimination
    * (oracle replay covers d ≤ 1).
    *
    * Scale: per iteration ONE whole-table reduce to (d+1)(d+4)/2 decimal
    * sums (partial-aggregated, no groupBy, no window), O(d³) driver
    * algebra. */
  def poissonGlm(df: DataFrame, yCol: String, covariates: Seq[String],
      iterations: Int = 4): DataFrame =
    poissonGlmImpl(df, yCol, covariates, iterations, quasi = false)

  /** Quasi-Poisson GLM — the overdispersion-honest count model (real
    * event counts are almost never equidispersed; q302's diagnostic
    * DETECTS it, this CORRECTS for it): identical point estimates to
    * [[poissonGlm]], standard errors scaled by √φ̂ with
    * φ̂ = Pearson X²/(n−p) at the final fit — the quasi-likelihood
    * answer that keeps z/p honest when Var(y) ≈ φ·μ. One row per term:
    * `(term, n, phi, beta, se, z, p_value)`.
    *
    * Determinism: the [[poissonGlm]] Newton verbatim, then ONE more
    * whole-table reduce at the final β — each row's (y−μ)²/μ rounds to
    * 12 dp before an exact decimal sum (the coxPH term recipe), so φ̂
    * replays in the oracle. */
  def quasiPoissonGlm(df: DataFrame, yCol: String, covariates: Seq[String],
      iterations: Int = 4): DataFrame =
    poissonGlmImpl(df, yCol, covariates, iterations, quasi = true)

  private def poissonGlmImpl(df: DataFrame, yCol: String,
      covariates: Seq[String], iterations: Int, quasi: Boolean): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 8,
      s"poissonGlm needs 1..8 covariates, got ${covariates.size}")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val d = covariates.size
    val dim = d + 1
    val terms = "intercept" +: covariates
    val spark = df.sparkSession
    import spark.implicits._
    def table(n: Long, phi: Option[Double], w: Seq[NewtonFit.Wald]) = {
      val out = terms.zip(w).map { case (t, (b, se, z, p)) =>
        (t, n, phi, b, se, z, p) }
        .toDF("term", "n", "phi", "beta", "se", "z", "p_value")
      if (quasi) out else out.drop("phi")
    }
    NewtonFit.withBase(ScaleOps.persisted(NewtonFit.design(df, Seq(yCol),
        Seq(col(yCol).cast("long").as("__y")), covariates))) { base =>
      val (n, sy, syx) = countSums(base, d)
      if (n == 0 || sy == 0) return table(n, None, NewtonFit.nullRows(dim))
      val baseIt = ParamFrame.compactForIteration(base, n)
      // standard GLM start — intercept at ln(ȳ), slopes 0: from β = 0 a
      // first Newton step overshoots by ln(ȳ) and then crawls back ~1
      // per iteration (measured: 25 steps to converge vs 4 from here)
      val start = Array.fill(dim)(0.0)
      start(0) = round12(math.log(sy / n))
      val fit = NewtonFit.run(start, iterations, trailing = true)(
        poissonPass(baseIt, d, sy, syx, "__pb", k =>
          s"poissonGlm: $k row means exp(eta) " +
            "overflowed DECIMAL(20,12) (|eta| > ~18.4) — feature-scale " +
            "the covariates"))
      if (!quasi) table(n, None, NewtonFit.waldRows(fit.coefs, fit.se()))
      else {
        // Pearson dispersion at the final β: one more reduce, each term
        // 12-dp-rounded before the exact decimal sum
        val beta = fit.beta
        val phiOpt: Option[Double] =
          if (fit.singular || n <= dim) None
          else {
            val etaF = covariates.indices.foldLeft(lit(beta(0))) { (acc, i) =>
              acc + col(s"__x$i").cast("double") * lit(beta(i + 1))
            }
            val muD = exp(etaF).cast("decimal(20,12)").cast("double")
            val yD = col("__y").cast("double")
            val x2Row = baseIt.agg(
              sum(round((yD - muD) * (yD - muD) / muD, 12)
                .cast("decimal(28,12)")).as("__x2")).head()
            if (x2Row.isNullAt(0)) None
            else Some(BigDecimal(x2Row.getDecimal(0)).toDouble / (n - dim))
          }
        // √φ̂ multiplies AFTER the Poisson SE: √(a/det)·√φ̂ is not
        // bitwise √(φ̂·a/det)
        val seQ = fit.se().map(se =>
          for (s <- se; p <- phiOpt if p > 0) yield s * math.sqrt(p))
        table(n, phiOpt, NewtonFit.waldRows(fit.coefs, seQ))
      }
    }
  }

  /** The count models' response pass: (n, Σy, Σy·xₖ), exact long and
    * decimal sums over the design base; (0, 0, empty) when n = 0. */
  private def countSums(base: DataFrame, d: Int)
      : (Long, Double, IndexedSeq[Double]) = {
    val yAggs = count(lit(1)).as("__n") +: sum(col("__y")).as("__sy") +:
      (0 until d).map(i =>
        sum(col("__y").cast("decimal(12,0)") * col(s"__x$i"))
          .as(s"__syx$i"))
    val yRow = base.agg(yAggs.head, yAggs.tail: _*).head()
    val n = yRow.getLong(0)
    if (n == 0) (0L, 0.0, IndexedSeq.empty)
    else (n, yRow.getLong(1).toDouble, (0 until d).map(i => dec(yRow, 2 + i)))
  }

  /** One Poisson Newton pass at β (parameter prefix `pfx`): the decimal
    * means μ = exp(η) as DECIMAL(20,12) and ONE whole-table reduce to
    * the exact moments Σμ·xᵢ·xⱼ — the expected information — with the
    * gradient (Σy·xᵢ − Σμ·xᵢ) read off its first row. Throws
    * `overflow(count)` when any mean overflowed the decimal. */
  private def poissonPass(baseIt: DataFrame, d: Int, sy: Double,
      syx: IndexedSeq[Double], pfx: String, overflow: Long => String)(
      beta: Array[Double]): (Array[Double], Array[Array[Double]]) = {
    val dim = d + 1
    val pairIdx = NewtonFit.pairs(dim)
    // η accumulated left-to-right in double — the identical expression
    // (and values) the oracle writes — then μ quantized so every sum
    // below is exact
    val mu = exp(NewtonFit.eta(d, pfx)).cast("decimal(20,12)")
    val x = NewtonFit.xDec _
    val aggs = (sum(mu).as("__s_0_0") +:
      pairIdx.tail.map { case (i, j) =>
        (if (i == 0) sum(mu * x(j)) else sum(mu * x(i) * x(j)))
          .as(s"__s_${i}_$j")
      }) :+ NewtonFit.countWhere(mu.isNull).as("__overflowed")
    val r = ParamFrame.attach(baseIt, beta.toSeq, pfx)
      .agg(aggs.head, aggs.tail: _*).head()
    // fail loudly on the non-ANSI decimal overflow: a NULL μ would
    // silently drop its row from every moment sum and bias β/SE
    require(r.getLong(pairIdx.size) == 0L, overflow(r.getLong(pairIdx.size)))
    val info = NewtonFit.symmetric(dim)(dec(r, _))
    (Array.tabulate(dim)(i =>
      if (i == 0) sy - info(0)(0) else syx(i - 1) - info(0)(i)), info)
  }

  /** Negative-binomial (NB2) GLM — the overdispersion-honest COUNT
    * MODEL ([[quasiPoissonGlm]] patches the Poisson's standard errors;
    * NB2 changes the VARIANCE LAW to Var = μ + αμ², which also moves
    * the point estimates' weighting): log link, dispersion α̂ by method
    * of moments from the converged Poisson fit
    * (α̂ = max(0, Σ[(y−μ̂)²−μ̂] / Σμ̂²)), then `iterations` Fisher-scoring
    * steps for β at fixed α̂ — grad Σ(y−μ)/(1+αμ)·x, info
    * Σ μ/(1+αμ)·xxᵀ — started from the Poisson β̂ (already near the NB
    * optimum; measured: 4 steps reach machine precision). One row per
    * term: `(term, n, alpha, beta, se, z, p_value)`; SE from the Fisher
    * information evaluated AT the reported β via the trailing no-step
    * pass. α̂ = 0 degenerates to the Poisson fit exactly.
    *
    * Determinism contract: the [[poissonGlm]] decimal recipe end to
    * end — DECIMAL(8,4) covariates, DECIMAL(20,12) means with the
    * fail-loud overflow guard, every per-row moment/residual term
    * rounded to 12 dp before an exact decimal sum, α̂ and β re-rounded
    * to 12 dp — so a DuckDB oracle replays Poisson warm-up, moment α̂,
    * and every NB iteration verbatim.
    *
    * Scale: (poissonIterations + iterations + 2) whole-table reduces,
    * each partial-aggregated to O(d²) decimal sums; O(d³) driver
    * algebra. */
  def negativeBinomialGlm(df: DataFrame, yCol: String,
      covariates: Seq[String], iterations: Int = 4,
      poissonIterations: Int = 4): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 8,
      s"negativeBinomialGlm needs 1..8 covariates, got ${covariates.size}")
    require(iterations >= 1 && poissonIterations >= 1,
      "iterations must be >= 1")
    val d = covariates.size
    val dim = d + 1
    val terms = "intercept" +: covariates
    val spark = df.sparkSession
    import spark.implicits._
    def table(n: Long, alpha: Option[Double], w: Seq[NewtonFit.Wald]) =
      terms.zip(w).map { case (t, (b, se, z, p)) => (t, n, alpha, b, se, z, p) }
        .toDF("term", "n", "alpha", "beta", "se", "z", "p_value")
    NewtonFit.withBase(ScaleOps.persisted(NewtonFit.design(df, Seq(yCol),
        Seq(col(yCol).cast("long").as("__y")), covariates))) { base =>
      val (n, sy, syx) = countSums(base, d)
      if (n == 0 || sy == 0) return table(n, None, NewtonFit.nullRows(dim))
      val baseIt = ParamFrame.compactForIteration(base, n)
      val pairIdx = NewtonFit.pairs(dim)
      // β via a broadcast one-row parameter frame (not literals) so the
      // generated code is iteration-invariant ([[graft.ops.ParamFrame]]);
      // call sites attach the current β with nbAt(beta)
      def muOf() = exp(NewtonFit.eta(d, "__nb")).cast("decimal(20,12)")
      def nbAt(beta: Array[Double]) = ParamFrame.attach(baseIt, beta.toSeq, "__nb")
      def overflow(k: Long) = s"negativeBinomialGlm: $k row means exp(eta) " +
        "overflowed DECIMAL(20,12) — feature-scale the covariates"
      def guard(r: org.apache.spark.sql.Row, o: Int): Unit =
        require(r.getLong(o) == 0L, overflow(r.getLong(o)))
      // ---- Poisson warm-up: the poissonGlm pass, no trailing pass ----
      val start = Array.fill(dim)(0.0)
      start(0) = round12(math.log(sy / n))
      val warm = NewtonFit.run(start, poissonIterations, trailing = false)(
        poissonPass(baseIt, d, sy, syx, "__nb", overflow))
      if (warm.singular) return table(n, None, NewtonFit.nullRows(dim))
      // ---- moment dispersion at the Poisson fit ----
      val alpha = {
        val mu = muOf()
        val muD = mu.cast("double"); val yD = col("__y").cast("double")
        val r = nbAt(warm.beta).agg(
          sum(round((yD - muD) * (yD - muD) - muD, 12)
            .cast("decimal(28,12)")).as("__num"),
          sum(round(muD * muD, 12).cast("decimal(28,12)")).as("__den"),
          NewtonFit.countWhere(mu.isNull).as("__overflowed")).head()
        guard(r, 2)
        val den = dec(r, 1)
        if (den <= 0) 0.0
        else round12(math.max(0.0,
          BigDecimal(r.getDecimal(0)).toDouble / den))
      }
      // ---- NB2 Fisher scoring at fixed alpha, from the Poisson beta ----
      val x = NewtonFit.xDbl _
      val fit = NewtonFit.run(warm.beta, iterations, trailing = true) { beta =>
        val mu = muOf()
        val muD = mu.cast("double"); val yD = col("__y").cast("double")
        val denomW = lit(1.0) + lit(alpha) * muD
        val gradAggs = (0 until dim).map(i =>
          sum(round((yD - muD) / denomW * x(i), 12)
            .cast("decimal(28,12)")).as(s"__g$i"))
        val infoAggs = pairIdx.map { case (i, j) =>
          sum(round(muD / denomW * x(i) * x(j), 12)
            .cast("decimal(28,12)")).as(s"__h_${i}_$j")
        }
        val aggs = (gradAggs ++ infoAggs) :+
          NewtonFit.countWhere(mu.isNull).as("__overflowed")
        val r = nbAt(beta).agg(aggs.head, aggs.tail: _*).head()
        guard(r, dim + pairIdx.size)
        (Array.tabulate(dim)(dec(r, _)),
          NewtonFit.symmetric(dim)(p => dec(r, dim + p)))
      }
      table(n, if (fit.singular) None else Some(alpha),
        NewtonFit.waldRows(fit.coefs, fit.se()))
    }
  }

  /** Gamma GLM (log link) by Fisher scoring — the POSITIVE-CONTINUOUS
    * outcome regression completing the GLM shelf ([[binomialGlm]] for
    * 0/1, [[poissonGlm]]/[[negativeBinomialGlm]] for counts; spend,
    * latency and size metrics are positive, right-skewed, and have
    * sd ∝ mean — exactly Gamma's constant-CV variance law
    * Var = φ·μ²): y ~ Gamma with mean exp(β₀ + βᵀx). Under the log
    * link the Fisher weight (dμ/dη)²/V(μ) = μ²/μ² is CONSTANT, so the
    * expected information is XᵀX/φ — computed ONCE — and each scoring
    * step only needs the score reduce Σ(y/μ − 1)·x (φ cancels in the
    * step). One row per term (`intercept` first): `(term, n, phi,
    * beta, se, z, p_value)` — φ̂ is the Pearson dispersion
    * Σ((y−μ)/μ)²/(n−p) at the reported β (evaluated by the trailing
    * pass, the SE-at-reported-β convention), SE = √(φ̂·(XᵀX)⁻¹ⱼⱼ).
    * NULL stats when XᵀX is singular (constant covariate) or n ≤ p;
    * y ≤ 0 fails loudly (a Gamma response is strictly positive).
    *
    * Determinism contract (the [[poissonGlm]] recipe): y quantizes to
    * DECIMAL(18,6), covariates to DECIMAL(8,4); XᵀX is an exact
    * decimal sum; per-row means exp(η) to DECIMAL(20,12) with the
    * fail-loud overflow count; each score and Pearson term rounds to
    * 12 dp before its exact decimal sum; β re-rounds to 12 dp between
    * iterations, starting from intercept = round₁₂(ln ȳ). With ONE
    * covariate the step and SE are the closed-form 2×2 expressions a
    * DuckDB oracle replays verbatim.
    *
    * Scale: ONE XᵀX reduce + one score reduce per iteration + one
    * Pearson reduce — each partial-aggregated to O(d²) decimal sums,
    * no shuffle beyond the single-row combine; O(d³) driver algebra. */
  def gammaGlm(df: DataFrame, yCol: String, covariates: Seq[String],
      iterations: Int = 4): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 8,
      s"gammaGlm needs 1..8 covariates, got ${covariates.size}")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val d = covariates.size
    val dim = d + 1
    val terms = "intercept" +: covariates
    val spark = df.sparkSession
    import spark.implicits._
    def table(n: Long, phi: Option[Double], w: Seq[NewtonFit.Wald]) =
      terms.zip(w).map { case (t, (b, se, z, p)) => (t, n, phi, b, se, z, p) }
        .toDF("term", "n", "phi", "beta", "se", "z", "p_value")
    NewtonFit.withBase(ScaleOps.persisted(NewtonFit.design(df, Seq(yCol),
        Seq(col(yCol).cast("decimal(18,6)").as("__y")), covariates))) { base =>
      val x = NewtonFit.xDec _
      // one pass: n, Σy (exact), min y (the positivity guard), and the
      // constant XᵀX — the Fisher information is iteration-independent
      val aggs0 = count(lit(1)).as("__n") +: sum(col("__y")).as("__sy") +:
        min(col("__y")).as("__ymin") +:
        NewtonFit.pairs(dim).map { case (i, j) =>
          sum(x(i) * x(j)).as(s"__s_${i}_$j") }
      val r0 = base.agg(aggs0.head, aggs0.tail: _*).head()
      val n = r0.getLong(0)
      if (n == 0) return table(0, None, NewtonFit.nullRows(dim))
      require(BigDecimal(r0.getDecimal(2)) > 0,
        s"gammaGlm needs y > 0, got min(y) = ${r0.getDecimal(2)}")
      val sy = BigDecimal(r0.getDecimal(1)).toDouble
      val baseIt = ParamFrame.compactForIteration(base, n)
      val info = NewtonFit.symmetric(dim)(p => dec(r0, 3 + p))
      if (n <= dim) return table(n, None, NewtonFit.nullRows(dim))
      val start = Array.fill(dim)(0.0)
      start(0) = round12(math.log(sy / n))
      // β via a broadcast one-row parameter frame (not literals) so the
      // generated code is iteration-invariant ([[graft.ops.ParamFrame]])
      def etaOf() = NewtonFit.eta(d, "__gb")
      val yD = col("__y").cast("double")
      // each scoring pass reduces only the score Σ(y/μ − 1)·x; the step
      // solves against the constant XᵀX (φ cancels in the step)
      val fit = NewtonFit.run(start, iterations, trailing = false) { beta =>
        val muD = exp(etaOf()).cast("decimal(20,12)").cast("double")
        val scoreAggs = (1 to d).map(i =>
          sum(round((yD / muD - lit(1.0)) * NewtonFit.xDbl(i), 12)
            .cast("decimal(28,12)")).as(s"__g$i")) :+
          sum(round(yD / muD - lit(1.0), 12).cast("decimal(28,12)"))
            .as("__g0") :+
          NewtonFit.countWhere(exp(etaOf()).cast("decimal(20,12)").isNull)
            .as("__overflowed")
        val r = ParamFrame.attach(baseIt, beta.toSeq, "__gb")
          .agg(scoreAggs.head, scoreAggs.tail: _*).head()
        require(r.getLong(d + 1) == 0L,
          s"gammaGlm: ${r.getLong(d + 1)} row means exp(eta) overflowed " +
            "DECIMAL(20,12) (|eta| > ~18.4) — feature-scale the covariates")
        (Array.tabulate(dim)(i => if (i == 0) dec(r, d) else dec(r, i - 1)),
          info)
      }
      if (fit.singular) return table(n, None, NewtonFit.nullRows(dim))
      // trailing pass at the REPORTED β: Pearson dispersion for gamma,
      // Σ((y−μ)/μ)² — each term 12-dp-rounded before the exact sum
      val muF = exp(etaOf()).cast("decimal(20,12)").cast("double")
      val x2Row = ParamFrame.attach(baseIt, fit.beta.toSeq, "__gb").agg(
        sum(round((yD - muF) * (yD - muF) / (muF * muF), 12)
          .cast("decimal(28,12)")).as("__x2"),
        NewtonFit.countWhere(exp(etaOf()).cast("decimal(20,12)").isNull)
          .as("__ovf")).head()
      require(x2Row.getLong(1) == 0L,
        "gammaGlm: final-pass exp(eta) overflowed DECIMAL(20,12)")
      val phi =
        if (x2Row.isNullAt(0)) 0.0
        else BigDecimal(x2Row.getDecimal(0)).toDouble / (n - dim)
      // SE = √(φ̂·(XᵀX)⁻¹ⱼⱼ)
      table(n, if (phi > 0) Some(phi) else None,
        NewtonFit.waldRows(fit.coefs, fit.se(phi)))
    }
  }

  /** Binomial (logistic) GLM by Newton–Raphson/IRLS — the plain
    * logistic regression of the GLM shelf ([[logregTrainHashed]] is the
    * HASHED-feature corpus classifier trained by SGD; this is the
    * small-d inferential fit with Wald standard errors, the model every
    * propensity/uplift/calibration recipe starts from): y ∈ {0,1} ~
    * Bernoulli(σ(β₀ + βᵀx)), `iterations` fixed Newton steps, one row
    * per term (`intercept` first): `(term, n, beta, se, z, p_value)` —
    * SE from the Fisher information evaluated AT the reported β via the
    * trailing no-step pass (the [[poissonGlm]] convention), two-sided p
    * via the shared A&S normal survival. NULL stats when the response
    * is degenerate (all 0 or all 1 — the intercept start is undefined)
    * or the information goes singular.
    *
    * Determinism contract (the [[poissonGlm]] recipe with a BOUNDED
    * mean): covariates quantize to DECIMAL(8,4); per-row means
    * μ = σ(η) round to 12 dp as DECIMAL(14,12) — σ ∈ (0,1), so unlike
    * the Poisson exp there is NO overflow mode; gradient moments
    * (Σμ, Σμxₖ) are exact decimal sums; the IRLS weight terms
    * μ(1−μ)xₖxₗ (computed in double FROM the 12-dp μ both engines
    * share) round to 12 dp before their exact decimal sums; β re-rounds
    * to 12 dp between iterations. Intercept starts at round₁₂(logit ȳ),
    * slopes at 0 — the [[poissonGlm]] warm start, mirrored in the
    * oracle's cb0. With ONE covariate the step/SE are the closed-form
    * 2×2 a DuckDB oracle replays verbatim; higher dimensions solve by
    * Gaussian elimination.
    *
    * Scale: per iteration ONE whole-table reduce to (d+1)(d+4)/2
    * decimal sums (partial-aggregated, no shuffle beyond the final
    * single-row combine), O(d³) driver algebra. */
  def binomialGlm(df: DataFrame, yCol: String, covariates: Seq[String],
      iterations: Int = 4): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 8,
      s"binomialGlm needs 1..8 covariates, got ${covariates.size}")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val d = covariates.size
    val dim = d + 1
    val terms = "intercept" +: covariates
    val spark = df.sparkSession
    import spark.implicits._
    def table(n: Long, w: Seq[NewtonFit.Wald]) =
      terms.zip(w).map { case (t, (b, se, z, p)) => (t, n, b, se, z, p) }
        .toDF("term", "n", "beta", "se", "z", "p_value")
    NewtonFit.withBase(ScaleOps.persisted(NewtonFit.design(df, Seq(yCol),
        Seq(col(yCol).cast("long").as("__y")), covariates))) { base =>
      val yAggs = count(lit(1)).as("__n") +: sum(col("__y")).as("__sy") +:
        min(col("__y")).as("__ymin") +: max(col("__y")).as("__ymax") +:
        (1 to d).map(i =>
          sum(col("__y").cast("decimal(12,0)") * NewtonFit.xDec(i))
            .as(s"__syx${i - 1}"))
      val yRow = base.agg(yAggs.head, yAggs.tail: _*).head()
      val n = yRow.getLong(0)
      if (n == 0) return table(0, NewtonFit.nullRows(dim))
      require(yRow.getLong(2) >= 0L && yRow.getLong(3) <= 1L,
        s"binomialGlm needs a 0/1 response, got values in " +
          s"[${yRow.getLong(2)}, ${yRow.getLong(3)}]")
      val sy = yRow.getLong(1).toDouble
      if (sy == 0 || sy == n) return table(n, NewtonFit.nullRows(dim))
      val syx = (0 until d).map(i => dec(yRow, 4 + i))
      val baseIt = ParamFrame.compactForIteration(base, n)
      val pairIdx = NewtonFit.pairs(dim)
      val start = Array.fill(dim)(0.0)
      start(0) = round12(math.log(sy / (n - sy)))
      val fit = NewtonFit.run(start, iterations, trailing = true) { beta =>
        // β via a broadcast one-row parameter frame (not literals) so the
        // generated code is iteration-invariant ([[graft.ops.ParamFrame]]).
        // μ rounds to 12 dp BEFORE every use, so both engines derive the
        // IRLS weight w = μ(1−μ) from the identical decimal
        val mu = round(lit(1.0) / (lit(1.0) + exp(-NewtonFit.eta(d, "__bb"))), 12)
          .cast("decimal(14,12)")
        val muD = mu.cast("double")
        val x = NewtonFit.xDbl _
        // gradient moments: Σμ and Σμxₖ, exact decimal sums
        val gradAggs = sum(mu).as("__g0") +:
          (1 to d).map(i => sum(mu * NewtonFit.xDec(i)).as(s"__g$i"))
        // information: w·xᵢ·xⱼ rounded to 12 dp per row, exact decimal sum
        val infoAggs = pairIdx.map { case (i, j) =>
          sum(round(muD * (lit(1.0) - muD) * x(i) * x(j), 12)
            .cast("decimal(28,12)")).as(s"__h_${i}_$j")
        }
        val aggs = gradAggs ++ infoAggs
        val r = ParamFrame.attach(baseIt, beta.toSeq, "__bb")
          .agg(aggs.head, aggs.tail: _*).head()
        (Array.tabulate(dim)(i => (if (i == 0) sy else syx(i - 1)) - dec(r, i)),
          NewtonFit.symmetric(dim)(p => dec(r, dim + p)))
      }
      table(n, NewtonFit.waldRows(fit.coefs, fit.se()))
    }
  }

  /** The [[binomialGlm]] propensity fit of `treatCol` on `covariates`:
    * β by term, None when the fit degenerates (NULL β). */
  private def propensityBetas(cc: DataFrame, treatCol: String,
      covariates: Seq[String], iterations: Int): Option[Map[String, Double]] = {
    val rows = binomialGlm(cc, treatCol, covariates, iterations).collect()
    if (rows.exists(r => r.isNullAt(r.fieldIndex("beta")))) None
    else Some(rows.map(r => r.getString(0) -> r.getAs[Double]("beta")).toMap)
  }

  /** Inverse-propensity-weighted average treatment effect (Hájek) — the
    * covariate-adjusted "did the treatment move the outcome" estimator
    * for OBSERVATIONAL data ([[graft.profile.StatTests.cuped]] reduces
    * variance in a randomized test; IPW corrects CONFOUNDING when
    * assignment correlates with covariates): fit the propensity
    * e(x) = P(T=1|x) by [[binomialGlm]], clip to [clip, 1−clip], and
    * weight each arm by 1/e (treated) or 1/(1−e) (control). One row:
    * `(n, n_treated, mu_treated, mu_control, ate, se, z, p_value)` —
    * the self-normalized (Hájek) arm means, their difference, and the
    * influence-function SE  √(Σφ²)/n with
    * φ = t(y−μ̂₁)/e − (1−t)(y−μ̂₀)/(1−e). NULL stats when the propensity
    * fit degenerates or an arm is empty.
    *
    * Determinism contract: the propensity replays via the
    * [[binomialGlm]] decimal Newton; per-row e re-rounds to 12 dp, the
    * clip is an exact greatest/least, every weighted term rounds to
    * 12 dp (φ² to 9 dp) before its exact decimal sum, and the arm means
    * re-round to 12 dp before the φ pass — an external engine replays
    * fit, weights, means and variance bit-for-bit.
    *
    * Scale: the [[binomialGlm]] passes + TWO more whole-table reduces
    * (weighted sums, then φ²) — nothing data-sized on the driver. */
  def ipwAte(df: DataFrame, treatCol: String, outcomeCol: String,
      covariates: Seq[String], iterations: Int = 4,
      clip: Double = 0.01): DataFrame = {
    require(clip > 0 && clip < 0.5, s"clip must be in (0, 0.5): $clip")
    val spark = df.sparkSession
    import spark.implicits._
    // mus = (mu_treated, mu_control) of two weighted arms
    def out(n: Long, nt: Long, mus: Option[(Double, Double)],
        se: Option[Double]) = {
      val (ate, seW, z, pv) =
        NewtonFit.wald(mus.map { case (mu1, mu0) => round12(mu1 - mu0) }, se)
      Seq((n, nt, mus.map(_._1), mus.map(_._2), ate, seW, z, pv))
        .toDF("n", "n_treated", "mu_treated", "mu_control", "ate", "se",
          "z", "p_value")
    }
    val cc = df.filter(col(treatCol).isNotNull &&
      col(outcomeCol).isNotNull &&
      covariates.map(col(_).isNotNull).reduce(_ && _))
    val fit = propensityBetas(cc, treatCol, covariates, iterations)
      .getOrElse(return out(cc.count(), -1L, None, None))
    val b0 = fit("intercept")
    val bs = covariates.map(fit)
    val xCols = covariates.indices.map(i => s"__x$i")
    val base = cc.select((col(treatCol).cast("long").as("__t") +:
      col(outcomeCol).cast("double").as("__yo") +:
      covariates.zipWithIndex.map { case (c, i) =>
        col(c).cast("decimal(8,4)").as(xCols(i)) }): _*)
    val eta = covariates.indices.foldLeft(lit(b0)) { (acc, i) =>
      acc + col(xCols(i)).cast("double") * lit(bs(i))
    }
    // the SAME 12-dp mean the fit's oracle replays, then the exact clip
    val e = greatest(lit(clip), least(lit(1.0 - clip),
      round(lit(1.0) / (lit(1.0) + exp(-eta)), 12)
        .cast("decimal(14,12)").cast("double")))
    val tD = col("__t").cast("double")
    def d12(c: Column) = sum(round(c, 12).cast("decimal(28,12)"))
    val s1 = base.agg(
        count(lit(1)).as("n"), sum(col("__t")).as("nt"),
        d12(tD / e).as("sw1"), d12(tD * col("__yo") / e).as("swy1"),
        d12((lit(1.0) - tD) / (lit(1.0) - e)).as("sw0"),
        d12((lit(1.0) - tD) * col("__yo") / (lit(1.0) - e)).as("swy0"))
      .head()
    val n = s1.getLong(0); val nt = s1.getLong(1)
    def dec(o: Int): Double =
      if (s1.isNullAt(o)) 0.0 else BigDecimal(s1.getDecimal(o)).toDouble
    val (sw1, swy1, sw0, swy0) = (dec(2), dec(3), dec(4), dec(5))
    if (sw1 <= 0 || sw0 <= 0) return out(n, nt, None, None)
    val mu1 = round12(swy1 / sw1)
    val mu0 = round12(swy0 / sw0)
    val phi = tD * (col("__yo") - lit(mu1)) / e -
      (lit(1.0) - tD) * (col("__yo") - lit(mu0)) / (lit(1.0) - e)
    val v = base.agg(
        sum(round(phi * phi, 9).cast("decimal(28,9)")).as("sphi"))
      .head()
    val sphi = if (v.isNullAt(0)) 0.0 else BigDecimal(v.getDecimal(0)).toDouble
    val se = math.sqrt(math.max(sphi, 0.0)) / n
    out(n, nt, Some((mu1, mu0)), Some(se).filter(_ > 0))
  }

  /** Augmented inverse-propensity-weighted (AIPW) average treatment
    * effect — the DOUBLY-ROBUST estimator ([[ipwAte]] leans entirely on
    * the propensity; AIPW adds per-arm outcome regressions and stays
    * consistent if EITHER model is right, with the propensity only
    * reweighting the outcome-model RESIDUALS — the efficient
    * influence-function construction):
    * ψ = m̂₁(x) − m̂₀(x) + t·(y−m̂₁)/ê − (1−t)·(y−m̂₀)/(1−ê),
    * ATE = ψ̄, SE = √(Σ(ψ−ψ̄)²)/n. The propensity ê is the
    * [[binomialGlm]] logistic fit clipped to [clip, 1−clip]; the
    * outcome models m̂ₐ are per-arm closed-form OLS on the single
    * covariate (exactly one covariate — the closed-form/oracle
    * surface; more covariates want [[ipwAte]] or a model join). One
    * row: `(n, n_treated, ate, se, z, p_value)`. NULL stats when the
    * propensity fit degenerates, an arm has < 3 units, or an outcome
    * design is constant.
    *
    * Determinism contract: the [[binomialGlm]] decimal Newton replays
    * the propensity; arm OLS coefficients come from exact long/decimal
    * moment sums and re-round to 12 dp; per-row ψ rounds to 12 dp (ψ²
    * to 9 dp) before exact decimal sums; the final algebra is shared
    * driver doubles — an external engine replays fit, models, and
    * variance bit-for-bit.
    *
    * Scale: the [[binomialGlm]] passes + ONE arm-moment reduce + ONE
    * ψ reduce — nothing data-sized on the driver. */
  def aipwAte(df: DataFrame, treatCol: String, outcomeCol: String,
      covariate: String, iterations: Int = 4,
      clip: Double = 0.01): DataFrame = {
    require(clip > 0 && clip < 0.5, s"clip must be in (0, 0.5): $clip")
    val spark = df.sparkSession
    import spark.implicits._
    def out(n: Long, nt: Long, ate: Option[Double], se: Option[Double]) = {
      val (ateW, seW, z, pv) = NewtonFit.wald(ate, se)
      Seq((n, nt, ateW, seW, z, pv))
        .toDF("n", "n_treated", "ate", "se", "z", "p_value")
    }
    val cc = df.filter(col(treatCol).isNotNull &&
      col(outcomeCol).isNotNull && col(covariate).isNotNull)
    val fitOpt = propensityBetas(cc, treatCol, Seq(covariate), iterations)
    val base = cc.select(col(treatCol).cast("long").as("__t"),
      col(outcomeCol).cast("long").as("__yo"),
      col(covariate).cast("decimal(8,4)").as("__x"))
    val fit = fitOpt.getOrElse(return out(base.count(), -1L, None, None))
    val (b0, b1) = (fit("intercept"), fit(covariate))
    // per-arm OLS moments in one exact reduce
    val tD = col("__t")
    def armAggs(t1: Boolean) = {
      val m = if (t1) tD =!= 0 else tD === 0
      val tag = if (t1) "1" else "0"
      Seq(sum(when(m, 1L).otherwise(0L)).as(s"__n$tag"),
        sum(when(m, col("__x")).otherwise(lit(0).cast("decimal(8,4)")))
          .as(s"__sx$tag"),
        sum(when(m, col("__yo")).otherwise(0L)).as(s"__sy$tag"),
        sum(when(m, col("__yo").cast("decimal(18,0)") * col("__x"))
          .otherwise(lit(0).cast("decimal(26,4)"))).as(s"__sxy$tag"),
        sum(when(m, col("__x") * col("__x"))
          .otherwise(lit(0).cast("decimal(16,8)"))).as(s"__sxx$tag"))
    }
    val mAggs = armAggs(true) ++ armAggs(false)
    val mr = base.agg(mAggs.head, mAggs.tail: _*).head()
    def lg(o: Int): Long = if (mr.isNullAt(o)) 0L else mr.getLong(o)
    def dc(o: Int): Double =
      if (mr.isNullAt(o)) 0.0 else BigDecimal(mr.getDecimal(o)).toDouble
    val (n1, sx1, sy1, sxy1, sxx1) = (lg(0), dc(1), lg(2).toDouble,
      dc(3), dc(4))
    val (n0, sx0, sy0, sxy0, sxx0) = (lg(5), dc(6), lg(7).toDouble,
      dc(8), dc(9))
    val n = n1 + n0
    if (n1 < 3 || n0 < 3) return out(n, n1, None, None)
    def ols(na: Long, sx: Double, sy: Double, sxy: Double,
        sxx: Double): Option[(Double, Double)] = {
      val den = sxx - sx * sx / na
      if (den <= 0) None
      else {
        val b = round12((sxy - sx * sy / na) / den)
        Some((round12(sy / na - b * sx / na), b))
      }
    }
    val (m1, m0) = (ols(n1, sx1, sy1, sxy1, sxx1),
      ols(n0, sx0, sy0, sxy0, sxx0))
    if (m1.isEmpty || m0.isEmpty) return out(n, n1, None, None)
    val (a1c, b1c) = m1.get; val (a0c, b0c) = m0.get
    val xD = col("__x").cast("double")
    val eta = lit(b0) + xD * lit(b1)
    // the SAME 12-dp clipped mean the propensity oracle replays
    val e = greatest(lit(clip), least(lit(1.0 - clip),
      round(lit(1.0) / (lit(1.0) + exp(-eta)), 12)
        .cast("decimal(14,12)").cast("double")))
    val tDD = col("__t").cast("double")
    val yoD = col("__yo").cast("double")
    val mu1 = lit(a1c) + xD * lit(b1c)
    val mu0 = lit(a0c) + xD * lit(b0c)
    val psi = mu1 - mu0 + tDD * (yoD - mu1) / e -
      (lit(1.0) - tDD) * (yoD - mu0) / (lit(1.0) - e)
    val pr = base.agg(
        sum(round(psi, 12).cast("decimal(28,12)")).as("__sp"),
        sum(round(psi * psi, 9).cast("decimal(28,9)")).as("__sp2"))
      .head()
    val sp = if (pr.isNullAt(0)) 0.0 else BigDecimal(pr.getDecimal(0)).toDouble
    val sp2 = if (pr.isNullAt(1)) 0.0 else BigDecimal(pr.getDecimal(1)).toDouble
    val ate = round12(sp / n)
    val se = math.sqrt(math.max(sp2 - 2.0 * ate * sp + n * ate * ate,
      0.0)) / n
    out(n, n1, Some(ate), Some(se).filter(_ > 0))
  }

  /** Propensity-score stratification ATT — the subclassification
    * estimator (Cochran 1968; [[ipwAte]] weights every row by 1/ê and
    * pays for propensity tails, [[aipwAte]] needs an outcome model;
    * stratification just COMPARES LIKE WITH LIKE inside propensity
    * quantile strata and averages, the most transparent of the three):
    * fit ê by [[binomialGlm]], cut the units at the rank-exact
    * propensity quantiles (the shared distributed-cumsum cutpoints),
    * and within each stratum s take the arm-mean difference; the
    * effect on the treated weights strata by their treated share,
    * ATT = Σₛ (n₁ₛ/N₁)·(ȳ₁ₛ − ȳ₀ₛ), SE² = Σₛ (n₁ₛ/N₁)²·(v₁ₛ/n₁ₛ +
    * v₀ₛ/n₀ₛ). Strata missing an arm are EXCLUDED and N₁ renormalizes
    * over the usable strata (the standard drop-and-renormalize
    * convention — documented, not silent: `k_used` reports it). One
    * row: `(n, n_treated, k_strata, k_used, att, se, z, p_value)`;
    * NULL stats when the propensity degenerates or no stratum keeps
    * both arms. A singleton arm cell (n < 2) contributes ZERO variance
    * for that side (its sample variance is undefined; both engines
    * share the convention), and z/p are NULL when the SE lands on 0.
    *
    * Determinism contract: the [[binomialGlm]] decimal Newton replays
    * ê; ê re-rounds to 12 dp per row; cutpoints are exact ⌈i·n/k⌉
    * order statistics via the shared deterministic-bucket cumsum (ties
    * at a cutpoint go LOW: stratum = 1 + #{cuts < ê}... computed as
    * ê > cut); per-stratum sums are exact longs; the ≤ k driver fold
    * runs in stratum order.
    *
    * Scale: the [[binomialGlm]] passes + one per-distinct-ê count
    * aggregate + the shared cumsum + ONE per-stratum reduce (k-bounded
    * collect) — no global sort, no data-sized window. */
  def propensityStratifiedAtt(df: DataFrame, treatCol: String,
      outcomeCol: String, covariate: String, strata: Int = 5,
      iterations: Int = 4): DataFrame = {
    require(strata >= 2 && strata <= 64,
      s"strata must be in [2, 64]: $strata")
    val spark = df.sparkSession
    import spark.implicits._
    // attSe = (att, se) over the usable strata
    def out(n: Long, nt: Long, used: Long,
        attSe: Option[(Double, Double)]) = {
      val (att, se, z, pv) =
        NewtonFit.wald(attSe.map(_._1), attSe.map(_._2))
      Seq((n, nt, strata.toLong, used, att, se, z, pv))
        .toDF("n", "n_treated", "k_strata", "k_used", "att", "se", "z",
          "p_value")
    }
    val cc = df.filter(col(treatCol).isNotNull &&
      col(outcomeCol).isNotNull && col(covariate).isNotNull)
    val fit = propensityBetas(cc, treatCol, Seq(covariate), iterations)
      .getOrElse(return out(cc.count(), -1L, 0L, None))
    val (b0, b1) = (fit("intercept"), fit(covariate))
    val base = cc.select(col(treatCol).cast("long").as("__t"),
        col(outcomeCol).cast("long").as("__yo"),
        col(covariate).cast("decimal(8,4)").as("__x"))
      .withColumn("__e",
        round(lit(1.0) / (lit(1.0) +
          exp(-(lit(b0) + col("__x").cast("double") * lit(b1)))), 12)
          .cast("decimal(14,12)").cast("double"))
    val counts = base.groupBy(col("__e")).agg(count(lit(1)).as("__c"))
    val (n, cuts) = graft.ops.ScaleOps.rankCutpoints(counts, "__e", "__c",
      graft.ops.ScaleOps.quantileRanks(strata))
    if (n == 0) return out(0L, 0L, 0L, None)
    val stratum = cuts.foldLeft(lit(1)) { (acc, cv) =>
      acc + when(col("__e") > lit(cv), 1).otherwise(0)
    }
    val per = base.groupBy(stratum.as("__s"))
      .agg(sum(col("__t")).as("__n1"),
        sum(lit(1L) - col("__t")).as("__n0"),
        sum(col("__t") * col("__yo")).as("__sy1"),
        sum((lit(1L) - col("__t")) * col("__yo")).as("__sy0"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val nt = per.map(_._2).sum
    val usable = per.filter(p => p._2 > 0 && p._3 > 0)
    val n1u = usable.map(_._2).sum
    if (usable.isEmpty || n1u == 0) return out(n, nt, 0L, None)
    val att = usable.map { case (_, n1, n0, sy1, sy0) =>
      (n1.toDouble / n1u) * (sy1.toDouble / n1 - sy0.toDouble / n0)
    }.sum
    // singleton arms (n < 2) contribute ZERO variance for that side —
    // the sample variance is undefined there and the stratum weight is
    // tiny; the oracle's (x−x²/n)/(n−1) lands on NULL at n = 1 and its
    // greatest(NULL, 0) = 0, so both engines share this convention
    val v = usable.map { case (_, n1, n0, sy1, sy0) =>
      val w = n1.toDouble / n1u
      val v1 = if (n1 < 2) 0.0
        else math.max((sy1 - sy1.toDouble * sy1 / n1) / (n1 - 1.0), 0.0)
      val v0 = if (n0 < 2) 0.0
        else math.max((sy0 - sy0.toDouble * sy0 / n0) / (n0 - 1.0), 0.0)
      w * w * (v1 / n1 + v0 / n0)
    }.sum
    out(n, nt, usable.length.toLong, Some((att, math.sqrt(v))))
  }

  /** Leave-one-out target encoding with additive smoothing — the
    * leakage-free way to hand a high-cardinality categorical to a
    * model (a plain per-category mean ENCODES each row's own label;
    * LOO subtracts it, and the prior-smoothing keeps rare categories
    * from memorizing): enc_i = (Σ_g y − y_i + m·prior) / (n_g − 1 + m)
    * with prior = the global target mean. Singleton categories land
    * exactly on the prior (the n_g = 1 algebra does it — no special
    * case). Output: the id, the category, and `encoded`.
    *
    * Scale: ONE per-category (count, sum) aggregation equi-joined back
    * onto the scan + a single codegen projection — no window, no
    * per-row state; deterministic, so train/serve recompute identically.
    * The join carries NO broadcast hint on purpose: the aggregate is
    * unbounded for exactly the high-cardinality categoricals this
    * operator targets (10^7–10^8 categories at 100 TB would OOM the
    * driver under a forced broadcast), so the plan stays a shuffled
    * equi-join and AQE auto-broadcasts only when the aggregate is
    * measured small at runtime.
    * Determinism: integer targets keep every sum exact; the one double
    * expression mirrors in the oracle. */
  def targetEncodeLoo(df: DataFrame, idCol: String, catCol: String,
      targetCol: String, smoothing: Double = 10.0): DataFrame = {
    require(smoothing > 0, s"smoothing must be > 0: $smoothing")
    val base = df.select(col(idCol).as("id"), col(catCol).as("category"),
        col(targetCol).cast("long").as("__y"))
      .filter(col("category").isNotNull && col("__y").isNotNull)
    val global = base.agg(count(lit(1)).as("__n"), sum(col("__y")).as("__sy"))
      .head()
    val n = global.getLong(0)
    if (n == 0)
      return base.select(col("id"), col("category"),
        lit(null).cast("double").as("encoded"))
    val prior = global.getLong(1).toDouble / n
    val perCat = base.groupBy(col("category"))
      .agg(count(lit(1)).as("__ng"), sum(col("__y")).as("__syg"))
    base.join(perCat, Seq("category"))
      .select(col("id"), col("category"),
        ((col("__syg") - col("__y") + lit(smoothing) * lit(prior)) /
          (col("__ng") - 1 + lit(smoothing))).as("encoded"))
  }

  /** Split-conformal prediction interval for a 1-D linear predictor —
    * the DISTRIBUTION-FREE error bar: fit ŷ = a + b·x on the train
    * split, take q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest absolute residual
    * on the calibration split, and ŷ ± q̂ covers a fresh y with
    * probability ≥ 1−α under exchangeability alone — no normality, no
    * homoscedasticity, the guarantee modern eval pipelines quote. The
    * test split reports the EMPIRICAL coverage beside the nominal level.
    * One row: `(n_train, n_cal, n_test, alpha, intercept, slope, q_hat,
    * coverage)`; q_hat NULL (and coverage 1 by convention — the interval
    * is ±∞) when the calibration split is too small for the rank.
    *
    * Determinism: the 3-way split is md5-keyed on the id (the repo's
    * resampling idiom — 40/30/30), so an external engine replays the
    * identical split, fit, rank and coverage. The conformal rank is an
    * exact ORDER STATISTIC, not an interpolated percentile: computed as
    * the smallest distinct residual whose inclusive cumulative count
    * reaches k, via per-distinct-value counts + the shared
    * deterministic-bucket cumsum — no sort, no interpolation ambiguity.
    *
    * Scale: one moment pass (fit), one value-bounded cumsum (rank), one
    * test-split reduce (coverage) — three scans, nothing data-sized on
    * the driver. */
  def conformalInterval(df: DataFrame, idCol: String, xCol: String,
      yCol: String, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    val base = df.select(col(idCol).cast("string").as("id"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val u = conv(substring(md5(concat(lit("conf:"), col("id"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val tagged = base.withColumn("split",
      when(u < 0.4, "train").when(u < 0.7, "cal").otherwise("test"))
    val fitRow = tagged.filter(col("split") === "train")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .head()
    val spark = df.sparkSession
    import spark.implicits._
    val nTrain = fitRow.getLong(0)
    // fit = (intercept, slope) of the train split
    def out(nCal: Long, nTest: Long, fit: Option[(Double, Double)],
        qHat: Option[Double], coverage: Option[Double]) =
      Seq((nTrain, nCal, nTest, alpha, fit.map(_._1), fit.map(_._2), qHat,
          coverage))
        .toDF("n_train", "n_cal", "n_test", "alpha", "intercept", "slope",
          "q_hat", "coverage")
    if (nTrain < 2) return out(0L, 0L, None, None, None)
    val n = nTrain.toDouble
    val sx = fitRow.getDouble(1); val sy = fitRow.getDouble(2)
    val sxx = fitRow.getDouble(3); val sxy = fitRow.getDouble(4)
    val den = sxx - sx * sx / n
    if (den <= 0) return out(0L, 0L, None, None, None)
    val b = (sxy - sx * sy / n) / den
    val a = sy / n - b * sx / n
    val resid = abs(col("y") - (lit(a) + lit(b) * col("x")))
    // conformal rank over the calibration split: exact order statistic
    val calCounts = tagged.filter(col("split") === "cal")
      .groupBy(resid.as("r")).agg(count(lit(1)).as("cnt"))
    val (cum, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      calCounts, col("r"), Seq("cnt"), Seq("_before"))
    val nCal = grand.head
    val k = math.ceil((nCal + 1) * (1 - alpha)).toLong
    val qHat: Option[Double] = ScaleOps.releasing(cum) {
      if (nCal == 0 || k > nCal) None
      else Some(cum.filter(col("_before") < k && col("_before") + col("cnt") >= k)
        .select(col("r")).head().getDouble(0))
    }
    val cov = qHat match {
      case None => tagged.filter(col("split") === "test")
        .agg(count(lit(1)).as("nt"),
          avg(lit(1.0)).as("c")) // ±∞ interval: everything covered
        .head()
      case Some(q) => tagged.filter(col("split") === "test")
        .agg(count(lit(1)).as("nt"),
          avg(when(resid <= q, 1.0).otherwise(0.0)).as("c"))
        .head()
    }
    val nTest = cov.getLong(0)
    out(nCal, nTest, Some((a, b)), qHat,
      if (nTest == 0) None
      else if (qHat.isEmpty) Some(1.0)
      else Some(cov.getDouble(1)))
  }
}
