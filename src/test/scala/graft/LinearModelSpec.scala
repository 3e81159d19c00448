package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.LinearModel

class LinearModelSpec extends SparkSpecBase {
  import spark.implicits._

  private def byTerm(fit: DataFrame): Map[String, Row] =
    fit.collect().map(r => r.getString(0) -> r).toMap

  /** β and SE of each term within `tol` of the reference. */
  private def assertFit(out: Map[String, Row], terms: Seq[String],
      beta: Array[Double], se: Array[Double], tol: Double): Unit =
    terms.zipWithIndex.foreach { case (t, i) =>
      assert(math.abs(out(t).getAs[Double]("beta") - beta(i)) < tol,
        s"beta $t: ${out(t)} vs ${beta(i)}")
      assert(math.abs(out(t).getAs[Double]("se") - se(i)) < tol,
        s"se $t: ${out(t)} vs ${se(i)}")
    }

  /** A duplicated covariate makes the information singular: every term
    * comes back with NULL β and SE. */
  private def assertNullFit(fit: DataFrame): Unit = {
    val rows = fit.collect()
    assert(rows.length == 3)
    rows.foreach(r => assert(r.isNullAt(r.fieldIndex("beta")) &&
      r.isNullAt(r.fieldIndex("se")), s"singular fit must be NULL: $r"))
  }

  test("logreg training: two gradient steps match the hand computation") {
    // bucket(aa) = (2*31+97) % 4 = 3 (positive class), bucket(bb) = 0
    val docs = Seq((1L, "aa", 1), (2L, "bb", 0)).toDF("id", "text", "y")
    val w = LinearModel.logregTrainHashed(docs, "id", "text",
        label = col("y") === 1, numBuckets = 4, lr = 0.1, iterations = 2)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // iter 1: margins 0, residuals ±0.5 -> w1 = [−0.025, 0, 0, +0.025]
    // iter 2: p = σ(±0.025) -> |residual| ≈ 0.49375 -> |w2| ≈ 0.0496875
    assert(math.abs(w(3) - 0.0496875) < 1e-4, s"w3 = ${w(3)}")
    assert(math.abs(w(0) + 0.0496875) < 1e-4, s"w0 = ${w(0)}")
    assert(w(1) == 0.0 && w(2) == 0.0)
  }

  test("trained model separates the classes it was trained on") {
    val docs = spark.read.parquet(sf("documents"))
    val w = LinearModel.logregTrainHashed(docs, "doc_id", "text",
      label = col("lang") === "en", iterations = 2, roundTo = 12)
    val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
      label = col("lang") === "en", weights = w)
    val avg = scored.groupBy(col("label"))
      .agg(org.apache.spark.sql.functions.avg(col("score")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(avg(1) > avg(0),
      s"positive class must score higher: ${avg(1)} vs ${avg(0)}")
  }

  test("evalScores: hand-computed AUC with ties, confusion at threshold") {
    // scores: pos {0.9, 0.6}, neg {0.6, 0.2}. Pairs: (0.9 vs 0.6)=1,
    // (0.9 vs 0.2)=1, (0.6 vs 0.6)=0.5, (0.6 vs 0.2)=1 -> AUC = 3.5/4
    val scored = Seq(
      (1L, 1, 0.9), (2L, 1, 0.6), (3L, 0, 0.6), (4L, 0, 0.2))
      .toDF("id", "label", "score")
    val r = LinearModel.evalScores(scored, threshold = 0.5).head()
    assert(r.getAs[Long]("n_pos") == 2 && r.getAs[Long]("n_neg") == 2)
    assert(r.getAs[Double]("auc") == 0.875)
    assert(r.getAs[Long]("tp") == 2 && r.getAs[Long]("fp") == 1)
    assert(r.getAs[Long]("tn") == 1 && r.getAs[Long]("fn") == 0)
    assert(r.getAs[Double]("accuracy") == 0.75)
  }

  test("evalScores: null-label rows are excluded from every count") {
    // the same fixture as the hand-computed test plus two unlabeled rows:
    // every output must be identical (not folded into the negatives)
    val scored = Seq(
      (1L, Some(1), 0.9), (2L, Some(1), 0.6), (3L, Some(0), 0.6),
      (4L, Some(0), 0.2), (5L, None, 0.95), (6L, None, 0.1))
      .toDF("id", "label", "score")
    val r = LinearModel.evalScores(scored, threshold = 0.5).head()
    assert(r.getAs[Long]("n_pos") == 2 && r.getAs[Long]("n_neg") == 2)
    assert(r.getAs[Double]("auc") == 0.875)
    assert(r.getAs[Long]("tp") == 2 && r.getAs[Long]("fp") == 1)
    assert(r.getAs[Long]("tn") == 1 && r.getAs[Long]("fn") == 0)
    assert(r.getAs[Double]("accuracy") == 0.75)
  }

  test("evalScores: perfect separation gives AUC 1, random labels near 0.5") {
    val perfect = Seq((1L, 1, 0.9), (2L, 1, 0.8), (3L, 0, 0.3), (4L, 0, 0.1))
      .toDF("id", "label", "score")
    assert(LinearModel.evalScores(perfect).head().getAs[Double]("auc") == 1.0)
  }

  test("reliabilityBins: bin edges, means and observed rates by hand") {
    val scored = Seq(
      (1L, 1, 0.95), (2L, 0, 0.92),   // bin 9
      (3L, 1, 0.31), (4L, 1, 0.35),   // bin 3
      (5L, 0, 1.0)                    // score 1.0 clamps into bin 9
    ).toDF("id", "label", "score")
    val out = LinearModel.reliabilityBins(scored)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(3, 9))
    assert(out(3) == ((2L, 0.33, 1.0)))
    val (n9, m9, r9) = out(9)
    assert(n9 == 3 && math.abs(m9 - (0.95 + 0.92 + 1.0) / 3).abs < 1e-4)
    assert(math.abs(r9 - 1.0 / 3).abs < 1e-4) // labels in bin 9: 1, 0, 0
  }

  test("thresholdAtKeepRate: order statistic, tie overshoot reported") {
    val scored = Seq(
      (1L, 1, 0.9), (2L, 1, 0.7), (3L, 0, 0.7), (4L, 0, 0.7), (5L, 0, 0.1))
      .toDF("id", "label", "score")
    // keepRate 0.4 -> k = 2 -> threshold = 2nd score = 0.7; ties admit 4
    val r = LinearModel.thresholdAtKeepRate(scored, keepRate = 0.4).head()
    assert(r.getAs[Double]("threshold") == 0.7)
    assert(r.getAs[Long]("n_target") == 2 && r.getAs[Long]("n_kept") == 4)
    assert(r.getAs[Double]("kept_pos_rate") == 0.5)   // 2 of 4 kept are positive
    assert(r.getAs[Double]("overall_pos_rate") == 0.4)
  }

  test("empty documents score exactly sigma(0) = 0.5") {
    val docs = Seq((1L, "aa bb", 1), (2L, "", 0)).toDF("id", "text", "y")
    val w = LinearModel.logregTrainHashed(docs, "id", "text",
      label = col("y") === 1, numBuckets = 4, iterations = 1, roundTo = 12)
    val s = LinearModel.logregScoreHashed(docs, "id", "text",
      label = col("y") === 1, weights = w, numBuckets = 4)
    // the empty doc has no feature rows at all — it never reaches yv, so
    // it is absent from the scored output (no evidence, no row)
    assert(s.count() == 1 && s.head().getLong(0) == 1L)
  }

  test("prCurve: every operating point matches the hand computation") {
    val scored = Seq((0.9, 1), (0.8, 0), (0.8, 1), (0.7, 0))
      .toDF("score", "label")
    val out = LinearModel.prCurve(scored)
      .orderBy(desc("threshold")).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    // P = 2, N = 2; thresholds 0.9 / 0.8 / 0.7 inclusive
    assert(out.toSeq == Seq(
      (0.9, 1L, 1L, 0L, 1.0, 0.5, 0.0, 0.6667),
      (0.8, 3L, 2L, 1L, 0.6667, 1.0, 0.5, 0.8),
      (0.7, 4L, 2L, 2L, 0.5, 1.0, 1.0, 0.6667)))
  }

  test("prCurve: null labels are negatives; no-positive set nulls recall") {
    val scored = Seq((0.9, Some(0)), (0.5, None)).toDF("score", "label")
    val rows = LinearModel.prCurve(scored).orderBy(desc("threshold")).collect()
    assert(rows.forall(_.getLong(2) == 0L)) // tp = 0 everywhere
    assert(rows.forall(_.isNullAt(5)))      // recall null (P = 0)
    assert(rows.map(_.getDouble(6)).toSeq == Seq(0.5, 1.0)) // FPR over N = 2
  }

  test("aucRoc: perfect = 1, reversed = 0, all-tied = 0.5, one-class NULL") {
    val perfect = Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0))
      .toDF("score", "label")
    val rp = LinearModel.aucRoc(perfect).collect().head
    assert(rp.getLong(0) == 4L && rp.getLong(1) == 2L)
    assert(rp.getDouble(2) == 1.0 && rp.getDouble(3) == 1.0)
    val reversed = Seq((0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1))
      .toDF("score", "label")
    assert(LinearModel.aucRoc(reversed).collect().head.getDouble(2) == 0.0)
    // every score tied: average ranks give exactly 0.5
    val tied = Seq((0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0))
      .toDF("score", "label")
    assert(LinearModel.aucRoc(tied).collect().head.getDouble(2) == 0.5)
    // one class absent -> NULL
    val onecls = Seq((0.9, 1), (0.1, 1)).toDF("score", "label")
    assert(LinearModel.aucRoc(onecls).collect().head.isNullAt(2))
    // hand case with a tie straddling the classes:
    // scores 0.3(y=0), 0.5(y=0), 0.5(y=1), 0.9(y=1): ranks 1, 2.5, 2.5, 4
    // -> rank sum of positives = 6.5, AUC = (6.5 - 3)/(2*2) = 0.875
    val mix = Seq((0.3, 0), (0.5, 0), (0.5, 1), (0.9, 1))
      .toDF("score", "label")
    assert(math.abs(LinearModel.aucRoc(mix).collect().head.getDouble(2)
      - 0.875) < 1e-12)
  }

  test("brierDecomposition: Murphy identity exact with constant-score bins") {
    // 4 rows at score 0.25 (1 positive), 4 at 0.75 (3 positives):
    // brier = 0.1875, rel = 0 (perfectly calibrated bins), res = 0.0625,
    // unc = 0.25; brier = rel - res + unc exactly
    val scored = (Seq.fill(3)((0.25, 0)) ++ Seq((0.25, 1)) ++
      Seq.fill(3)((0.75, 1)) ++ Seq((0.75, 0))).toDF("score", "label")
    val r = LinearModel.brierDecomposition(scored, bins = 10).collect().head
    assert(r.getLong(0) == 8L)
    assert(math.abs(r.getDouble(1) - 0.1875) < 1e-12)
    assert(math.abs(r.getDouble(2)) < 1e-12)
    assert(math.abs(r.getDouble(3) - 0.0625) < 1e-12)
    assert(math.abs(r.getDouble(4) - 0.25) < 1e-12)
    assert(math.abs(r.getDouble(1) -
      (r.getDouble(2) - r.getDouble(3) + r.getDouble(4))) < 1e-12)
    // miscalibrated: same scores, labels flipped -> reliability > 0
    val bad = (Seq.fill(3)((0.25, 1)) ++ Seq((0.25, 0)) ++
      Seq.fill(3)((0.75, 0)) ++ Seq((0.75, 1))).toDF("score", "label")
    assert(LinearModel.brierDecomposition(bad, bins = 10)
      .collect().head.getDouble(2) > 0.2)
  }

  test("labelNoiseEstimate: hand thresholds, abstention, one flagged mislabel") {
    // t1 = mean(0.9, 0.7) = 0.8; t0 = mean(0.8, 0.6, 0.1) = 0.5.
    // (0.9,1)->n_11; (0.7,1)->abstains; (0.2,0),(0.4,0)->n_00;
    // (0.9,0)->confident 1 -> the flagged mislabel (n_01)
    val scored = Seq((0.9, 1), (0.7, 1), (0.2, 0), (0.4, 0), (0.9, 0))
      .toDF("score", "label")
    val r = LinearModel.labelNoiseEstimate(scored).collect().head
    assert(r.getLong(0) == 4L, s"abstention must drop one row: ${r.getLong(0)}")
    assert(math.abs(r.getDouble(1) - 0.5) < 1e-12)
    assert(math.abs(r.getDouble(2) - 0.8) < 1e-12)
    assert(r.getLong(3) == 2L && r.getLong(4) == 1L &&
      r.getLong(5) == 0L && r.getLong(6) == 1L)
    assert(math.abs(r.getDouble(7) - 1.0 / 3) < 1e-12)
    assert(r.getDouble(8) == 0.0)
    // one class absent -> empty estimate with NULL thresholds
    val onecls = Seq((0.9, 1), (0.8, 1)).toDF("score", "label")
    val e = LinearModel.labelNoiseEstimate(onecls).collect().head
    assert(e.isNullAt(1) && e.isNullAt(2) && e.getLong(0) == 0L)
  }

  test("liftTable: hand-computed deciles; tie blocks never split") {
    // 10 distinct scores, one row each, positives at the top 3 scores:
    // with bins = 5 each bin holds 2 rows
    val scored = (1 to 10)
      .map(i => (1.0 - i * 0.05, if (i <= 3) 1 else 0))
      .toDF("score", "label")
    val out = LinearModel.liftTable(scored, bins = 5)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
    assert(out.length == 5)
    // bin 1: top-2 scores, both positive -> rate 1.0, gain 2/3, lift 1/.3
    assert(out(0) == (1L, 2L, 2L, 1.0, 2L, 2L, 2.0 / 3, 1.0 / 0.3))
    // bin 2: one positive (3rd) -> cumulative capture complete (gain 1)
    assert(out(1)._3 == 1L && math.abs(out(1)._7 - 1.0) < 1e-12)
    assert(out(4)._5 == 10L && out(4)._6 == 3L)
    // ALL rows share one score: a single bin (the last), never split
    val tied = (1 to 10).map(i => (0.5, i % 2)).toDF("score", "label")
    val tb = LinearModel.liftTable(tied, bins = 5).collect()
    assert(tb.length == 1 && tb.head.getLong(0) == 5L &&
      tb.head.getLong(1) == 10L, s"got ${tb.toSeq}")
  }

  test("aucDeLong matches a naive placement-variance reference") {
    val rnd = new scala.util.Random(13)
    // coarse integer scores force heavy ties — the half-placement path
    val rows = Seq.fill(250)((rnd.nextInt(12).toDouble +
      (if (rnd.nextBoolean()) 2 else 0), rnd.nextInt(2)))
    val scored = rows.toDF("score", "label")
    val r = LinearModel.aucDeLong(scored).collect().head
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    val (pc, nc) = (pos.size.toDouble, neg.size.toDouble)
    def v10(x: Double) = (neg.count(_ < x) + 0.5 * neg.count(_ == x)) / nc
    def v01(y: Double) = (pos.count(_ > y) + 0.5 * pos.count(_ == y)) / pc
    val aucRef = pos.map(v10).sum / pc
    assert(math.abs(r.getAs[Double]("auc") - aucRef) < 1e-12)
    val s10 = pos.map(x => math.pow(v10(x) - aucRef, 2)).sum / (pc - 1)
    val s01 = neg.map(y => math.pow(v01(y) - aucRef, 2)).sum / (nc - 1)
    val seRef = math.sqrt(s10 / pc + s01 / nc)
    assert(math.abs(r.getAs[Double]("se") - seRef) < 1e-12,
      s"se ${r.getAs[Double]("se")} vs $seRef")
    val zc = 1.959963984540054
    assert(math.abs(r.getAs[Double]("ci_lo") -
      math.max(0.0, aucRef - zc * seRef)) < 1e-12)
    // agreement with the rank-based AUC on the same data
    val plain = LinearModel.aucRoc(scored).collect().head.getAs[Double]("auc")
    assert(math.abs(plain - aucRef) < 1e-12)
    // single-class edge
    val oneClass = Seq((0.5, 1), (0.7, 1)).toDF("score", "label")
    assert(LinearModel.aucDeLong(oneClass).collect().head.isNullAt(2))
  }

  test("conformalInterval: exact on noiseless data; matches a naive replica") {
    // perfectly linear: zero residuals everywhere -> q_hat 0, coverage 1
    val lin = (1 to 300).map(i => (i.toLong, i.toDouble, 3.0 + 2.0 * i))
      .toDF("id", "x", "y")
    val r = LinearModel.conformalInterval(lin, "id", "x", "y", alpha = 0.1)
      .collect().head
    assert(math.abs(r.getAs[Double]("slope") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("intercept") - 3.0) < 1e-9)
    assert(r.getAs[Double]("q_hat") < 1e-9)
    assert(r.getAs[Double]("coverage") == 1.0)
    assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_cal") +
      r.getAs[Long]("n_test") == 300L)

    // noisy data: replicate split/fit/rank/coverage naively and compare
    val rnd = new scala.util.Random(31)
    val rows = (1 to 400).map { i =>
      val x = rnd.nextInt(100).toDouble
      (i.toLong, x, 5.0 + 0.5 * x + (rnd.nextInt(21) - 10))
    }
    val got = LinearModel.conformalInterval(
      rows.toDF("id", "x", "y"), "id", "x", "y", alpha = 0.2).collect().head
    def u(id: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"conf:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString, 16)
        .toDouble / 4294967296.0
    }
    val train = rows.filter(p => u(p._1) < 0.4)
    val cal = rows.filter(p => { val v = u(p._1); v >= 0.4 && v < 0.7 })
    val test = rows.filter(p => u(p._1) >= 0.7)
    assert(got.getAs[Long]("n_train") == train.size.toLong)
    assert(got.getAs[Long]("n_cal") == cal.size.toLong)
    val n = train.size.toDouble
    val sx = train.map(_._2).sum; val sy = train.map(_._3).sum
    val sxx = train.map(p => p._2 * p._2).sum
    val sxy = train.map(p => p._2 * p._3).sum
    val b = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    val a = sy / n - b * sx / n
    assert(math.abs(got.getAs[Double]("slope") - b) < 1e-9)
    val k = math.ceil((cal.size + 1) * 0.8).toInt
    val qRef = cal.map(p => math.abs(p._3 - (a + b * p._2))).sorted.apply(k - 1)
    assert(math.abs(got.getAs[Double]("q_hat") - qRef) < 1e-9,
      s"q_hat ${got.getAs[Double]("q_hat")} vs $qRef")
    val covRef = test.count(p => math.abs(p._3 - (a + b * p._2)) <= qRef)
      .toDouble / test.size
    assert(math.abs(got.getAs[Double]("coverage") - covRef) < 1e-12)
    // the guarantee itself: empirical coverage near the nominal 0.8
    assert(covRef > 0.7 && covRef <= 1.0, s"coverage $covRef")
  }

  test("calibrationError: calibrated = 0, hand gaps, bin clamp") {
    import spark.implicits._
    // per bin: scores constant, observed rate equal -> ece = mce = 0
    val cal = (0 until 40).map { i =>
      val s = 0.25 + 0.5 * (i / 20) // 0.25 (bin 2), 0.75 (bin 7)
      val y = if (i % 20 < math.round(20 * s)) 1 else 0
      (y, s)
    }.toDF("y", "s")
    val rc = graft.operators.LinearModel.calibrationError(cal, "y", "s")
      .collect().head
    assert(rc.getLong(0) == 40L && rc.getLong(1) == 2L)
    assert(math.abs(rc.getAs[Double]("ece")) < 1e-12)
    assert(math.abs(rc.getAs[Double]("mce")) < 1e-12)
    // hand gaps: bin 2 gap 0.25 (n 20), bin 7 gap 0.75 (n 20)
    val off = cal.select((lit(1) - col("y")).as("y"), col("s"))
    val ro = graft.operators.LinearModel.calibrationError(off, "y", "s")
      .collect().head
    // inverted labels: bin .25 observed .5? no - observed = 1 - 0.25 = 0.75
    // gap = |0.25 - 0.75| = 0.5 in both bins
    assert(math.abs(ro.getAs[Double]("ece") - 0.5) < 1e-12)
    assert(math.abs(ro.getAs[Double]("mce") - 0.5) < 1e-12)
    // score exactly 1.0 clamps into the last bin
    val edge = Seq((1, 1.0), (0, 1.0)).toDF("y", "s")
    val re = graft.operators.LinearModel.calibrationError(edge, "y", "s")
      .collect().head
    assert(re.getLong(1) == 1L)
    assert(math.abs(re.getAs[Double]("mce") - 0.5) < 1e-12)
  }

  test("confusionMatrix + classificationSummary: hand PRF, ghost classes") {
    import spark.implicits._
    // actual: a x4, b x2; predicted: a->a x3, a->b x1, b->b x1, b->c x1
    val df = Seq(("a", "a"), ("a", "a"), ("a", "a"), ("a", "b"),
      ("b", "b"), ("b", "c")).toDF("y", "p")
    val cm = graft.operators.LinearModel.confusionMatrix(df, "y", "p")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(cm.keySet == Set("a", "b", "c"))
    val a = cm("a")
    assert(a.getLong(1) == 4L && a.getLong(2) == 3L && a.getLong(3) == 3L)
    assert(math.abs(a.getAs[Double]("precision") - 1.0) < 1e-12)
    assert(math.abs(a.getAs[Double]("recall") - 0.75) < 1e-12)
    assert(math.abs(a.getAs[Double]("f1") - 2 * 0.75 / 1.75) < 1e-12)
    val b = cm("b")
    assert(math.abs(b.getAs[Double]("precision") - 0.5) < 1e-12)
    assert(math.abs(b.getAs[Double]("recall") - 0.5) < 1e-12)
    // ghost class c: predicted once, never actual -> recall NULL, p = 0
    val c = cm("c")
    assert(c.getLong(1) == 0L && c.getLong(2) == 1L)
    assert(c.getAs[Double]("precision") == 0.0)
    assert(c.isNullAt(c.fieldIndex("recall")))
    assert(c.isNullAt(c.fieldIndex("f1")))
    // summary: ghost class excluded from macro; accuracy = 4/6
    val s = graft.operators.LinearModel.classificationSummary(df, "y", "p")
      .collect().head
    assert(s.getLong(0) == 6L && s.getLong(1) == 2L)
    assert(math.abs(s.getAs[Double]("accuracy") - 4.0 / 6) < 1e-12)
    assert(math.abs(s.getAs[Double]("macro_precision") - (1.0 + 0.5) / 2) < 1e-12)
    assert(math.abs(s.getAs[Double]("macro_recall") - (0.75 + 0.5) / 2) < 1e-12)
    assert(math.abs(s.getAs[Double]("macro_f1") -
      (2 * 0.75 / 1.75 + 0.5) / 2) < 1e-12)
  }

  test("binaryDiagnostics: hand confusion panel, degenerate marginals") {
    import spark.implicits._
    // tp=3, fp=1, tn=4, fn=2
    val df = (Seq.fill(3)((1, 1)) ++ Seq.fill(1)((0, 1)) ++
      Seq.fill(4)((0, 0)) ++ Seq.fill(2)((1, 0))).toDF("y", "p")
    val r = graft.operators.LinearModel.binaryDiagnostics(df, "y", "p")
      .collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L &&
      r.getLong(3) == 4L && r.getLong(4) == 2L)
    assert(math.abs(r.getAs[Double]("accuracy") - 0.7) < 1e-12)
    assert(math.abs(r.getAs[Double]("precision") - 0.75) < 1e-12)
    assert(math.abs(r.getAs[Double]("recall") - 0.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("balanced_accuracy") - (0.6 + 0.8) / 2) < 1e-12)
    assert(math.abs(r.getAs[Double]("youden_j") - 0.4) < 1e-12)
    val mccRef = (3.0 * 4 - 1.0 * 2) / math.sqrt(4.0 * 5 * 5 * 6)
    assert(math.abs(r.getAs[Double]("mcc") - mccRef) < 1e-12)
    // never predicts positive: precision and MCC NULL, recall 0
    val nop = Seq((1, 0), (0, 0), (1, 0)).toDF("y", "p")
    val rn = graft.operators.LinearModel.binaryDiagnostics(nop, "y", "p")
      .collect().head
    assert(rn.isNullAt(rn.fieldIndex("precision")))
    assert(rn.isNullAt(rn.fieldIndex("mcc")))
    assert(rn.getAs[Double]("recall") == 0.0)
  }

  test("isotonicCalibration: PAVA pooling by hand; monotone passes through") {
    // 3 quantile bins of 2 rows each; observed rates (0, 1, 0.5):
    // the last two bins violate monotonicity -> pool to 3/4
    val d = Seq((0.1, 0), (0.2, 0), (0.3, 1), (0.4, 1), (0.5, 0), (0.6, 1))
      .toDF("s", "y")
    val out = LinearModel.isotonicCalibration(d, "y", "s", bins = 3)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(0) == ((2L, 0.0, 0.0)))
    assert(out(1) == ((2L, 1.0, 0.75)))
    assert(out(2) == ((2L, 0.5, 0.75)))
    // already-monotone rates are a fixed point of the fit
    val mono = Seq((0.1, 0), (0.2, 0), (0.3, 0), (0.4, 1), (0.5, 1), (0.6, 1))
      .toDF("s", "y")
    LinearModel.isotonicCalibration(mono, "y", "s", bins = 3)
      .collect().foreach(r => assert(r.getDouble(3) == r.getDouble(4)))
    // mean_score is the exact per-bin average
    val ms = LinearModel.isotonicCalibration(d, "y", "s", bins = 3)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(math.abs(ms(0) - 0.15) < 1e-12)
    assert(math.abs(ms(2) - 0.55) < 1e-12)
    // empty input yields an empty frame, guards fire
    assert(LinearModel.isotonicCalibration(
      d.filter(col("y") < 0), "y", "s", bins = 3).count() == 0)
    intercept[IllegalArgumentException] {
      LinearModel.isotonicCalibration(d, "y", "s", bins = 1)
    }
  }

  test("poissonGlm: saturated binary design has a closed-form MLE; guards") {
    // x=0 cells mean 2, x=1 cells mean 6 -> b0 = ln2, b1 = ln3;
    // info at the MLE = [[16,12],[12,12]], se = (0.5, 1/sqrt(3))
    val d1 = Seq((1L, 0.0), (3L, 0.0), (4L, 1.0), (8L, 1.0)).toDF("y", "x")
    val r1 = LinearModel.poissonGlm(d1, "y", Seq("x"), iterations = 6)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("beta"), r.getAs[Double]("se"))).toMap
    assert(math.abs(r1("intercept")._1 - math.log(2)) < 1e-6)
    assert(math.abs(r1("x")._1 - math.log(3)) < 1e-6)
    assert(math.abs(r1("intercept")._2 - 0.5) < 1e-6)
    assert(math.abs(r1("x")._2 - 1 / math.sqrt(3)) < 1e-6)
    // exactly multiplicative 2x2 design: the log-linear MLE is exact and
    // the d = 2 Gaussian-elimination path must land on it
    val d2 = Seq((2L, 0.0, 0.0), (6L, 0.0, 1.0), (4L, 1.0, 0.0),
      (12L, 1.0, 1.0)).toDF("y", "x1", "x2")
    val r2 = LinearModel.poissonGlm(d2, "y", Seq("x1", "x2"),
        iterations = 6)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("beta"), r.getAs[Double]("se"))).toMap
    assert(math.abs(r2("intercept")._1 - math.log(2)) < 1e-6)
    assert(math.abs(r2("x1")._1 - math.log(2)) < 1e-6)
    assert(math.abs(r2("x2")._1 - math.log(3)) < 1e-6)
    // inv(info) diag = (1/4, 3/16, 2/9) at the MLE
    assert(math.abs(r2("intercept")._2 - 0.5) < 1e-6)
    assert(math.abs(r2("x1")._2 - math.sqrt(3.0 / 16)) < 1e-6)
    assert(math.abs(r2("x2")._2 - math.sqrt(2.0 / 9)) < 1e-6)
    // constant covariate: information singular -> NULL stats
    val flat = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0)).toDF("y", "x")
    LinearModel.poissonGlm(flat, "y", Seq("x")).collect()
      .foreach(r => assert(r.isNullAt(r.fieldIndex("beta"))))
    // all-zero response: log-mean start undefined -> NULL stats
    val zero = Seq((0L, 0.0), (0L, 1.0)).toDF("y", "x")
    LinearModel.poissonGlm(zero, "y", Seq("x")).collect()
      .foreach(r => assert(r.isNullAt(r.fieldIndex("beta"))))
  }

  test("binomialGlm: definitional IRLS reference, SE at reported beta, guards") {
    // 12 rows, clear positive slope, not separated
    val data = Seq(
      (0L, -2.0), (0L, -1.5), (0L, -1.0), (1L, -0.5), (0L, -0.5),
      (0L, 0.0), (1L, 0.5), (0L, 0.5), (1L, 1.0), (1L, 1.5),
      (1L, 2.0), (0L, 2.5))
    val out = LinearModel.binomialGlm(data.toDF("y", "x"), "y", Seq("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    // definitional reference: Newton from logit(y-bar), 4 steps + a 5th
    // info-only pass (the operator's SE-at-reported-beta convention)
    val sy = data.map(_._1).sum.toDouble; val n = data.size
    var b = Array(math.log(sy / (n - sy)), 0.0)
    var h = Array.ofDim[Double](2, 2)
    for (pass <- 1 to 5) {
      val g = Array(0.0, 0.0); h = Array.ofDim[Double](2, 2)
      data.foreach { case (y, x) =>
        val mu = 1.0 / (1.0 + math.exp(-(b(0) + b(1) * x)))
        val w = mu * (1 - mu)
        g(0) += y - mu; g(1) += (y - mu) * x
        h(0)(0) += w; h(0)(1) += w * x; h(1)(1) += w * x * x
      }
      h(1)(0) = h(0)(1)
      if (pass <= 4) {
        val det = h(0)(0) * h(1)(1) - h(0)(1) * h(0)(1)
        b = Array(b(0) + (h(1)(1) * g(0) - h(0)(1) * g(1)) / det,
          b(1) + (h(0)(0) * g(1) - h(0)(1) * g(0)) / det)
      }
    }
    val det = h(0)(0) * h(1)(1) - h(0)(1) * h(0)(1)
    val seRef = Array(math.sqrt(h(1)(1) / det), math.sqrt(h(0)(0) / det))
    assert(math.abs(out("intercept").getAs[Double]("beta") - b(0)) < 1e-6)
    assert(math.abs(out("x").getAs[Double]("beta") - b(1)) < 1e-6)
    assert(math.abs(out("intercept").getAs[Double]("se") - seRef(0)) < 1e-6)
    assert(math.abs(out("x").getAs[Double]("se") - seRef(1)) < 1e-6)
    assert(out("x").getAs[Double]("beta") > 0, "positive slope recovered")
    // degenerate response (all one class) -> NULL stats
    val ones = Seq((1L, 0.0), (1L, 1.0)).toDF("y", "x")
    LinearModel.binomialGlm(ones, "y", Seq("x")).collect()
      .foreach(r => assert(r.isNullAt(r.fieldIndex("beta"))))
    // non-binary response fails loudly
    val bad = Seq((2L, 0.0), (0L, 1.0)).toDF("y", "x")
    val e = intercept[Exception] {
      LinearModel.binomialGlm(bad, "y", Seq("x")).collect()
    }
    assert(e.getMessage.contains("0/1 response"))
    // two covariates: the d ≥ 2 Gaussian-elimination step and SE path
    val data2 = Seq(
      (0L, -2.0, 1.0), (0L, -1.5, 0.0), (1L, -1.0, 1.0), (0L, -1.0, 0.0),
      (0L, -0.5, 0.0), (1L, -0.5, 1.0), (0L, 0.0, 0.0), (1L, 0.0, 1.0),
      (0L, 0.5, 1.0), (1L, 0.5, 0.0), (1L, 1.0, 0.0), (0L, 1.0, 1.0),
      (1L, 1.5, 1.0), (0L, 2.0, 0.0), (1L, 2.0, 0.0), (1L, 2.5, 1.0))
    val df2 = data2.toDF("y", "x1", "x2")
    val out2 = byTerm(LinearModel.binomialGlm(df2, "y", Seq("x1", "x2")))
    val sy2 = data2.map(_._1).sum.toDouble
    val (b2, h2) = NewtonRef.newton(Array(
        NewtonRef.r12(math.log(sy2 / (data2.size - sy2))), 0.0, 0.0), 4) { b =>
      val mus = data2.map { case (y, x1, x2) =>
        (y, 1.0 / (1.0 + math.exp(-(b(0) + b(1) * x1 + b(2) * x2))),
          Seq(x1, x2)) }
      (NewtonRef.score(mus.map { case (y, mu, xs) => (y - mu, xs) }),
        NewtonRef.outer(mus.map { case (_, mu, xs) => (mu * (1 - mu), xs) }))
    }
    assertFit(out2, Seq("intercept", "x1", "x2"), b2, NewtonRef.se(h2), 1e-6)
    assertNullFit(LinearModel.binomialGlm(df2.withColumn("xd", col("x1")),
      "y", Seq("x1", "xd")))
  }

  test("negativeBinomialGlm: alpha=0 degenerates to Poisson; overdispersion widens SEs") {
    // underdispersed-ish data: moment alpha clamps to 0, so the NB fit
    // must equal the Poisson fit EXACTLY (same decimal recipe)
    val eq = Seq((1L, 0.0), (2L, 1.0), (1L, 0.5), (2L, 1.5), (1L, 0.2),
      (2L, 1.2)).toDF("y", "x")
    val nb0 = LinearModel.negativeBinomialGlm(eq, "y", Seq("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    val po0 = LinearModel.poissonGlm(eq, "y", Seq("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    if (nb0("x").getAs[Double]("alpha") == 0.0) {
      // same optimum, but the NB pass quantizes its grad/info terms on a
      // different (residual-based) path — agreement to the 12-dp floor
      Seq("intercept", "x").foreach { t =>
        assert(math.abs(nb0(t).getAs[Double]("beta") -
          po0(t).getAs[Double]("beta")) < 1e-9,
          s"alpha=0 must reproduce the Poisson beta at $t")
        assert(math.abs(nb0(t).getAs[Double]("se") -
          po0(t).getAs[Double]("se")) < 1e-9)
      }
    }
    // heavily overdispersed: same mean structure, huge spread -> alpha>0
    // and NB SEs strictly wider than the (overconfident) Poisson SEs
    val od = Seq((0L, 0.0), (0L, 0.0), (0L, 0.0), (12L, 0.0),
      (0L, 1.0), (0L, 1.0), (1L, 1.0), (19L, 1.0),
      (0L, 2.0), (2L, 2.0), (0L, 2.0), (26L, 2.0)).toDF("y", "x")
    val nb = LinearModel.negativeBinomialGlm(od, "y", Seq("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    val po = LinearModel.poissonGlm(od, "y", Seq("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(nb("x").getAs[Double]("alpha") > 0.5,
      s"moment alpha must detect the overdispersion: ${nb("x")}")
    Seq("intercept", "x").foreach { t =>
      assert(nb(t).getAs[Double]("se") > po(t).getAs[Double]("se"),
        s"NB SE must widen at $t: nb=${nb(t)} poisson=${po(t)}")
    }
    // all-zero response: NULL stats with the alpha column present
    val zero = Seq((0L, 0.0), (0L, 1.0)).toDF("y", "x")
    val rz = LinearModel.negativeBinomialGlm(zero, "y", Seq("x"))
      .collect().head
    assert(rz.isNullAt(rz.fieldIndex("alpha")) &&
      rz.isNullAt(rz.fieldIndex("beta")))
    // two covariates, overdispersed: replay the Poisson warm-up, the
    // moment alpha and the NB2 scoring through the d ≥ 2 solve path
    val data2 = Seq((0L, 0.0, 0.0), (3L, 0.0, 1.0), (1L, 0.0, 0.0),
      (9L, 0.0, 1.0), (0L, 1.0, 0.0), (2L, 1.0, 1.0), (7L, 1.0, 0.0),
      (14L, 1.0, 1.0), (1L, 2.0, 0.0), (0L, 2.0, 1.0), (11L, 2.0, 0.0),
      (23L, 2.0, 1.0))
    val df2 = data2.toDF("y", "x1", "x2")
    val out2 = byTerm(LinearModel.negativeBinomialGlm(df2, "y",
      Seq("x1", "x2")))
    def means(b: Array[Double]) = data2.map { case (y, x1, x2) =>
      (y.toDouble, math.exp(b(0) + b(1) * x1 + b(2) * x2), Seq(x1, x2)) }
    val b0 = Array(NewtonRef.r12(math.log(
      data2.map(_._1).sum.toDouble / data2.size)), 0.0, 0.0)
    var bp = b0
    for (_ <- 1 to 4) {
      val m = means(bp)
      val st = NewtonRef.solve(
        NewtonRef.outer(m.map { case (_, mu, xs) => (mu, xs) }),
        NewtonRef.score(m.map { case (y, mu, xs) => (y - mu, xs) }))
      bp = bp.zip(st).map { case (v, s) => NewtonRef.r12(v + s) }
    }
    val mp = means(bp)
    val alpha = NewtonRef.r12(math.max(0.0,
      mp.map { case (y, mu, _) => (y - mu) * (y - mu) - mu }.sum /
        mp.map { case (_, mu, _) => mu * mu }.sum))
    assert(alpha > 0.1, s"overdispersed design must give alpha > 0: $alpha")
    val (bn, hn) = NewtonRef.newton(bp, 4) { b =>
      val m = means(b)
      (NewtonRef.score(m.map { case (y, mu, xs) =>
          ((y - mu) / (1 + alpha * mu), xs) }),
        NewtonRef.outer(m.map { case (_, mu, xs) =>
          (mu / (1 + alpha * mu), xs) }))
    }
    assert(math.abs(out2("x1").getAs[Double]("alpha") - alpha) < 1e-9)
    assertFit(out2, Seq("intercept", "x1", "x2"), bn, NewtonRef.se(hn), 1e-6)
    assertNullFit(LinearModel.negativeBinomialGlm(
      df2.withColumn("xd", col("x2")), "y", Seq("x2", "xd")))
  }

  test("ipwAte: de-biases a confounded treatment; definitional replay") {
    // confounding: treatment probability AND outcome both rise with x,
    // so the naive arm-mean difference overstates the true zero effect
    val data = Seq(
      // x = 2 stratum: mostly treated, y = 1 in BOTH arms (no effect)
      (1L, 2.0, 1.0), (1L, 2.0, 1.0), (1L, 2.0, 1.0), (0L, 2.0, 1.0),
      // x = 0 stratum: balanced, arm means equal
      (1L, 0.0, 1.0), (1L, 0.0, 0.0), (0L, 0.0, 1.0), (0L, 0.0, 0.0),
      // x = -2 stratum: mostly control, y = 0 in BOTH arms (no effect)
      (1L, -2.0, 0.0), (0L, -2.0, 0.0), (0L, -2.0, 0.0), (0L, -2.0, 0.0))
    val df = data.toDF("t", "x", "y")
    val r = LinearModel.ipwAte(df, "t", "y", Seq("x")).collect().head
    // definitional replay: IRLS propensity (logit-ybar start, 4 steps),
    // 12-dp rounding as documented, Hajek means
    val sy = data.map(_._1).sum.toDouble; val n = data.size
    def r12(v: Double) =
      BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    var b = Array(r12(math.log(sy / (n - sy))), 0.0)
    for (_ <- 1 to 4) {
      val g = Array(0.0, 0.0); val h = Array.ofDim[Double](2, 2)
      data.foreach { case (t, x, _) =>
        val mu = r12(1.0 / (1.0 + math.exp(-(b(0) + b(1) * x))))
        val w = mu * (1 - mu)
        g(0) += t - mu; g(1) += (t - mu) * x
        h(0)(0) += r12(w); h(0)(1) += r12(w * x); h(1)(1) += r12(w * x * x)
      }
      val det = h(0)(0) * h(1)(1) - h(0)(1) * h(0)(1)
      b = Array(r12(b(0) + (h(1)(1) * g(0) - h(0)(1) * g(1)) / det),
        r12(b(1) + (h(0)(0) * g(1) - h(0)(1) * g(0)) / det))
    }
    def e(x: Double) = math.max(0.01, math.min(0.99,
      r12(1.0 / (1.0 + math.exp(-(b(0) + b(1) * x))))))
    val sw1 = data.map { case (t, x, _) => r12(t / e(x)) }.sum
    val swy1 = data.map { case (t, x, y) => r12(t * y / e(x)) }.sum
    val sw0 = data.map { case (t, x, _) => r12((1 - t) / (1 - e(x))) }.sum
    val swy0 = data.map { case (t, x, y) => r12((1 - t) * y / (1 - e(x))) }.sum
    val (mu1, mu0) = (r12(swy1 / sw1), r12(swy0 / sw0))
    assert(math.abs(r.getAs[Double]("mu_treated") - mu1) < 1e-9)
    assert(math.abs(r.getAs[Double]("mu_control") - mu0) < 1e-9)
    assert(math.abs(r.getAs[Double]("ate") - (mu1 - mu0)) < 1e-9)
    // the IPW estimate must sit closer to zero than the naive difference
    val naive = data.filter(_._1 == 1L).map(_._3).sum / sy -
      data.filter(_._1 == 0L).map(_._3).sum / (n - sy)
    assert(math.abs(r.getAs[Double]("ate")) < math.abs(naive),
      s"IPW ${r.getAs[Double]("ate")} vs naive $naive")
    assert(r.getAs[Double]("se") > 0)
    // empty arm -> NULL stats
    val oneArm = Seq((1L, 0.0, 1.0), (1L, 1.0, 0.0)).toDF("t", "x", "y")
    val ra = LinearModel.ipwAte(oneArm, "t", "y", Seq("x")).collect().head
    assert(ra.isNullAt(ra.fieldIndex("ate")))
  }

  test("poissonGlm: mean overflow past DECIMAL(20,12) fails loudly") {
    // counts with mean > 1e8 start the intercept at ln(mean) > 18.4, so
    // mu = exp(eta) overflows DECIMAL(20,12) on the very first pass and
    // would silently drop rows from every moment sum — must throw instead
    val hot = Seq((400000000L, 1.0), (600000000L, 2.0),
      (500000000L, 0.0)).toDF("y", "x")
    val e = intercept[Exception] {
      LinearModel.poissonGlm(hot, "y", Seq("x")).collect()
    }
    // under ANSI (Spark 4 default) the decimal cast itself throws
    // NUMERIC_VALUE_OUT_OF_RANGE; under a non-ANSI session the cast
    // yields NULL and the operator's own null-mean guard fires — either
    // way the failure is LOUD, never a silent row drop
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("overflowed") ||
      msg.contains("NUMERIC_VALUE_OUT_OF_RANGE"),
      s"expected a loud overflow failure, got: $msg")
  }

  test("targetEncodeLoo: own label excluded, singletons land on the prior") {
    // prior = 3/6; category a: (sum 2, n 3), b: (sum 1, n 2), c singleton
    val d = Seq((1L, "a", 1), (2L, "a", 1), (3L, "a", 0),
      (4L, "b", 0), (5L, "b", 1), (6L, "c", 0)).toDF("id", "cat", "y")
    val out = LinearModel.targetEncodeLoo(d, "id", "cat", "y",
        smoothing = 2.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val prior = 0.5
    // id 1 (y=1, cat a): (2 - 1 + 2*0.5)/(3 - 1 + 2) = 0.5
    assert(math.abs(out(1L) - 0.5) < 1e-12)
    // id 3 (y=0, cat a): (2 - 0 + 1)/4 = 0.75 — higher: its own 0 is out
    assert(math.abs(out(3L) - 0.75) < 1e-12)
    // id 4 (y=0, cat b): (1 - 0 + 1)/(1 + 2) = 2/3
    assert(math.abs(out(4L) - 2.0 / 3) < 1e-12)
    // singleton c: (0 - 0 + 2*0.5)/(0 + 2) = prior exactly
    assert(out(6L) == prior)
    // leakage check: the encoding never equals the plain category mean
    // when the row's own label differs from it
    assert(out(1L) != out(3L))
  }

  test("quasiPoissonGlm: same betas, SEs scaled by the exact Pearson phi") {
    // mu-hat = (2,2,6,6): X^2 = 1/2 + 1/2 + 4/6 + 4/6 = 7/3, phi = 7/6
    val d1 = Seq((1L, 0.0), (3L, 0.0), (4L, 1.0), (8L, 1.0)).toDF("y", "x")
    val plain = LinearModel.poissonGlm(d1, "y", Seq("x"), iterations = 6)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("beta"), r.getAs[Double]("se"))).toMap
    val quasi = LinearModel.quasiPoissonGlm(d1, "y", Seq("x"),
        iterations = 6)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("phi"), r.getAs[Double]("beta"),
         r.getAs[Double]("se"))).toMap
    Seq("intercept", "x").foreach { t =>
      assert(quasi(t)._2 == plain(t)._1, s"$t beta must be identical")
      assert(math.abs(quasi(t)._1 - 7.0 / 6) < 1e-6)
      assert(math.abs(quasi(t)._3 -
        plain(t)._2 * math.sqrt(quasi(t)._1)) < 1e-12)
    }
    // all-zero response: NULL stats with the phi column present
    val zero = Seq((0L, 0.0), (0L, 1.0)).toDF("y", "x")
    val rz = LinearModel.quasiPoissonGlm(zero, "y", Seq("x"))
      .collect().head
    assert(rz.isNullAt(rz.fieldIndex("phi")) &&
      rz.isNullAt(rz.fieldIndex("beta")))
  }

  test("hosmerLemeshow: calibrated = 0, miscalibrated rejects, guards") {
    import spark.implicits._
    // 5 score levels, 10 rows each, observed positives exactly 10*s:
    // every bin has o1 = e1 -> HL = 0, p = 1
    val cal = (0 until 50).map { i =>
      val lvl = i / 10
      val s = 0.1 + 0.2 * lvl // 0.1, 0.3, 0.5, 0.7, 0.9
      val y = if (i % 10 < math.round(10 * s)) 1 else 0
      (y, s)
    }.toDF("y", "s")
    val rc = graft.operators.LinearModel.hosmerLemeshow(cal, "y", "s", bins = 5)
      .collect().head
    assert(rc.getLong(0) == 50L && rc.getLong(1) == 5L && rc.getLong(3) == 3L)
    assert(math.abs(rc.getAs[Double]("hl")) < 1e-12)
    assert(rc.getAs[Double]("p_value") > 0.999)
    // anti-calibrated: labels inverted -> large HL, tiny p
    val bad = cal.select((lit(1) - col("y")).as("y"), col("s"))
    val rb = graft.operators.LinearModel.hosmerLemeshow(bad, "y", "s", bins = 5)
      .collect().head
    assert(rb.getAs[Double]("hl") > 50.0)
    assert(rb.getAs[Double]("p_value") < 1e-6)
    // hand check on the anti-calibrated table: per level o1 = 10-10s,
    // e1 = 10s -> term = (10-20s)^2 / (10s(1-s))
    val ref = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map { s =>
      math.pow(10 - 20 * s, 2) / (10 * s * (1 - s))
    }.sum
    assert(math.abs(rb.getAs[Double]("hl") - ref) < 1e-9)
    // degenerate: hard-0/1 scores make e1*(nb-e1) = 0 -> NULL
    val hard = (0 until 20).map(i => (i % 2, if (i % 2 == 0) 0.0 else 1.0))
      .toDF("y", "s")
    val rh = graft.operators.LinearModel.hosmerLemeshow(hard, "y", "s",
      bins = 4).collect().head
    assert(rh.isNullAt(rh.fieldIndex("hl")))
  }

  test("gammaGlm: exact log-linear recovery, Pearson phi, guards") {
    def r12(v: Double) =
      BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    // noiseless y = exp(1 + 0.5x): scoring must land on (1, 0.5) and
    // the Pearson dispersion collapses to ~0
    val clean = Seq(-2.0, -1.0, 0.0, 1.0, 2.0).flatMap(x =>
      Seq.fill(4)((math.exp(1.0 + 0.5 * x), x)))
    val rc = LinearModel.gammaGlm(clean.toDF("y", "x"), "y", Seq("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(rc("intercept").getAs[Double]("beta") - 1.0) < 1e-5)
    assert(math.abs(rc("x").getAs[Double]("beta") - 0.5) < 1e-5)
    // noisy data: definitional replay of the constant-XtX scoring
    val noisy = Seq((10.0, 0.0), (14.0, 0.0), (22.0, 1.0), (18.0, 1.0),
      (35.0, 2.0), (28.0, 2.0), (8.0, -1.0), (11.0, -1.0))
    val rn = LinearModel.gammaGlm(noisy.toDF("y", "x"), "y", Seq("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    val n = noisy.size
    val (s00, s01, s11) = (n.toDouble, noisy.map(_._2).sum,
      noisy.map(d => d._2 * d._2).sum)
    val det = s00 * s11 - s01 * s01
    var b = Array(r12(math.log(noisy.map(_._1).sum / n)), 0.0)
    for (_ <- 1 to 4) {
      var (g0, g1) = (0.0, 0.0)
      noisy.foreach { case (y, x) =>
        val mu = math.exp(b(0) + b(1) * x)
        g0 += r12(y / mu - 1.0); g1 += r12((y / mu - 1.0) * x)
      }
      b = Array(r12(b(0) + (s11 * g0 - s01 * g1) / det),
        r12(b(1) + (s00 * g1 - s01 * g0) / det))
    }
    assert(math.abs(rn("intercept").getAs[Double]("beta") - b(0)) < 1e-9)
    assert(math.abs(rn("x").getAs[Double]("beta") - b(1)) < 1e-9)
    val x2 = noisy.map { case (y, x) =>
      val mu = math.exp(b(0) + b(1) * x)
      r12((y - mu) * (y - mu) / (mu * mu))
    }.sum
    val phi = x2 / (n - 2)
    assert(math.abs(rn("x").getAs[Double]("phi") - phi) < 1e-9)
    assert(math.abs(rn("x").getAs[Double]("se") -
      math.sqrt(phi * s00 / det)) < 1e-9)
    // y <= 0 fails loudly; constant covariate -> singular -> NULL
    intercept[Exception] {
      LinearModel.gammaGlm(Seq((0.0, 1.0), (2.0, 2.0)).toDF("y", "x"),
        "y", Seq("x")).collect()
    }
    val const = LinearModel.gammaGlm(
      Seq((1.0, 3.0), (2.0, 3.0), (4.0, 3.0), (8.0, 3.0)).toDF("y", "x"),
      "y", Seq("x")).collect().head
    assert(const.isNullAt(const.fieldIndex("beta")))
    // two covariates: constant XᵀX through the d ≥ 2 solve and the
    // φ-scaled inverse diagonal
    val noisy2 = Seq((10.0, 0.0, 1.0), (14.0, 0.0, 0.0), (22.0, 1.0, 1.0),
      (18.0, 1.0, 0.0), (35.0, 2.0, 1.0), (28.0, 2.0, 0.0),
      (8.0, -1.0, 0.0), (11.0, -1.0, 1.0), (16.0, 0.5, 0.0),
      (25.0, 1.5, 1.0))
    val df2 = noisy2.toDF("y", "x1", "x2")
    val out2 = byTerm(LinearModel.gammaGlm(df2, "y", Seq("x1", "x2")))
    val xtx = NewtonRef.outer(noisy2.map { case (_, x1, x2) =>
      (1.0, Seq(x1, x2)) })
    def mu2(b: Array[Double], x1: Double, x2: Double) =
      math.exp(b(0) + b(1) * x1 + b(2) * x2)
    val (bg, _) = NewtonRef.newton(Array(r12(math.log(
        noisy2.map(_._1).sum / noisy2.size)), 0.0, 0.0), 4) { b =>
      (NewtonRef.score(noisy2.map { case (y, x1, x2) =>
        (y / mu2(b, x1, x2) - 1.0, Seq(x1, x2)) }), xtx)
    }
    val phi2 = noisy2.map { case (y, x1, x2) =>
      val mu = mu2(bg, x1, x2); r12((y - mu) * (y - mu) / (mu * mu))
    }.sum / (noisy2.size - 3)
    assert(math.abs(out2("x1").getAs[Double]("phi") - phi2) < 1e-9)
    assertFit(out2, Seq("intercept", "x1", "x2"), bg,
      NewtonRef.se(xtx, phi2), 1e-8)
    assertNullFit(LinearModel.gammaGlm(df2.withColumn("xd", col("x1")),
      "y", Seq("x1", "xd")))
  }

  test("aipwAte: definitional replay; outcome model absorbs confounding") {
    def r12(v: Double) =
      BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the ipwAte confounded design with integer outcomes
    val data = Seq(
      (1L, 2.0, 1L), (1L, 2.0, 1L), (1L, 2.0, 1L), (0L, 2.0, 1L),
      (1L, 0.0, 1L), (1L, 0.0, 0L), (0L, 0.0, 1L), (0L, 0.0, 0L),
      (1L, -2.0, 0L), (0L, -2.0, 0L), (0L, -2.0, 0L), (0L, -2.0, 0L))
    val rr = LinearModel.aipwAte(data.toDF("t", "x", "y"), "t", "y", "x")
      .collect().head
    // replay: logistic propensity (the ipwAte spec recipe)
    val sy = data.map(_._1).sum.toDouble; val n = data.size
    var b = Array(r12(math.log(sy / (n - sy))), 0.0)
    for (_ <- 1 to 4) {
      val g = Array(0.0, 0.0); val h = Array.ofDim[Double](2, 2)
      data.foreach { case (t, x, _) =>
        val mu = r12(1.0 / (1.0 + math.exp(-(b(0) + b(1) * x))))
        val w = mu * (1 - mu)
        g(0) += t - mu; g(1) += (t - mu) * x
        h(0)(0) += r12(w); h(0)(1) += r12(w * x); h(1)(1) += r12(w * x * x)
      }
      val det = h(0)(0) * h(1)(1) - h(0)(1) * h(0)(1)
      b = Array(r12(b(0) + (h(1)(1) * g(0) - h(0)(1) * g(1)) / det),
        r12(b(1) + (h(0)(0) * g(1) - h(0)(1) * g(0)) / det))
    }
    def e(x: Double) = math.max(0.01, math.min(0.99,
      r12(1.0 / (1.0 + math.exp(-(b(0) + b(1) * x))))))
    // per-arm OLS
    def olsArm(t1: Long): (Double, Double) = {
      val arm = data.filter(_._1 == t1)
      val na = arm.size
      val sx = arm.map(_._2).sum; val syA = arm.map(_._3).sum.toDouble
      val sxy = arm.map(d => d._3 * d._2).sum
      val sxx = arm.map(d => d._2 * d._2).sum
      val bb = r12((sxy - sx * syA / na) / (sxx - sx * sx / na))
      (r12(syA / na - bb * sx / na), bb)
    }
    val (a1, b1) = olsArm(1L); val (a0, b0) = olsArm(0L)
    val psis = data.map { case (t, x, y) =>
      val m1 = a1 + b1 * x; val m0 = a0 + b0 * x
      r12(m1 - m0 + t * (y - m1) / e(x) - (1 - t) * (y - m0) / (1 - e(x)))
    }
    val ate = r12(psis.sum / n)
    assert(math.abs(rr.getAs[Double]("ate") - ate) < 1e-9,
      s"${rr.getAs[Double]("ate")} vs $ate")
    // no effect in any stratum: AIPW must sit near zero, closer than
    // the confounded naive difference
    val naive = data.filter(_._1 == 1L).map(_._3).sum / sy -
      data.filter(_._1 == 0L).map(_._3).sum / (n - sy)
    assert(math.abs(rr.getAs[Double]("ate")) < math.abs(naive))
    assert(rr.getAs[Double]("se") > 0)
    // arm with < 3 units -> NULL stats
    val tiny = Seq((1L, 0.0, 1L), (1L, 1.0, 0L), (0L, 0.0, 1L),
      (0L, 1.0, 0L), (0L, 2.0, 1L)).toDF("t", "x", "y")
    val rt = LinearModel.aipwAte(tiny, "t", "y", "x").collect().head
    assert(rt.isNullAt(rt.fieldIndex("ate")))
  }

  test("propensityStratifiedAtt: within-stratum compare kills confounding") {
    // 3 covariate levels, treatment rate rises with x, outcome rises
    // with x, ZERO effect within every level; balanced inner cells so
    // every propensity stratum keeps both arms
    val data =
      (1 to 12).map(i => (if (i <= 4) 1L else 0L, -1.0,
        if (i % 2 == 0) 1L else 0L)) ++
      (1 to 12).map(i => (if (i <= 6) 1L else 0L, 0.0,
        if (i % 3 == 0) 1L else 0L)) ++
      (1 to 12).map(i => (if (i <= 8) 1L else 0L, 1.0,
        if (i % 2 == 1) 1L else 0L))
    val r = LinearModel.propensityStratifiedAtt(
      data.toDF("t", "x", "y"), "t", "y", "x", strata = 3)
      .collect().head
    assert(r.getAs[Long]("n") == 36L && r.getAs[Long]("n_treated") == 18L)
    // with only 3 distinct propensities and 3 strata, the cutpoints
    // land on the levels: strata == covariate levels, so the ATT is a
    // weighted sum of EXACT within-level differences
    val att = Seq((-1.0, 4L), (0.0, 6L), (1.0, 8L)).map { case (x, n1) =>
      val lv = data.filter(_._2 == x)
      val (tr, ct) = lv.partition(_._1 == 1L)
      (n1.toDouble / 18) * (tr.map(_._3).sum.toDouble / tr.size -
        ct.map(_._3).sum.toDouble / ct.size)
    }.sum
    assert(math.abs(r.getAs[Double]("att") - att) < 1e-9,
      s"${r.getAs[Double]("att")} vs $att")
    assert(r.getAs[Long]("k_used") == 3L)
    assert(r.getAs[Double]("se") > 0)
    // a stratum missing an arm drops and renormalizes (k_used < k)
    val lop = (1 to 10).map(i => (1L, 2.0, 1L)) ++ data
    val rl = LinearModel.propensityStratifiedAtt(
      lop.toDF("t", "x", "y"), "t", "y", "x", strata = 4)
      .collect().head
    assert(rl.getAs[Long]("k_used") < 4L)
    // degenerate response (all treated) -> propensity NULL -> NULL att
    val deg = (1 to 8).map(i => (1L, i.toDouble, i % 2L))
    val rd = LinearModel.propensityStratifiedAtt(
      deg.toDF("t", "x", "y"), "t", "y", "x").collect().head
    assert(rd.isNullAt(rd.fieldIndex("att")))
  }
}
