package graft.catalog

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.EventsSource

import Support._

/** Catalog family: association and agreement measures from
  * [[graft.profile.Association]]: contingency tests, rank correlations,
  * kappas and stratified odds-ratio analysis. */
object AssociationTests {

  val cases: Seq[Case] = Seq(
    // ---- lang × source association (Association) -------------------------
    // χ² / Cramér's V / mutual information from ONE cell-bounded
    // contingency shuffle; the empty-cell χ² mass folds in closed form
    Case("q223_lang_source_assoc", (s, dir) => {
      graft.profile.Association
        .categoricalAssociation(read(s, dir, "documents"), "lang", "source")
        // rounded folds IEEE −0.0 (near-independent data rounds the tiny
        // mixed-sign MI sum — and a clamped χ² — to zero)
        .select(cols("n", "k_a", "k_b") ++ rounded(4)("chi2") ++
          rounded(6)("cramers_v", "mutual_info"): _*)
    },
      // χ² over ALL kₐ·k_b cells from observed cells only: an empty cell's
      // term is its expected count e, and Σ_all e = n, so the empty-cell
      // mass is n − Σ_observed e. MI empty cells contribute 0.
      """WITH cells AS (SELECT lang AS va, source AS vb, count(*)::DOUBLE AS o
                        FROM documents
                        WHERE lang IS NOT NULL AND source IS NOT NULL
                        GROUP BY 1, 2),
         ma AS (SELECT va, sum(o) AS ca FROM cells GROUP BY 1),
         mb AS (SELECT vb, sum(o) AS cb FROM cells GROUP BY 1),
         t AS (SELECT sum(o) AS n, count(DISTINCT va) AS k_a,
                      count(DISTINCT vb) AS k_b FROM cells),
         z AS (SELECT max(t.n) AS n, max(t.k_a) AS k_a, max(t.k_b) AS k_b,
                 greatest(sum(pow(c.o - c.ca * c.cb / t.n, 2)
                              / (c.ca * c.cb / t.n))
                   + max(t.n) - sum(c.ca * c.cb / t.n), 0) AS chi2,
                 sum(c.o / t.n * ln(c.o * t.n / (c.ca * c.cb))) AS mi
               FROM (SELECT cells.*, ma.ca, mb.cb FROM cells
                     JOIN ma USING (va) JOIN mb USING (vb)) c, t)
         SELECT n::BIGINT AS n, k_a::BIGINT AS k_a, k_b::BIGINT AS k_b,
           round(chi2, 4) + 0.0 AS chi2,
           CASE WHEN least(k_a, k_b) > 1
                THEN round(sqrt(chi2 / (n * (least(k_a, k_b) - 1))), 6) + 0.0
           END AS cramers_v,
           round(mi, 6) + 0.0 AS mutual_info
         FROM z"""),

    // ---- all-pairs association matrix (Association) -----------------------
    // the pre-training leakage scan: every column pair's chi2/V/MI row
    // over (lang, source, 500-char length bucket)
    Case("q228_assoc_matrix", (s, dir) => {
      val d = read(s, dir, "documents")
        .withColumn("len_bucket", floor(col("n_chars") / 500).cast("long"))
      graft.profile.Association
        .associationMatrix(d, Seq("lang", "source", "len_bucket"))
        .select(cols("col_a", "col_b", "n", "k_a", "k_b") ++ rounded(4)("chi2") ++
          rounded(6)("cramers_v", "mutual_info"): _*)
        .orderBy(col("col_a"), col("col_b"))
    },
      // per-pair replay of the q223 chain over pair-suffixed CTEs, unioned
      {
        val cols = Seq("lang", "source", "len_bucket")
        val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
          yield (cols(i), cols(j))
        val ctes = pairs.zipWithIndex.map { case ((a, b), i) =>
          s"""cells_$i AS (SELECT $a AS va, $b AS vb, count(*)::DOUBLE AS o
                  FROM base WHERE $a IS NOT NULL AND $b IS NOT NULL
                  GROUP BY 1, 2),
         ma_$i AS (SELECT va, sum(o) AS ca FROM cells_$i GROUP BY 1),
         mb_$i AS (SELECT vb, sum(o) AS cb FROM cells_$i GROUP BY 1),
         t_$i AS (SELECT sum(o) AS n, count(DISTINCT va) AS k_a,
                      count(DISTINCT vb) AS k_b FROM cells_$i),
         z_$i AS (SELECT max(t.n) AS n, max(t.k_a) AS k_a, max(t.k_b) AS k_b,
                 greatest(sum(pow(c.o - c.ca * c.cb / t.n, 2)
                              / (c.ca * c.cb / t.n))
                   + max(t.n) - sum(c.ca * c.cb / t.n), 0) AS chi2,
                 sum(c.o / t.n * ln(c.o * t.n / (c.ca * c.cb))) AS mi
               FROM (SELECT cells_$i.*, ma.ca, mb.cb FROM cells_$i
                     JOIN ma_$i ma USING (va) JOIN mb_$i mb USING (vb)) c,
                    t_$i t)"""
        }.mkString(",\n         ")
        val selects = pairs.zipWithIndex.map { case ((a, b), i) =>
          s"""SELECT '$a' AS col_a, '$b' AS col_b, n::BIGINT AS n,
           k_a::BIGINT AS k_a, k_b::BIGINT AS k_b,
           round(chi2, 4) + 0.0 AS chi2,
           CASE WHEN least(k_a, k_b) > 1
                THEN round(sqrt(chi2 / (n * (least(k_a, k_b) - 1))), 6) + 0.0
           END AS cramers_v,
           round(mi, 6) + 0.0 AS mutual_info
         FROM z_$i"""
        }.mkString("\nUNION ALL\n")
        s"""WITH base AS (SELECT lang, source, floor(n_chars / 500)::BIGINT
                  AS len_bucket FROM documents),
         $ctes
         $selects
         ORDER BY col_a, col_b"""
      }),

    // ---- correlation ratio eta (Association) -----------------------------
    // cat->num leakage scan: share of n_chars variance explained by lang
    // (the third leg beside Cramer's V for cat-cat and Pearson num-num)
    Case("q231_correlation_ratio", (s, dir) => {
      graft.profile.Association
        .correlationRatio(read(s, dir, "documents"), "lang", "n_chars")
        .select(cols("n", "k") ++ rounded(6)("eta2", "eta"): _*)
    },
      // correlation ratio from the same moment identity (SS via sums and
      // sums of squares; integer-valued doubles sum exactly below 2^52)
      """WITH g AS (SELECT lang, count(*)::BIGINT AS ng,
                      sum(n_chars::DOUBLE) AS sg,
                      sum(n_chars::DOUBLE * n_chars::DOUBLE) AS qg
                    FROM documents
                    WHERE lang IS NOT NULL AND n_chars IS NOT NULL
                    GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT AS n, count(*)::BIGINT AS k,
                 sum(sg) AS s, sum(qg) AS q,
                 sum(sg * sg / ng) AS b
               FROM g),
         e AS (SELECT n, k,
                 CASE WHEN (q - s * s / n) > 0 THEN
                   least(greatest((b - s * s / n) / (q - s * s / n), 0.0), 1.0)
                 END AS eta2
               FROM t)
         SELECT n, k, round(eta2, 6) + 0.0 AS eta2,
           round(sqrt(eta2), 6) + 0.0 AS eta
         FROM e"""),

    // ---- Spearman rank correlation (Association) -------------------------
    // monotone association on the raw columns; average ranks come from
    // the shared per-distinct-value cumsum, never a global sort window
    Case("q232_spearman", (s, dir) => {
      graft.profile.Association
        .spearmanCorrelation(read(s, dir, "lineitem"),
          "l_quantity", "l_extendedprice")
        .select(cols("n") ++ rounded(6)("rho"): _*)
    },
      // Spearman = Pearson over average ranks; ranks from per-distinct-value
      // counts + exclusive cumsum, exactly the Spark construction
      """WITH p AS (SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
                    FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         cx AS (SELECT x, count(*)::BIGINT AS cnt FROM p GROUP BY 1),
         wx AS (SELECT x, coalesce(sum(cnt) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + (cnt + 1) / 2.0 AS rx FROM cx),
         cy AS (SELECT y, count(*)::BIGINT AS cnt FROM p GROUP BY 1),
         wy AS (SELECT y, coalesce(sum(cnt) OVER (ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + (cnt + 1) / 2.0 AS ry FROM cy)
         SELECT count(*)::BIGINT AS n, round(corr(rx, ry), 6) + 0.0 AS rho
         FROM p JOIN wx USING (x) JOIN wy USING (y)"""),

    // ---- Theil's uncertainty coefficient lang<->source (Association) ------
    // the ASYMMETRIC association: how much of lang does source explain,
    // and vice versa — directions differ, unlike q223's Cramer's V
    Case("q250_uncertainty", (s, dir) => {
      graft.profile.Association
        .uncertaintyCoefficient(read(s, dir, "documents"), "lang", "source")
        .select(cols("n") ++
          rounded(6)("h_a", "h_b", "mi", "u_a_given_b", "u_b_given_a"): _*)
    },
      // entropies over observed cells only (each margin's mass splits across
      // its cells); U = MI / H per direction
      """WITH cells AS (SELECT lang::VARCHAR va, source::VARCHAR vb,
                  count(*)::DOUBLE o
                FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         ma AS (SELECT va, sum(o) ca FROM cells GROUP BY 1),
         mb AS (SELECT vb, sum(o) cb FROM cells GROUP BY 1),
         t AS (SELECT sum(o) n FROM cells),
         j AS (SELECT o, ca, cb, n FROM cells
               JOIN ma USING (va) JOIN mb USING (vb) CROSS JOIN t)
         SELECT max(n)::BIGINT AS n,
           round(sum(-o / n * ln(ca / n)), 6) + 0.0 AS h_a,
           round(sum(-o / n * ln(cb / n)), 6) + 0.0 AS h_b,
           round(sum(o / n * ln(o * n / (ca * cb))), 6) + 0.0 AS mi,
           (CASE WHEN sum(-o / n * ln(ca / n)) > 0 THEN
             round(sum(o / n * ln(o * n / (ca * cb)))
               / sum(-o / n * ln(ca / n)), 6) END) + 0.0 AS u_a_given_b,
           (CASE WHEN sum(-o / n * ln(cb / n)) > 0 THEN
             round(sum(o / n * ln(o * n / (ca * cb)))
               / sum(-o / n * ln(cb / n)), 6) END) + 0.0 AS u_b_given_a
         FROM j"""),

    // ---- Cohen's kappa: stored lang vs heuristic lang-id (Association) ----
    // chance-corrected agreement between the corpus label and the q27
    // stopword-share predictor — the labeler-audit primitive; both engines
    // replay the identical argmax (ties break to the max language code)
    Case("q251_kappa", (s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), TextFunctions.langId(col("text")).as("pred"))
      graft.profile.Association.cohenKappa(docs, "lang", "pred")
        .select(cols("n") ++ rounded(6)("po", "pe", "kappa"): _*)
    },
      // q27's stopword-share language argmax replayed (ties break to the
      // lexicographically largest code), then the kappa contingency algebra
      {
        val langs = TextFunctions.stopwords.toSeq.sortBy(_._1)
        val scoreCols = langs.map { case (lang, words) =>
          s"len(list_intersect(toks, ${sqlList(words)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_$lang"
        }.mkString(",\n             ")
        val gs = "greatest(s_de, s_en, s_es, s_fr)"
        s"""WITH t AS (
           SELECT lang, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> len(x) > 0) AS toks
           FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
         sc AS (SELECT lang, $scoreCols FROM t),
         pred AS (SELECT lang AS va,
             CASE WHEN $gs = 0 THEN 'und'
                  WHEN s_fr = $gs THEN 'fr'
                  WHEN s_es = $gs THEN 'es'
                  WHEN s_en = $gs THEN 'en'
                  ELSE 'de' END AS vb
           FROM sc),
         cells AS (SELECT va, vb, count(*)::DOUBLE o FROM pred GROUP BY 1, 2),
         ma AS (SELECT va, sum(o) ca FROM cells GROUP BY 1),
         mb AS (SELECT vb, sum(o) cb FROM cells GROUP BY 1),
         ex AS (SELECT sum(ca * cb) pn FROM ma JOIN mb ON va = vb),
         ag AS (SELECT sum(o) n,
                  sum(CASE WHEN va = vb THEN o ELSE 0 END) agree FROM cells)
         SELECT ag.n::BIGINT AS n,
           round(ag.agree / ag.n, 6) + 0.0 AS po,
           round(coalesce(ex.pn, 0) / (ag.n * ag.n), 6) + 0.0 AS pe,
           (CASE WHEN coalesce(ex.pn, 0) / (ag.n * ag.n) < 1 THEN
             round((ag.agree / ag.n - coalesce(ex.pn, 0) / (ag.n * ag.n))
               / (1.0 - coalesce(ex.pn, 0) / (ag.n * ag.n)), 6) END)
             + 0.0 AS kappa
         FROM ag, ex"""
      }),

    // ---- McNemar's paired test: stored lang vs lang-id on 'en' (Assoc) ----
    // do the two 'is English' labelers disagree symmetrically? only the
    // discordant pairs carry signal
    Case("q260_mcnemar", (s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select((col("lang") === "en").as("a"),
          (TextFunctions.langId(col("text")) === "en").as("b"))
      graft.profile.Association.mcnemar(docs, "a", "b")
        .select(cols("n", "n10", "n01") ++ rounded(6)("chi2", "chi2_cc"): _*)
    },
      // the q27 lang-id argmax replayed; discordant-pair chi2 with and
      // without the Edwards continuity correction
      {
        val langs = TextFunctions.stopwords.toSeq.sortBy(_._1)
        val scoreCols = langs.map { case (lang, words) =>
          s"len(list_intersect(toks, ${sqlList(words)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_$lang"
        }.mkString(",\n             ")
        val gs = "greatest(s_de, s_en, s_es, s_fr)"
        s"""WITH t AS (
           SELECT lang, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> len(x) > 0) AS toks
           FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
         sc AS (SELECT lang, $scoreCols FROM t),
         pred AS (SELECT (lang = 'en') a,
             ((CASE WHEN $gs = 0 THEN 'und'
                  WHEN s_fr = $gs THEN 'fr'
                  WHEN s_es = $gs THEN 'es'
                  WHEN s_en = $gs THEN 'en'
                  ELSE 'de' END) = 'en') b
           FROM sc),
         c AS (SELECT count(*)::BIGINT n,
                 sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT n10,
                 sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT n01
               FROM pred)
         SELECT n, n10, n01,
           (CASE WHEN n10 + n01 > 0 THEN
             round(pow(n01 - n10, 2) / (n01 + n10), 6) END) + 0.0 AS chi2,
           (CASE WHEN n10 + n01 > 0 THEN
             round(pow(greatest(abs(n01 - n10) - 1, 0), 2)
               / (n01 + n10), 6) END) + 0.0 AS chi2_cc
         FROM c"""
      }),

    // ---- Kendall tau-b on quantity vs price bucket (Association) ----------
    // pair counting via the densified distinct-cell grid + two chained
    // PARTITIONED prefix sums — C/D/tie masses are integer-exact, only
    // tau/z round
    Case("q278_kendall_tau", (s, dir) => {
      val li = read(s, dir, "lineitem").select(col("l_quantity").as("x"),
        floor(col("l_extendedprice") / 5000).as("y"))
      graft.profile.Association.kendallTau(li, "x", "y")
        .select(
          cols("n", "n_cells", "concordant", "discordant", "ties_x", "ties_y") ++
          rounded(6)("tau_b", "z"): _*)
    },
      // same densified-grid dominance counting: two chained partitioned
      // prefix sums over the observed-x x observed-y grid, scipy's
      // tie-corrected variance for z
      """WITH p AS (SELECT l_quantity::DOUBLE x,
                  floor(l_extendedprice / 5000)::DOUBLE y
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         sparse AS (SELECT x, y, count(*)::BIGINT n FROM p GROUP BY 1, 2),
         grid AS (SELECT xs.x, ys.y, coalesce(s.n, 0)::BIGINT n
                FROM (SELECT DISTINCT x FROM sparse) xs
                CROSS JOIN (SELECT DISTINCT y FROM sparse) ys
                LEFT JOIN sparse s ON s.x = xs.x AND s.y = ys.y),
         aa AS (SELECT x, y, n,
                  coalesce(sum(n) OVER (PARTITION BY y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE a
                FROM grid),
         bb AS (SELECT x, y, n, a,
                  coalesce(sum(a) OVER (PARTITION BY x ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) b,
                  sum(a) OVER (PARTITION BY x) atot
                FROM aa),
         core AS (SELECT sum(n)::BIGINT n,
                  sum(CASE WHEN n > 0 THEN 1 ELSE 0 END)::BIGINT n_cells,
                  sum(n::DOUBLE * b) c, sum(n::DOUBLE * (atot - a - b)) d
                FROM bb),
         tx AS (SELECT sum(t * (t - 1) / 2) pairs,
                  sum(t * (t - 1) * (2 * t + 5)) v,
                  sum(t * (t - 1)) t1, sum(t * (t - 1) * (t - 2)) t2
                FROM (SELECT count(*)::DOUBLE t FROM p GROUP BY x) g),
         ty AS (SELECT sum(t * (t - 1) / 2) pairs,
                  sum(t * (t - 1) * (2 * t + 5)) v,
                  sum(t * (t - 1)) t1, sum(t * (t - 1) * (t - 2)) t2
                FROM (SELECT count(*)::DOUBLE t FROM p GROUP BY y) g),
         f AS (SELECT core.n, core.n_cells, core.c, core.d, core.n::DOUBLE nd,
                 tx.pairs txp, tx.v txv, tx.t1 txt1, tx.t2 txt2,
                 ty.pairs typ, ty.v tyv, ty.t1 tyt1, ty.t2 tyt2
               FROM core, tx, ty)
         SELECT n, n_cells, c AS concordant, d AS discordant,
           txp AS ties_x, typ AS ties_y,
           round((c - d) / sqrt((nd * (nd - 1) / 2 - txp)
             * (nd * (nd - 1) / 2 - typ)), 6) + 0.0 AS tau_b,
           round((c - d) / sqrt((nd * (nd - 1) * (2 * nd + 5) - txv - tyv) / 18
             + txt1 * tyt1 / (2 * nd * (nd - 1))
             + txt2 * tyt2 / (9 * nd * (nd - 1) * (nd - 2))), 6) + 0.0 AS z
         FROM f"""),

    // ---- Somers' D: does quantity PREDICT the price bucket? ----------------
    // the asymmetric concordance (d_{Y|X} excludes predictor ties from the
    // denominator; = 2*AUC-1 for binary Y) over the q278 machinery
    Case("q363_somers_d", (s, dir) => {
      val li = read(s, dir, "lineitem").select(col("l_quantity").as("x"),
        floor(col("l_extendedprice") / 5000).as("y"))
      graft.profile.Association.somersD(li, "x", "y")
        .select(
          cols("n", "n_cells", "concordant", "discordant", "ties_x", "ties_y") ++
          rounded(6)("d_y_given_x", "d_x_given_y"): _*)
    },
      // the q278 grid CTEs with the Somers final ratios: predictor ties
      // leave the denominator per direction
      """WITH p AS (SELECT l_quantity::DOUBLE x,
                  floor(l_extendedprice / 5000)::DOUBLE y
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         sparse AS (SELECT x, y, count(*)::BIGINT n FROM p GROUP BY 1, 2),
         grid AS (SELECT xs.x, ys.y, coalesce(s.n, 0)::BIGINT n
                FROM (SELECT DISTINCT x FROM sparse) xs
                CROSS JOIN (SELECT DISTINCT y FROM sparse) ys
                LEFT JOIN sparse s ON s.x = xs.x AND s.y = ys.y),
         aa AS (SELECT x, y, n,
                  coalesce(sum(n) OVER (PARTITION BY y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE a
                FROM grid),
         bb AS (SELECT x, y, n, a,
                  coalesce(sum(a) OVER (PARTITION BY x ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) b,
                  sum(a) OVER (PARTITION BY x) atot
                FROM aa),
         core AS (SELECT sum(n)::BIGINT n,
                  sum(CASE WHEN n > 0 THEN 1 ELSE 0 END)::BIGINT n_cells,
                  sum(n::DOUBLE * b) c, sum(n::DOUBLE * (atot - a - b)) d
                FROM bb),
         tx AS (SELECT sum(t * (t - 1) / 2) pairs
                FROM (SELECT count(*)::DOUBLE t FROM p GROUP BY x) g),
         ty AS (SELECT sum(t * (t - 1) / 2) pairs
                FROM (SELECT count(*)::DOUBLE t FROM p GROUP BY y) g),
         f AS (SELECT core.n, core.n_cells, core.c, core.d,
                 core.n::DOUBLE nd, tx.pairs txp, ty.pairs typ
               FROM core, tx, ty)
         SELECT n, n_cells, c AS concordant, d AS discordant,
           txp AS ties_x, typ AS ties_y,
           round((c - d) / (nd * (nd - 1) / 2 - txp), 6) + 0.0
             AS d_y_given_x,
           round((c - d) / (nd * (nd - 1) / 2 - typ), 6) + 0.0
             AS d_x_given_y
         FROM f"""),

    // ---- Fisher exact test: German docs vs long docs (Association) --------
    // exact hypergeometric tails over the margin-bounded support, log-space
    // binomials via the lgamma kernel
    Case("q283_fisher_exact", (s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "de").as("a"), (col("n_chars") > 900).as("b"))
      graft.profile.Association.fisherExact(docs, "a", "b")
        .select(cols("a11", "a10", "a01", "a00") ++
          rounded(6)("odds_ratio", "p_two_sided", "p_greater", "p_less"): _*)
    },
      // same hypergeometric enumeration with DuckDB's lgamma; the 1e-7
      // relative slack keeps mirror-table inclusion engine-stable
      """WITH c AS (SELECT
           sum(CASE WHEN lang = 'de' AND n_chars > 900 THEN 1 ELSE 0 END)::BIGINT a11,
           sum(CASE WHEN lang = 'de' AND n_chars <= 900 THEN 1 ELSE 0 END)::BIGINT a10,
           sum(CASE WHEN lang <> 'de' AND n_chars > 900 THEN 1 ELSE 0 END)::BIGINT a01,
           sum(CASE WHEN lang <> 'de' AND n_chars <= 900 THEN 1 ELSE 0 END)::BIGINT a00
         FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         m AS (SELECT *, a11 + a10 r1, a01 + a00 r2, a11 + a01 c1,
                 a11 + a10 + a01 + a00 n
               FROM c),
         obs AS (SELECT *,
                 lgamma(r1 + 1.0) - lgamma(a11 + 1.0) - lgamma(r1 - a11 + 1.0)
                 + lgamma(r2 + 1.0) - lgamma(c1 - a11 + 1.0)
                   - lgamma(r2 - c1 + a11 + 1.0)
                 - (lgamma(n + 1.0) - lgamma(c1 + 1.0)
                   - lgamma(n - c1 + 1.0)) lpobs
               FROM m),
         ks AS (SELECT obs.*,
                 unnest(range(greatest(0, c1 - r2), least(r1, c1) + 1)) k
               FROM obs),
         lp AS (SELECT *,
                 lgamma(r1 + 1.0) - lgamma(k + 1.0) - lgamma(r1 - k + 1.0)
                 + lgamma(r2 + 1.0) - lgamma(c1 - k + 1.0)
                   - lgamma(r2 - c1 + k + 1.0)
                 - (lgamma(n + 1.0) - lgamma(c1 + 1.0)
                   - lgamma(n - c1 + 1.0)) l
               FROM ks),
         t AS (SELECT any_value(a11) a11, any_value(a10) a10,
                 any_value(a01) a01, any_value(a00) a00,
                 least(1.0, sum(CASE WHEN l <= lpobs + 1e-7
                   THEN exp(l) ELSE 0 END)) p2,
                 least(1.0, sum(CASE WHEN k >= a11
                   THEN exp(l) ELSE 0 END)) pg,
                 least(1.0, sum(CASE WHEN k <= a11
                   THEN exp(l) ELSE 0 END)) pl
               FROM lp)
         SELECT a11, a10, a01, a00,
           CASE WHEN a10 > 0 AND a01 > 0 THEN
             round(a11::DOUBLE * a00 / (a10::DOUBLE * a01), 6) + 0.0
           END AS odds_ratio,
           round(p2, 6) + 0.0 AS p_two_sided,
           round(pg, 6) + 0.0 AS p_greater,
           round(pl, 6) + 0.0 AS p_less
         FROM t"""),

    // ---- Cochran-Armitage trend: error rate across day quarters -----------
    // one linear-trend degree of freedom over the ordered 6-hour bins
    Case("q292_cochran_armitage", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select((hour(col("ts")) / 6).cast("int").cast("double").as("w"),
          (col("event_type") === "error").as("s"))
      graft.profile.Association.cochranArmitage(ev, "w", "s")
        .select(cols("n", "k_groups") ++
          rounded(6)("slope_num", "z", "chi2_trend"): _*)
    },
      // k-bounded count table -> the exact one-degree trend algebra
      """WITH b AS (SELECT (hour(ts) // 6)::DOUBLE w, event_type = 'error' s
                FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         g AS (SELECT w, count(*)::BIGINT ni,
                 sum(CASE WHEN s THEN 1 ELSE 0 END)::BIGINT ki
               FROM b GROUP BY 1),
         a AS (SELECT sum(ni)::BIGINT n, count(*)::BIGINT kg,
                 sum(ki)::DOUBLE kk, sum(ki * w) skw, sum(ni * w) snw,
                 sum(ni * w * w) snw2
               FROM g),
         f AS (SELECT n, kg, kk / n pbar, skw, snw, snw2, n::DOUBLE nd
               FROM a)
         SELECT n, kg AS k_groups,
           round(skw - pbar * snw, 6) + 0.0 AS slope_num,
           CASE WHEN pbar * (1 - pbar) * (snw2 - snw * snw / nd) > 0 THEN
             round((skw - pbar * snw) / sqrt(pbar * (1 - pbar)
               * (snw2 - snw * snw / nd)), 6) + 0.0 END AS z,
           CASE WHEN pbar * (1 - pbar) * (snw2 - snw * snw / nd) > 0 THEN
             round(pow(skw - pbar * snw, 2) / (pbar * (1 - pbar)
               * (snw2 - snw * snw / nd)), 6) + 0.0 END AS chi2_trend
         FROM f"""),

    // ---- Cochran's Q: per-user high-value success across types (Assoc) ----
    // matched binary design: every user rated by all five event types,
    // success = any value > 50 event in the cell
    Case("q308_cochran_q", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_type"),
          (col("value") > 50.0).cast("int").as("succ"))
      graft.profile.Association.cochranQ(ev, "user_id", "event_type", "succ")
        .select(cols("n_items", "k") ++ rounded(6)("q") ++ cols("df") ++
          rounded(6)("p_value"): _*)
    },
      // complete-block filter on the (user, type) cell table; the Q
      // identity over row/column totals; df = 4 closed-form survival
      """WITH cells AS (SELECT user_id i, event_type j,
                  max(CASE WHEN value > 50 THEN 1 ELSE 0 END) x
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                  AND value IS NOT NULL
                GROUP BY 1, 2),
         kk AS (SELECT count(DISTINCT j)::BIGINT k FROM cells),
         rowt AS (SELECT i, count(*)::BIGINT cnt, sum(x)::DOUBLE ri
                FROM cells GROUP BY 1),
         comp AS (SELECT i, ri FROM rowt, kk WHERE cnt = k),
         ra AS (SELECT count(*)::BIGINT n_items, sum(ri) st,
                 sum(ri * ri) sr2 FROM comp),
         colt AS (SELECT c.j, sum(c.x)::DOUBLE tj FROM cells c
                JOIN comp ON comp.i = c.i GROUP BY 1),
         ca AS (SELECT sum(tj * tj) stj2 FROM colt),
         qq AS (SELECT n_items, k,
                 (k - 1) * (k * stj2 - st * st) / (k * st - sr2) q
               FROM ra, ca, kk)
         SELECT n_items, k, round(q, 6) + 0.0 AS q, k - 1 AS df,
           round(exp(-q / 2) * (1 + q / 2), 6) + 0.0 AS p_value
         FROM qq"""),

    // ---- G-test of independence: lang x source (Association) --------------
    // the likelihood-ratio companion of q228's chi2; df = 76 (even)
    Case("q324_g_test", (s, dir) => {
      graft.profile.Association.gTest(read(s, dir, "documents"),
          "lang", "source")
        .select(cols("n", "k_a", "k_b") ++ rounded(6)("g") ++ cols("df") ++
          rounded(6)("p_value"): _*)
    },
      // observed-cell likelihood-ratio sum; df = 76 survival as the
      // 38-term lgamma series (same even-df closed form, different but
      // equally exact arithmetic)
      """WITH cells AS (SELECT lang va, source vb, count(*)::DOUBLE o
                FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL
                GROUP BY 1, 2),
         ma AS (SELECT va, sum(o) ca FROM cells GROUP BY 1),
         mb AS (SELECT vb, sum(o) cb FROM cells GROUP BY 1),
         t AS (SELECT sum(o) n, count(DISTINCT va)::BIGINT ka,
                 count(DISTINCT vb)::BIGINT kb FROM cells),
         gx AS (SELECT 2 * sum(o * ln(o * n / (ca * cb))) g
               FROM cells JOIN ma USING (va) JOIN mb USING (vb), t),
         pp AS (SELECT g, (SELECT sum(exp(-g / 2 + j * ln(g / 2)
                   - lgamma(j + 1.0)))
                 FROM unnest(range(0, 38)) u(j)) p
               FROM gx)
         SELECT n::BIGINT AS n, ka AS k_a, kb AS k_b,
           round(g, 6) + 0.0 AS g, 76 AS df,
           round(least(p, 1.0), 6) + 0.0 AS p_value
         FROM pp, t"""),

    // ---- Cronbach's alpha over per-user event-type counts (Association) ---
    // are the five activity counters one "activity" construct?
    Case("q325_cronbach", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map(t => sum(when(col("event_type") === t, 1)
        .otherwise(0)).cast("double").as(s"n_$t"))
      val wide = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(aggs.head, aggs.tail: _*)
      graft.profile.Association.cronbachAlpha(wide, types.map(t => s"n_$t"))
        .select(cols("n", "k") ++
          rounded(6)("sum_item_var", "total_var", "alpha"): _*)
    },
      // the same per-user conditional counts and moment-sum variances
      """WITH u AS (SELECT user_id,
                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END)::DOUBLE x0,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                    END)::DOUBLE x1,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END)::DOUBLE x2,
                  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                    END)::DOUBLE x3,
                  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                    END)::DOUBLE x4
                FROM events WHERE user_id IS NOT NULL GROUP BY 1),
         m AS (SELECT count(*)::BIGINT n,
                 sum(x0) s0, sum(x0 * x0) q0, sum(x1) s1, sum(x1 * x1) q1,
                 sum(x2) s2, sum(x2 * x2) q2, sum(x3) s3, sum(x3 * x3) q3,
                 sum(x4) s4, sum(x4 * x4) q4,
                 sum(x0 + x1 + x2 + x3 + x4) st,
                 sum(pow(x0 + x1 + x2 + x3 + x4, 2)) qt
               FROM u),
         v AS (SELECT n,
                 ((q0 - s0 * s0 / n) + (q1 - s1 * s1 / n) + (q2 - s2 * s2 / n)
                   + (q3 - s3 * s3 / n) + (q4 - s4 * s4 / n)) / (n - 1) sv,
                 (qt - st * st / n) / (n - 1) vt
               FROM m)
         SELECT n, 5 AS k, round(sv, 6) + 0.0 AS sum_item_var,
           round(vt, 6) + 0.0 AS total_var,
           CASE WHEN vt > 0
             THEN round(5.0 / 4 * (1 - sv / vt), 6) + 0.0 END AS alpha
         FROM v"""),

    // ---- weighted kappa: quantized view-vs-click value ratings (Assoc) ----
    // ordinal 0..4 ratings per user from two event types; quadratic
    // penalties over the k-level index
    Case("q337_weighted_kappa", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("value").isNotNull && col("user_id").isNotNull)
      def rating(t: String, out: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id"))
        .agg(least(floor(avg(col("value")) / 25), lit(4.0)).as(out))
      val paired = rating("view", "ra").join(rating("click", "rb"), Seq("user_id"))
      graft.profile.Association.weightedKappa(paired, "ra", "rb")
        .select(cols("n", "k") ++
          rounded(6)("obs_penalty", "exp_penalty", "kappa_w"): _*)
    },
      // the same quantized ratings; ordinal index via row_number over the
      // distinct levels; quadratic penalties on observed and expected
      """WITH ra AS (SELECT user_id u, least(floor(avg(value) / 25), 4) r
                FROM events WHERE event_type = 'view' AND value IS NOT NULL
                  AND user_id IS NOT NULL GROUP BY 1),
         rb AS (SELECT user_id u, least(floor(avg(value) / 25), 4) r
                FROM events WHERE event_type = 'click' AND value IS NOT NULL
                  AND user_id IS NOT NULL GROUP BY 1),
         p AS (SELECT ra.r va, rb.r vb FROM ra JOIN rb ON ra.u = rb.u),
         lv AS (SELECT DISTINCT v FROM
                (SELECT va v FROM p UNION ALL SELECT vb FROM p)),
         ix AS (SELECT v, row_number() OVER (ORDER BY v) - 1 i FROM lv),
         kx AS (SELECT count(*)::BIGINT k FROM lv),
         cells AS (SELECT ia.i ia, ib.i ib, count(*)::DOUBLE o FROM p
               JOIN ix ia ON ia.v = p.va JOIN ix ib ON ib.v = p.vb
               GROUP BY 1, 2),
         mm AS (SELECT sum(o) n FROM cells),
         ob AS (SELECT sum(o * pow(abs(ia - ib)::DOUBLE / (k - 1), 2)) od
               FROM cells, kx),
         ma AS (SELECT ia, sum(o) ra FROM cells GROUP BY 1),
         mb AS (SELECT ib, sum(o) cb FROM cells GROUP BY 1),
         ex AS (SELECT sum(ra * cb * pow(abs(ia - ib)::DOUBLE / (k - 1), 2))
                   / (SELECT n FROM mm) ed
               FROM ma, mb, kx)
         SELECT n::BIGINT AS n, k, round(od / n, 6) + 0.0 AS obs_penalty,
           round(ed / n, 6) + 0.0 AS exp_penalty,
           CASE WHEN ed > 0
             THEN round(1 - od / ed, 6) + 0.0 END AS kappa_w
         FROM ob, ex, mm, kx"""),

    // ---- numeric MI: doc chars vs token count (Association) ---------------
    // rank-exact decile bins on both axes; plug-in MI + NMI
    Case("q342_numeric_mi", (s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("n_chars").isNotNull && col("text").isNotNull)
        .withColumn("tok", TextFunctions.tokenCount(col("text")).cast("double"))
      graft.profile.Association.numericMutualInfo(docs, "n_chars", "tok")
        .select(cols("n", "bins_a", "bins_b") ++ rounded(6)("mi_nats", "nmi"): _*)
    },
      // the q326 rank-exact cutpoints on BOTH axes; the same plug-in MI
      """WITH b AS (SELECT n_chars::DOUBLE va,
                  len(list_filter(regexp_split_to_array(trim(lower(text)),
                    '\s+'), x -> len(x) > 0))::DOUBLE vb
                FROM documents
                WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         nn0 AS (SELECT count(*)::BIGINT n FROM b),
         dca AS (SELECT va v, count(*)::BIGINT c FROM b GROUP BY 1),
         cma AS (SELECT v, sum(c) OVER (ORDER BY v) hi FROM dca),
         rk AS (SELECT DISTINCT ((j * n + 9) // 10) r
               FROM unnest(range(1, 10)) u(j), nn0),
         cta AS (SELECT DISTINCT min(v) cut FROM cma, rk WHERE hi >= r
               GROUP BY r),
         dcb AS (SELECT vb v, count(*)::BIGINT c FROM b GROUP BY 1),
         cmb AS (SELECT v, sum(c) OVER (ORDER BY v) hi FROM dcb),
         ctb AS (SELECT DISTINCT min(v) cut FROM cmb, rk WHERE hi >= r
               GROUP BY r),
         bbn AS (SELECT (SELECT count(*) FROM cta WHERE b.va > cut) ba,
                 (SELECT count(*) FROM ctb WHERE b.vb > cut) bb2 FROM b),
         cells AS (SELECT ba, bb2, count(*)::DOUBLE o FROM bbn GROUP BY 1, 2),
         ma AS (SELECT ba, sum(o) ra FROM cells GROUP BY 1),
         mb AS (SELECT bb2, sum(o) cb2 FROM cells GROUP BY 1),
         t AS (SELECT sum(o) tn, count(DISTINCT ba)::BIGINT ka,
                 count(DISTINCT bb2)::BIGINT kb FROM cells),
         mi AS (SELECT sum(o / tn * ln(o * tn / (ra * cb2))) m
               FROM cells JOIN ma USING (ba) JOIN mb USING (bb2), t),
         ha AS (SELECT -sum(ra / tn * ln(ra / tn)) h FROM ma, t),
         hb AS (SELECT -sum(cb2 / tn * ln(cb2 / tn)) h FROM mb, t)
         SELECT tn::BIGINT AS n, ka AS bins_a, kb AS bins_b,
           round(m, 6) + 0.0 AS mi_nats,
           CASE WHEN ha.h > 0 AND hb.h > 0
             THEN round(m / sqrt(ha.h * hb.h), 6) + 0.0 END AS nmi
         FROM mi, ha, hb, t"""),

    // ---- Fleiss' kappa: per-user agreement over event types (Association) -
    // multi-rater agreement treating each user as an item and each of
    // their events as one rating; items with < 2 ratings drop
    Case("q306_fleiss_kappa", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      graft.profile.Association.fleissKappa(ev, "user_id", "event_type")
        .select(cols("n_items", "n_ratings", "k_categories") ++
          rounded(6)("p_bar", "p_e", "kappa"): _*)
    },
      // (user, event_type) contingency cells; items with >= 2 ratings;
      // the unequal-n Fleiss generalization
      """WITH cells AS (SELECT user_id i, event_type j, count(*)::DOUBLE nij
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                GROUP BY 1, 2),
         pi AS (SELECT i, sum(nij) ni, sum(nij * nij) sq FROM cells
                GROUP BY 1 HAVING sum(nij) >= 2),
         ia AS (SELECT count(*)::BIGINT n_items, sum(ni)::BIGINT n_ratings,
                 avg((sq - ni) / (ni * (ni - 1))) p_bar
               FROM pi),
         kept AS (SELECT c.j, c.nij FROM cells c JOIN pi ON pi.i = c.i),
         bc AS (SELECT j, sum(nij) cj FROM kept GROUP BY 1),
         pe AS (SELECT count(*)::BIGINT k_categories,
                 sum(pow(cj / (SELECT sum(cj) FROM bc), 2)) p_e
               FROM bc)
         SELECT n_items, n_ratings, k_categories,
           round(p_bar, 6) + 0.0 AS p_bar, round(p_e, 6) + 0.0 AS p_e,
           CASE WHEN p_e < 1
             THEN round((p_bar - p_e) / (1 - p_e), 6) + 0.0 END AS kappa
         FROM ia, pe"""),

    // ---- Friedman test: event-type preference across users (Association) --
    // k=5 related treatments (event types) blocked by user; within-user
    // ranks cancel per-user activity scale
    Case("q295_friedman", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      graft.profile.Association.friedmanTest(ev, "user_id", "event_type", "cnt")
        .select(cols("n_blocks", "k") ++ rounded(6)("chi2") ++ cols("dof"): _*)
    },
      // within-block average ranks via RANGE-frame peer counts; the
      // tie-general chi2 with A - C in the denominator
      """WITH cell AS (SELECT user_id b, event_type t, count(*)::DOUBLE v
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                GROUP BY 1, 2),
         kt AS (SELECT count(DISTINCT t) kk FROM cell),
         comp AS (SELECT b FROM cell GROUP BY b
                HAVING count(*) = (SELECT kk FROM kt)),
         cells AS (SELECT cell.* FROM cell JOIN comp USING (b)),
         rk AS (SELECT b, t,
                 (2 * (count(*) OVER (PARTITION BY b ORDER BY v
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - count(*) OVER (PARTITION BY b, v))
                  + count(*) OVER (PARTITION BY b, v) + 1) / 2.0 r
               FROM cells),
         rs AS (SELECT t, sum(r) rj, sum(r * r) r2 FROM rk GROUP BY 1),
         f AS (SELECT count(*)::BIGINT kk, sum(rj * rj) rj2, sum(r2) a2
               FROM rs),
         nb AS (SELECT count(*)::BIGINT nbl FROM comp)
         SELECT nbl AS n_blocks, kk::INT AS k,
           CASE WHEN a2 - nbl::DOUBLE * kk * (kk + 1) * (kk + 1) / 4 > 0 THEN
             round((kk - 1) * (rj2 - nbl::DOUBLE * nbl * kk * (kk + 1)
                 * (kk + 1) / 4)
               / (a2 - nbl::DOUBLE * kk * (kk + 1) * (kk + 1) / 4), 6) + 0.0
           END AS chi2,
           (kk - 1)::INT AS dof
         FROM f, nb"""),

    // ---- partial correlation: price vs line count given quantity ----------
    // does order value track line count once total quantity is held fixed?
    Case("q296_partial_corr", (s, dir) => {
      val li = read(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).cast("double").as("n_lines"),
          sum(col("l_quantity")).as("sum_qty"))
      val ord = read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val base = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      graft.profile.Association.partialCorrelation(
          base, "o_totalprice", "n_lines", "sum_qty")
        .select(cols("n") ++ rounded(6)("r_xy", "r_xz", "r_yz", "r_xy_given_z"): _*)
    },
      // three Pearson marginals from one pass -> the first-order identity
      """WITH li AS (SELECT l_orderkey, count(*)::DOUBLE nl,
                  sum(l_quantity) sq
                FROM lineitem GROUP BY 1),
         b AS (SELECT o_totalprice x, nl y, sq z
               FROM orders JOIN li ON o_orderkey = l_orderkey
               WHERE o_totalprice IS NOT NULL),
         c AS (SELECT count(*)::BIGINT n, corr(x, y) rxy, corr(x, z) rxz,
                 corr(y, z) ryz
               FROM b)
         SELECT n, round(rxy, 6) + 0.0 AS r_xy, round(rxz, 6) + 0.0 AS r_xz,
           round(ryz, 6) + 0.0 AS r_yz,
           CASE WHEN rxy IS NOT NULL AND rxz IS NOT NULL AND ryz IS NOT NULL
               AND (1 - rxz * rxz) * (1 - ryz * ryz) > 0 THEN
             round((rxy - rxz * ryz)
               / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6) + 0.0
           END AS r_xy_given_z
         FROM c"""),

    // ---- Cochran-Mantel-Haenszel stratified association (Association) -----
    // is the even-user vs odd-user error-rate gap consistent across
    // weekdays? pooled 2x2 per-stratum test + Mantel-Haenszel odds ratio
    Case("q273_cmh", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .select(dayofweek(to_date(col("ts"))).as("dow"),
          (col("user_id") % 2 === 0).as("even_user"),
          (col("event_type") === "error").as("is_err"))
      graft.profile.Association.cmhTest(ev, "dow", "even_user", "is_err")
        .select(cols("n_strata", "n", "sum_a") ++
          rounded(6)("sum_e_a", "chi2_cmh", "or_mh"): _*)
    },
      // per-weekday 2x2 tables -> hypergeometric mean/variance, pooled with
      // the 0.5 continuity correction; MH odds ratio alongside
      """WITH b AS (SELECT dayofweek(ts::DATE) s,
                  (user_id % 2 = 0) e, (event_type = 'error') o
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                  AND event_type IS NOT NULL),
         st AS (SELECT s,
                  sum(CASE WHEN e AND o THEN 1 ELSE 0 END)::BIGINT a,
                  sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)::BIGINT bb,
                  sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)::BIGINT c,
                  sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)::BIGINT d
                FROM b GROUP BY 1),
         sn AS (SELECT *, a + bb + c + d AS n FROM st WHERE a+bb+c+d > 1),
         agg AS (SELECT count(*)::BIGINT n_strata, sum(n)::BIGINT n,
             sum(a)::BIGINT sum_a,
             sum((a + bb)::DOUBLE * (a + c) / n) sum_e,
             sum((a + bb)::DOUBLE * (c + d) / n * (a + c) / n * (bb + d)
               / (n - 1)) v,
             sum(a::DOUBLE * d / n) orn, sum(bb::DOUBLE * c / n) ord
           FROM sn)
         SELECT n_strata, n, sum_a, round(sum_e, 6) + 0.0 AS sum_e_a,
           (CASE WHEN v > 0 THEN
             round(pow(greatest(abs(sum_a - sum_e) - 0.5, 0.0), 2) / v, 6)
            END) + 0.0 AS chi2_cmh,
           (CASE WHEN ord > 0 THEN round(orn / ord, 6) END) + 0.0 AS or_mh
         FROM agg"""),

    // ---- Breslow-Day homogeneity of the q273 odds ratios -------------------
    // CMH's required companion: is the even/odd error-rate odds ratio the
    // SAME on every weekday? quadratic expected cells under the pooled OR,
    // per-stratum contributions quantized to 9-dp longs before the sum
    Case("q365_breslow_day", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .select(dayofweek(to_date(col("ts"))).as("dow"),
          (col("user_id") % 2 === 0).as("even_user"),
          (col("event_type") === "error").as("is_err"))
      graft.profile.Association.breslowDay(ev, "dow", "even_user", "is_err")
        .select(cols("n_strata", "n") ++ rounded(6)("or_mh", "bd_chi2") ++
          cols("df") ++ rounded(6)("p_value"): _*)
    },
      // the q273 strata; MH odds ratio from 12-dp-quantized long sums, the
      // STRICTLY-in-bounds quadratic root per stratum (boundary strata —
      // no in-bounds root — are excluded from both the BD sum and the df
      // count, mirroring breslowDay's K_eff rule), 9-dp-quantized BD
      // contributions; the even-df closed-form survival is specialized to
      // the keff = 7 this data yields (all 7 dow strata contribute)
      """WITH b AS (SELECT dayofweek(ts::DATE) s,
                  (user_id % 2 = 0) e, (event_type = 'error') o
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                  AND event_type IS NOT NULL),
         st AS (SELECT s,
                  sum(CASE WHEN e AND o THEN 1 ELSE 0 END)::BIGINT a,
                  sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)::BIGINT bb,
                  sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)::BIGINT c,
                  sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)::BIGINT d
                FROM b GROUP BY 1),
         sn AS (SELECT *, a + bb + c + d AS n FROM st WHERE a+bb+c+d > 1),
         ps AS (SELECT count(*)::BIGINT k, sum(n)::BIGINT nt,
                 sum(round(a::DOUBLE * d / n * 1e12)::BIGINT)::BIGINT orn,
                 sum(round(bb::DOUBLE * c / n * 1e12)::BIGINT)::BIGINT ord
               FROM sn),
         pp AS (SELECT k, nt, orn::DOUBLE / ord AS psi FROM ps),
         term AS (SELECT sn.a, sn.n, pp.psi,
                 (sn.a + sn.bb)::DOUBLE r1, (sn.a + sn.c)::DOUBLE c1,
                 sn.n::DOUBLE nd
               FROM sn, pp),
         t1 AS (SELECT *, psi * (r1 + c1) + (nd - r1 - c1) AS bq FROM term),
         t2 AS (SELECT *, sqrt(greatest(bq * bq
                 - 4.0 * (psi - 1.0) * psi * r1 * c1, 0.0)) AS disc
               FROM t1),
         t3 AS (SELECT *, CASE WHEN psi = 1.0 THEN
                   (CASE WHEN r1 * c1 / nd > greatest(0.0, r1 + c1 - nd)
                      AND r1 * c1 / nd < least(r1, c1)
                    THEN r1 * c1 / nd END)
                 WHEN (bq - disc) / (2.0 * (psi - 1.0))
                     > greatest(0.0, r1 + c1 - nd)
                   AND (bq - disc) / (2.0 * (psi - 1.0)) < least(r1, c1)
                 THEN (bq - disc) / (2.0 * (psi - 1.0))
                 WHEN (bq + disc) / (2.0 * (psi - 1.0))
                     > greatest(0.0, r1 + c1 - nd)
                   AND (bq + disc) / (2.0 * (psi - 1.0)) < least(r1, c1)
                 THEN (bq + disc) / (2.0 * (psi - 1.0)) END AS t
               FROM t2),
         t4 AS (SELECT CASE WHEN t IS NOT NULL AND t > 0 AND r1 - t > 0
                  AND c1 - t > 0 AND nd - r1 - c1 + t > 0
                 THEN round((a - t) * (a - t)
                   / (1.0 / (1.0 / t + 1.0 / (r1 - t) + 1.0 / (c1 - t)
                     + 1.0 / (nd - r1 - c1 + t))) * 1e9)::BIGINT
                 ELSE NULL END AS bdq
               FROM t3),
         f AS (SELECT pp.k, pp.nt, pp.psi,
                 (SELECT coalesce(sum(bdq), 0) FROM t4) / 1e9 AS bd,
                 (SELECT count(bdq) FROM t4)::BIGINT AS keff FROM pp)
         SELECT k AS n_strata, nt AS n, round(psi, 6) + 0.0 AS or_mh,
           round(bd, 6) + 0.0 AS bd_chi2, (keff - 1)::BIGINT AS df,
           CASE WHEN keff = 7 THEN round(least(1.0, exp(-bd / 2)
             * (1 + bd / 2 + pow(bd / 2, 2) / 2)), 6) + 0.0 END AS p_value
         FROM f"""))
}
