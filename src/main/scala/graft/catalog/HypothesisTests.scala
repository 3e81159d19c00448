package graft.catalog

import org.apache.spark.sql.functions._

import graft.profile.StatTests

import Support._

/** Catalog family: two-sample, k-sample, normality, variance and
  * effect-size tests from [[graft.profile.StatTests]] over the document
  * and order tables. */
object HypothesisTests {

  val cases: Seq[Case] = Seq(
    // ---- Mann-Whitney U location drift (Drift) ---------------------------
    // rank-sum test between the two order-status slices' price
    // distributions; the rank sum is EXACT on both engines (half-integer
    // double sums below 2^52 never round), so u values are bit-stable
    Case("q229_mann_whitney", (s, dir) => {
      val orders = read(s, dir, "orders")
      StatTests.mannWhitneyU(
          orders.filter(col("o_orderstatus") === "F"),
          orders.filter(col("o_orderstatus") === "O"), "o_totalprice")
        .select(cols("n_a", "n_b") ++ rounded(2)("u_a", "u_b", "u") ++
          rounded(6)("z"): _*)
    },
      // Mann-Whitney U via per-distinct-value counts + exclusive cumulative
      // rank offsets (avg rank = before + (cnt+1)/2); rank sums are exact
      // half-integer doubles on both engines, tie cubes go through DOUBLE
      """WITH av AS (SELECT o_totalprice::DOUBLE AS v FROM orders
                     WHERE o_orderstatus = 'F' AND o_totalprice IS NOT NULL),
         bv AS (SELECT o_totalprice::DOUBLE AS v FROM orders
                WHERE o_orderstatus = 'O' AND o_totalprice IS NOT NULL),
         ca AS (SELECT v, count(*)::BIGINT AS na FROM av GROUP BY 1),
         cb AS (SELECT v, count(*)::BIGINT AS nb FROM bv GROUP BY 1),
         j AS (SELECT coalesce(ca.v, cb.v) AS v, coalesce(na, 0) AS na,
                      coalesce(nb, 0) AS nb
               FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
         c AS (SELECT v, na, nb, na + nb AS cnt FROM j),
         w AS (SELECT *, coalesce(sum(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
               FROM c),
         t AS (SELECT sum(na)::DOUBLE AS na, sum(nb)::DOUBLE AS nb,
                 sum(cnt)::DOUBLE AS n,
                 sum(na * (bef + (cnt + 1) / 2.0)) AS ra,
                 sum(cnt::DOUBLE * cnt::DOUBLE * cnt::DOUBLE - cnt::DOUBLE)
                   AS ties
               FROM w)
         SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
           round(ra - na * (na + 1) / 2.0, 2) + 0.0 AS u_a,
           round(na * nb - (ra - na * (na + 1) / 2.0), 2) + 0.0 AS u_b,
           round(least(ra - na * (na + 1) / 2.0,
                       na * nb - (ra - na * (na + 1) / 2.0)), 2) + 0.0 AS u,
           round((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
             / sqrt(na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))), 6)
             + 0.0 AS z
         FROM t"""),

    // ---- md5-seeded permutation test (Drift) ------------------------------
    // randomization test for the es-vs-de mean n_chars gap: 200
    // deterministic relabelings; n_chars is integer-valued so every
    // permutation mean is a bit-exact dyadic ratio on both engines
    Case("q242_permutation_test", (s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.permutationTestMeanDiff(
          docs.filter(col("lang") === "es"),
          docs.filter(col("lang") === "de"),
          "doc_id", "n_chars", nPerms = 200, seed = "pt")
        .select(cols("n_a", "n_b") ++ rounded(6)("observed") ++
          cols("n_perms", "n_ge") ++ rounded(6)("p_value"): _*)
    },
      // identical md5 relabeling per (seed, perm, side, id), coin WEIGHTED
      // at n_a/(n_a+n_b) (unconditional randomization conditioning on the
      // observed imbalance in expectation); u = hex8/2^32 exactly as q243,
      // so both engines compare the identical exact double. Integer-valued
      // n_chars makes every group mean bit-exact, so the >= count can never
      // sit on a float boundary; add-one p estimator
      """WITH ca AS (SELECT doc_id::VARCHAR AS id, n_chars::DOUBLE AS v,
                  'a' AS side FROM documents
                WHERE lang = 'es' AND n_chars IS NOT NULL),
         cb AS (SELECT doc_id::VARCHAR AS id, n_chars::DOUBLE AS v,
                  'b' AS side FROM documents
                WHERE lang = 'de' AND n_chars IS NOT NULL),
         comb AS (SELECT * FROM ca UNION ALL SELECT * FROM cb),
         obs AS (SELECT abs(avg(CASE WHEN side = 'a' THEN v END)
                   - avg(CASE WHEN side = 'b' THEN v END)) AS o,
                 sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)::BIGINT AS n_a,
                 sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)::BIGINT AS n_b
               FROM comb),
         asg AS (SELECT p, v,
                   ('0x' || substr(md5('pt:' || p || ':' || side || ':' || id),
                      1, 8))::UBIGINT / 4294967296.0
                     < (SELECT n_a::DOUBLE / (n_a + n_b)::DOUBLE FROM obs) AS g
                 FROM comb, range(1, 201) t(p)),
         st AS (SELECT p, abs(avg(CASE WHEN g THEN v END)
                  - avg(CASE WHEN NOT g THEN v END)) AS s
                FROM asg GROUP BY p),
         c AS (SELECT sum(CASE WHEN round(s, 9) >= round(obs.o, 9)
                 THEN 1 ELSE 0 END)::BIGINT AS n_ge
               FROM st, obs)
         SELECT obs.n_a, obs.n_b, round(obs.o, 6) + 0.0 AS observed,
           200 AS n_perms, c.n_ge,
           round((c.n_ge + 1) / 201.0, 6) + 0.0 AS p_value
         FROM obs, c"""),

    // ---- Welch two-sample t (Drift) ---------------------------------------
    // unequal-variance mean comparison of en vs de doc lengths; exact
    // integer moments -> identical closed-form t/df/d on both engines
    Case("q247_welch_ttest", (s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.welchTTest(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(cols("n_a", "n_b") ++
          rounded(6)("mean_a", "mean_b", "t", "df", "cohens_d"): _*)
    },
      // exact integer moments -> the identical closed-form Welch t / df /
      // Cohen's d expression on both engines
      """WITH a AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s,
                  sum(n_chars::DOUBLE * n_chars::DOUBLE) q
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL),
         b AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s,
                  sum(n_chars::DOUBLE * n_chars::DOUBLE) q
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL),
         c AS (SELECT a.n na, b.n nb, a.s / a.n ma, b.s / b.n mb,
                 (a.q - a.s * a.s / a.n) / (a.n - 1) va,
                 (b.q - b.s * b.s / b.n) / (b.n - 1) vb
               FROM a, b),
         w AS (SELECT na, nb, ma, mb, va, vb, va / na wa, vb / nb wb FROM c)
         SELECT na AS n_a, nb AS n_b,
           round(ma, 6) + 0.0 AS mean_a, round(mb, 6) + 0.0 AS mean_b,
           round((ma - mb) / sqrt(wa + wb), 6) + 0.0 AS t,
           round((wa + wb) * (wa + wb)
             / (wa * wa / (na - 1) + wb * wb / (nb - 1)), 6) + 0.0 AS df,
           round((ma - mb)
             / sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)), 6)
             + 0.0 AS cohens_d
         FROM w"""),

    // ---- one-way ANOVA F across languages (Drift) -------------------------
    // k-group mean comparison of doc lengths by lang; moment-identity sums
    // of squares (ss rounded at 2dp: the 1e10-magnitude sums carry ~1e-5
    // cross-engine summation-order noise)
    Case("q248_anova", (s, dir) => {
      StatTests.anovaF(read(s, dir, "documents"), "lang", "n_chars")
        .select(cols("n", "k") ++ rounded(2)("ss_between", "ss_within") ++
          rounded(6)("f"): _*)
    },
      // moment-identity sums of squares; 2dp on the 1e10-scale ss values
      // absorbs cross-engine group-summation order
      """WITH g AS (SELECT lang, count(*)::BIGINT ng, sum(n_chars::DOUBLE) s,
                  sum(n_chars::DOUBLE * n_chars::DOUBLE) q
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum(s * s / ng) sg, sum(s) st, sum(q) qt FROM g)
         SELECT n, k,
           round(sg - st * st / n, 2) + 0.0 AS ss_between,
           round(qt - sg, 2) + 0.0 AS ss_within,
           round(((sg - st * st / n) / (k - 1)) / ((qt - sg) / (n - k)), 6)
             + 0.0 AS f
         FROM t"""),

    // ---- Kruskal-Wallis H across languages (Drift) -------------------------
    // the rank-based ANOVA sibling; avg ranks via the shared cumsum, H at
    // 4dp (rank-sum squares cross 2^53, the division noise sits ~1e-7)
    Case("q249_kruskal", (s, dir) => {
      StatTests.kruskalWallis(read(s, dir, "documents"), "lang", "n_chars")
        .select(cols("n", "k") ++ rounded(4)("h") ++
          rounded(9)("tie_correction"): _*)
    },
      // average ranks from the exclusive distinct-value cumsum; the tie mass
      // rides the group join as (t^2-1)*c (exact); H at 4dp
      """WITH d AS (SELECT lang g, n_chars::DOUBLE v FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         pv AS (SELECT v, count(*)::BIGINT cnt FROM d GROUP BY 1),
         r AS (SELECT v, cnt, coalesce(sum(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS bel
               FROM pv),
         rk AS (SELECT v, bel + (cnt + 1) / 2.0 AS ar, cnt::DOUBLE AS t
                FROM r),
         gv AS (SELECT g, v, count(*)::BIGINT c FROM d GROUP BY 1, 2),
         bg AS (SELECT g, sum(c)::BIGINT ng, sum(c * ar) rg,
                  sum((t * t - 1) * c) tg
                FROM gv JOIN rk USING (v) GROUP BY g),
         agg AS (SELECT count(*)::BIGINT k, sum(rg * rg / ng) sr,
                   sum(tg) tmass FROM bg),
         nn AS (SELECT count(*)::BIGINT n FROM d)
         SELECT nn.n, agg.k,
           round((12.0 / (nn.n::DOUBLE * (nn.n + 1)) * agg.sr
               - 3.0 * (nn.n + 1))
             / (1.0 - agg.tmass / (nn.n::DOUBLE * nn.n * nn.n - nn.n)), 4)
             + 0.0 AS h,
           round(1.0 - agg.tmass / (nn.n::DOUBLE * nn.n * nn.n - nn.n), 9)
             + 0.0 AS tie_correction
         FROM nn, agg"""),

    // ---- Brown-Forsythe variance homogeneity across languages (Drift) -----
    // the assumption check beside q248's ANOVA: F on |x - median_g|;
    // integer values make medians and deviation moments engine-exact
    Case("q275_brown_forsythe", (s, dir) => {
      StatTests.brownForsythe(read(s, dir, "documents"), "lang", "n_chars")
        .select(cols("n", "k") ++ rounded(2)("ss_between", "ss_within") ++
          rounded(6)("f"): _*)
    },
      // per-group exact medians -> |x - m_g| -> the q248 moment identities
      """WITH b AS (SELECT lang g, n_chars::DOUBLE v FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         md AS (SELECT g, quantile_cont(v, 0.5) m FROM b GROUP BY 1),
         z AS (SELECT b.g, abs(b.v - md.m) z FROM b JOIN md USING (g)),
         gg AS (SELECT g, count(*)::BIGINT ng, sum(z) s, sum(z * z) q
                FROM z GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum(s * s / ng) sg, sum(s) st, sum(q) qt FROM gg)
         SELECT n, k,
           round(sg - st * st / n, 2) + 0.0 AS ss_between,
           round(qt - sg, 2) + 0.0 AS ss_within,
           round(((sg - st * st / n) / (k - 1)) / ((qt - sg) / (n - k)), 6)
             + 0.0 AS f
         FROM t"""),

    // ---- Cliff's delta effect size en vs de doc lengths (Drift) -----------
    // the ordinal effect-size companion of q229's Mann-Whitney U: exact
    // cross-pair counts from the distinct-value cumsum, delta and the
    // probability of superiority
    Case("q279_cliffs_delta", (s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.cliffsDelta(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(Seq(col("n_a"), col("n_b"), col("gt"), col("lt"),
          col("ties").as("tie_pairs")) ++ rounded(6)("delta", "p_superiority"): _*)
    },
      // exact cross-pair counts from the exclusive distinct-value cumsum —
      // gt = sum n_a(v) * (#b below v), lt symmetric, ties at equal v
      """WITH va AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT na
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
                GROUP BY 1),
         vb AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT nb
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL
                GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) v, coalesce(na, 0) na,
                 coalesce(nb, 0) nb
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         c AS (SELECT v, na, nb,
                 coalesce(sum(na) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) ba,
                 coalesce(sum(nb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bb
               FROM j),
         t AS (SELECT sum(na)::BIGINT tna, sum(nb)::BIGINT tnb,
                 sum(na::DOUBLE * bb) gt, sum(nb::DOUBLE * ba) lt,
                 sum(na::DOUBLE * nb) tp
               FROM c)
         SELECT tna AS n_a, tnb AS n_b, gt, lt, tp AS tie_pairs,
           round((gt - lt) / (tna::DOUBLE * tnb), 6) + 0.0 AS delta,
           round((gt + 0.5 * tp) / (tna::DOUBLE * tnb), 6) + 0.0
             AS p_superiority
         FROM t"""),

    // ---- D'Agostino-Pearson K2 normality test on doc lengths (Drift) ------
    // one moment pass -> skew/kurtosis z transforms; chi2(2) survival is
    // the closed form exp(-K2/2), engine-identical
    Case("q281_dagostino", (s, dir) => {
      StatTests.dagostinoK2(read(s, dir, "documents"), "n_chars")
        .select(cols("n") ++
          rounded(6)("g1", "b2", "z_skew", "z_kurt", "k2", "p_value"): _*)
    },
      // same raw-power-sum central moments + transform algebra as the Scala
      // scalar path; cbrt handles the negative cube-root branch identically
      """WITH s AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s1,
                  sum(pow(n_chars::DOUBLE, 2)) s2,
                  sum(pow(n_chars::DOUBLE, 3)) s3,
                  sum(pow(n_chars::DOUBLE, 4)) s4
                FROM documents WHERE n_chars IS NOT NULL),
         mo AS (SELECT n, n::DOUBLE nd, s2 / n - pow(s1 / n, 2) m2,
                  (s3 - 3 * (s1 / n) * s2 + 2 * n * pow(s1 / n, 3)) / n m3,
                  (s4 - 4 * (s1 / n) * s3 + 6 * pow(s1 / n, 2) * s2
                    - 3 * n * pow(s1 / n, 4)) / n m4
                FROM s),
         g AS (SELECT n, nd, m3 / pow(m2, 1.5) g1, m4 / (m2 * m2) b2 FROM mo),
         sk AS (SELECT n, nd, g1, b2,
                 g1 * sqrt((nd + 1) * (nd + 3) / (6 * (nd - 2))) y,
                 -1 + sqrt(2 * (3 * (nd * nd + 27 * nd - 70) * (nd + 1)
                   * (nd + 3) / ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
                   - 1)) w2
               FROM g),
         z1t AS (SELECT n, nd, g1, b2,
                  (1 / sqrt(ln(sqrt(w2)))) * ln(y / sqrt(2 / (w2 - 1))
                    + sqrt(y * y / (2 / (w2 - 1)) + 1)) z1
                FROM sk),
         ku AS (SELECT *,
                 (b2 - 3 * (nd - 1) / (nd + 1))
                   / sqrt(24 * nd * (nd - 2) * (nd - 3)
                     / (pow(nd + 1, 2) * (nd + 3) * (nd + 5))) xk,
                 6 * (nd * nd - 5 * nd + 2) / ((nd + 7) * (nd + 9))
                   * sqrt(6 * (nd + 3) * (nd + 5)
                     / (nd * (nd - 2) * (nd - 3))) sb1
               FROM z1t),
         ku2 AS (SELECT *, 6 + 8 / sb1 * (2 / sb1
                   + sqrt(1 + 4 / (sb1 * sb1))) aa FROM ku),
         z2t AS (SELECT n, g1, b2, z1,
                  ((1 - 2 / (9 * aa)) - cbrt((1 - 2 / aa)
                    / (1 + xk * sqrt(2 / (aa - 4))))) / sqrt(2 / (9 * aa)) z2
                FROM ku2),
         f AS (SELECT n, g1, b2, z1, z2, z1 * z1 + z2 * z2 k2 FROM z2t)
         SELECT n, round(g1, 6) + 0.0 AS g1, round(b2, 6) + 0.0 AS b2,
           round(z1, 6) + 0.0 AS z_skew, round(z2, 6) + 0.0 AS z_kurt,
           round(k2, 6) + 0.0 AS k2,
           round(exp(-k2 / 2), 6) + 0.0 AS p_value
         FROM f"""),

    // ---- Jarque-Bera normality on doc lengths (Drift) ---------------------
    // one power-sum scan; chi2(2) survival is the exact exp(-jb/2)
    Case("q303_jarque_bera", (s, dir) => {
      StatTests.jarqueBera(read(s, dir, "documents"), "n_chars")
        .select(cols("n") ++ rounded(6)("g1", "b2", "jb", "p_value"): _*)
    },
      // the dagostino power-sum CTE chain, ending in the JB statistic and
      // the exact chi2(2) survival exp(-jb/2)
      """WITH s AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s1,
                  sum(pow(n_chars::DOUBLE, 2)) s2,
                  sum(pow(n_chars::DOUBLE, 3)) s3,
                  sum(pow(n_chars::DOUBLE, 4)) s4
                FROM documents WHERE n_chars IS NOT NULL),
         mo AS (SELECT n, n::DOUBLE nd, s2 / n - pow(s1 / n, 2) m2,
                  (s3 - 3 * (s1 / n) * s2 + 2 * n * pow(s1 / n, 3)) / n m3,
                  (s4 - 4 * (s1 / n) * s3 + 6 * pow(s1 / n, 2) * s2
                    - 3 * n * pow(s1 / n, 4)) / n m4
                FROM s),
         g AS (SELECT n, nd, m3 / pow(m2, 1.5) g1, m4 / (m2 * m2) b2 FROM mo),
         j AS (SELECT n, g1, b2,
                 nd / 6 * (g1 * g1 + (b2 - 3) * (b2 - 3) / 4) jb FROM g)
         SELECT n, round(g1, 6) + 0.0 AS g1, round(b2, 6) + 0.0 AS b2,
           round(jb, 6) + 0.0 AS jb,
           round(exp(-jb / 2), 6) + 0.0 AS p_value
         FROM j"""),

    // ---- Bartlett variance homogeneity across langs (Drift) ---------------
    // normal-theory companion of q275 brown_forsythe; per-group moments
    // only; df = 4 (even) so the survival is closed-form on both engines
    Case("q304_bartlett", (s, dir) => {
      StatTests.bartlettTest(read(s, dir, "documents"), "lang", "n_chars")
        .select(cols("n", "k") ++ rounded(6)("pooled_var", "statistic") ++
          cols("df") ++ rounded(6)("p_value"): _*)
    },
      // per-group sample variances from exact power sums; df = k-1 = 4 is
      // even, so the survival is the closed form exp(-x/2)(1 + x/2)
      """WITH g AS (SELECT lang, count(*)::BIGINT ng, sum(n_chars::DOUBLE) s,
                  sum(pow(n_chars::DOUBLE, 2)) q
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL
                GROUP BY 1 HAVING count(*) >= 2),
         v AS (SELECT ng, (q - s * s / ng) / (ng - 1) vg FROM g),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum((ng - 1) * ln(vg)) slnv, sum(1.0 / (ng - 1)) sinv,
                 sum(vg * (ng - 1)) ssw
               FROM v),
         b AS (SELECT n, k, ssw / (n - k) sp2,
                 ((n - k) * ln(ssw / (n - k)) - slnv)
                   / (1 + (sinv - 1.0 / (n - k)) / (3 * (k - 1))) stat
               FROM t)
         SELECT n, k, round(sp2, 6) + 0.0 AS pooled_var,
           round(stat, 6) + 0.0 AS statistic, k - 1 AS df,
           round(exp(-stat / 2) * (1 + stat / 2), 6) + 0.0 AS p_value
         FROM b"""),

    // ---- standardized effect sizes en vs de doc lengths (Drift) -----------
    // the d / g / glass panel from one moment pass per slice
    Case("q305_effect_sizes", (s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.effectSizes(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(cols("n_a", "n_b") ++ rounded(6)("mean_a", "mean_b", "diff",
          "cohens_d", "hedges_g", "glass_delta", "var_ratio"): _*)
    },
      // one moment CTE per slice; the same pooled-sd algebra as the Spark
      // driver literals
      """WITH a AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s,
                  sum(pow(n_chars::DOUBLE, 2)) q
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL),
         b AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s,
                  sum(pow(n_chars::DOUBLE, 2)) q
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL),
         m AS (SELECT a.n na, b.n nb, a.s / a.n ma, b.s / b.n mb,
                 (a.q - a.s * a.s / a.n) / (a.n - 1) va,
                 (b.q - b.s * b.s / b.n) / (b.n - 1) vb
               FROM a, b),
         e AS (SELECT na, nb, ma, mb, ma - mb diff, va, vb,
                 ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2) sp2
               FROM m)
         SELECT na AS n_a, nb AS n_b, round(ma, 6) + 0.0 AS mean_a,
           round(mb, 6) + 0.0 AS mean_b, round(diff, 6) + 0.0 AS diff,
           CASE WHEN sp2 > 0
             THEN round(diff / sqrt(sp2), 6) + 0.0 END AS cohens_d,
           CASE WHEN sp2 > 0
             THEN round(diff / sqrt(sp2)
               * (1 - 3.0 / (4 * (na + nb) - 9)), 6) + 0.0 END AS hedges_g,
           CASE WHEN va > 0
             THEN round(diff / sqrt(va), 6) + 0.0 END AS glass_delta,
           CASE WHEN vb > 0
             THEN round(va / vb, 6) + 0.0 END AS var_ratio
         FROM e"""),

    // ---- Mood's median test on doc lengths across langs (Drift) -----------
    // rank-exact lower grand median + a 2xk contingency chi2; df = 4 even
    Case("q307_mood_median", (s, dir) => {
      StatTests.moodMedianTest(read(s, dir, "documents"), "lang", "n_chars")
        .select(cols("n", "k") ++ rounded(6)("grand_median", "chi2") ++
          cols("df") ++ rounded(6)("p_value"): _*)
    },
      // rank-exact lower median from the distinct-count prefix sum; the
      // same 2xk Pearson cells; df = 4 closed-form survival
      """WITH b AS (SELECT lang g, n_chars::DOUBLE v FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         nn AS (SELECT count(*)::BIGINT n FROM b),
         dc AS (SELECT v, count(*)::BIGINT c FROM b GROUP BY 1),
         cm AS (SELECT v, sum(c) OVER (ORDER BY v) cum FROM dc),
         cut AS (SELECT min(v) m FROM cm, nn WHERE cum >= (n + 1) // 2),
         cells AS (SELECT g,
                 sum(CASE WHEN v > m THEN 1 ELSE 0 END)::DOUBLE a,
                 sum(CASE WHEN v <= m THEN 1 ELSE 0 END)::DOUBLE l
               FROM b, cut GROUP BY 1),
         t AS (SELECT sum(a) ta, sum(l) tl, count(*)::BIGINT k FROM cells),
         x AS (SELECT sum(pow(a - (a + l) * ta / n, 2)
                   / ((a + l) * ta / n)
                 + pow(l - (a + l) * tl / n, 2)
                   / ((a + l) * tl / n)) chi2
               FROM cells, t, nn)
         SELECT n, k, round(m, 6) + 0.0 AS grand_median,
           round(chi2, 6) + 0.0 AS chi2, k - 1 AS df,
           round(exp(-chi2 / 2) * (1 + chi2 / 2), 6) + 0.0 AS p_value
         FROM x, t, cut, nn"""),

    // ---- Yuen trimmed-means test: en vs de doc lengths (Drift) ------------
    // the robust twin of q247's Welch t: 10%-trimmed means, winsorized
    // variances, Welch-Satterthwaite df; rank-exact overlap algebra on
    // the shared two-sided cumsum (integer n_chars keep the sums exact)
    Case("q361_yuen_trimmed", (s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.yuenTrimmedTest(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars", trimFrac = 0.1)
        .select(cols("n_a", "n_b", "h_a", "h_b") ++
          rounded(6)("trimmed_mean_a", "trimmed_mean_b", "t_stat") ++
          rounded(4)("df"): _*)
    },
      // the q327 rank-overlap algebra per side; Yuen/Welch-Satterthwaite
      // driver arithmetic mirrored expression-for-expression
      """WITH sa AS (SELECT n_chars::DOUBLE v FROM documents
                WHERE lang = 'en' AND n_chars IS NOT NULL),
         sb AS (SELECT n_chars::DOUBLE v FROM documents
                WHERE lang = 'de' AND n_chars IS NOT NULL),
         da AS (SELECT v, count(*)::BIGINT c FROM sa GROUP BY 1),
         db_ AS (SELECT v, count(*)::BIGINT c FROM sb GROUP BY 1),
         ca_ AS (SELECT v, c, sum(c) OVER (ORDER BY v) hi FROM da),
         cb_ AS (SELECT v, c, sum(c) OVER (ORDER BY v) hi FROM db_),
         ta AS (SELECT count(*)::BIGINT n,
                 floor(count(*) * 0.1::DOUBLE)::BIGINT tr FROM sa),
         tb AS (SELECT count(*)::BIGINT n,
                 floor(count(*) * 0.1::DOUBLE)::BIGINT tr FROM sb),
         ja AS (SELECT v, c, hi, hi - c + 1 lo, n, tr FROM ca_, ta),
         jb AS (SELECT v, c, hi, hi - c + 1 lo, n, tr FROM cb_, tb),
         xa AS (SELECT max(n) n, max(tr) tr,
                 sum(v * greatest(least(hi, n - tr)
                   - greatest(lo, tr + 1) + 1, 0)) ts,
                 sum(v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) ws,
                 sum(v * v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) w2
               FROM ja),
         xb AS (SELECT max(n) n, max(tr) tr,
                 sum(v * greatest(least(hi, n - tr)
                   - greatest(lo, tr + 1) + 1, 0)) ts,
                 sum(v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) ws,
                 sum(v * v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) w2
               FROM jb),
         hh AS (SELECT xa.n na, xb.n nb,
                 (xa.n - 2 * xa.tr)::BIGINT ha,
                 (xb.n - 2 * xb.tr)::BIGINT hb,
                 xa.ts tsa, xa.ws wsa, xa.w2 w2a,
                 xb.ts tsb, xb.ws wsb, xb.w2 w2b
               FROM xa, xb),
         dd AS (SELECT *, tsa / ha tma, tsb / hb tmb,
                 (w2a - wsa * wsa / na) / (ha::DOUBLE * (ha - 1)) dA,
                 (w2b - wsb * wsb / nb) / (hb::DOUBLE * (hb - 1)) dB
               FROM hh)
         SELECT na AS n_a, nb AS n_b, ha AS h_a, hb AS h_b,
           round(tma, 6) + 0.0 AS trimmed_mean_a,
           round(tmb, 6) + 0.0 AS trimmed_mean_b,
           round((tma - tmb) / sqrt(dA + dB), 6) + 0.0 AS t_stat,
           round((dA + dB) * (dA + dB)
             / (dA * dA / (ha - 1) + dB * dB / (hb - 1)), 4) + 0.0 AS df
         FROM dd"""),

    // ---- robust location panel on doc lengths (Drift) ---------------------
    // rank-exact trimmed/winsorized means from the distinct-value cumsum
    Case("q327_robust_location", (s, dir) => {
      StatTests.robustLocation(read(s, dir, "documents"), "n_chars",
          trimFrac = 0.1)
        .select(cols("n", "n_trim_each") ++
          rounded(6)("mean", "trimmed_mean", "winsorized_mean", "median"): _*)
    },
      // the same rank-overlap algebra over the distinct-value cumsum
      """WITH b AS (SELECT n_chars::DOUBLE v FROM documents
                WHERE n_chars IS NOT NULL),
         dc AS (SELECT v, count(*)::BIGINT c FROM b GROUP BY 1),
         cm AS (SELECT v, c, sum(c) OVER (ORDER BY v) hi FROM dc),
         t AS (SELECT sum(c)::BIGINT n, sum(v * c) s FROM dc),
         k AS (SELECT floor(n * 0.1)::BIGINT tr FROM t),
         j AS (SELECT v, c, hi, hi - c + 1 lo, n, s, tr FROM cm, t, k),
         x AS (SELECT max(n) n, max(s) s, max(tr) tr,
                 sum(v * greatest(least(hi, n - tr)
                   - greatest(lo, tr + 1) + 1, 0)) tsum,
                 sum(v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) wsum,
                 min(CASE WHEN hi >= (n + 1) // 2 THEN v END) med
               FROM j)
         SELECT n, tr AS n_trim_each, round(s / n, 6) + 0.0 AS mean,
           round(tsum / (n - 2 * tr), 6) + 0.0 AS trimmed_mean,
           round(wsum / n, 6) + 0.0 AS winsorized_mean,
           round(med, 6) + 0.0 AS median
         FROM x"""),

    // ---- Dunn's post-hoc: WHICH language pairs differ in length (Drift) ---
    // the pairwise follow-up to q249's Kruskal-Wallis, same rank plan;
    // Holm across the pair family
    Case("q348_dunn_posthoc", (s, dir) => {
      StatTests.dunnTest(read(s, dir, "documents"), "lang", "n_chars")
        .select(cols("group_a", "group_b", "n_a", "n_b") ++
          rounded(4)("mean_rank_a", "mean_rank_b") ++
          rounded(6)("z", "p_value", "p_holm"): _*)
        .gateOrdered(col("group_a"), col("group_b"))
    },
      // the q249 average-rank spine, pairwise z with the tie-corrected
      // sigma^2, the shared A&S two-sided p, Holm over the pair family
      s"""WITH gv AS (SELECT lang g, n_chars::DOUBLE v FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         pv AS (SELECT v, count(*)::BIGINT cnt FROM gv GROUP BY 1),
         rk AS (SELECT v, sum(cnt) OVER (ORDER BY v) - cnt
                 + (cnt + 1) / 2.0 r
               FROM pv),
         nn AS (SELECT sum(cnt)::BIGINT n,
                 sum(cnt::DOUBLE * cnt * cnt - cnt)::DOUBLE tmass FROM pv),
         gs AS (SELECT g, count(*)::BIGINT ng, sum(r) rg
               FROM gv JOIN rk USING (v) GROUP BY g),
         s2 AS (SELECT (n * (n + 1.0) - tmass / (n - 1)) / 12.0 s2 FROM nn),
         pr AS (SELECT a.g ga, b.g gb, a.ng na, b.ng nb,
                 a.rg / a.ng ra, b.rg / b.ng rb
               FROM gs a JOIN gs b ON a.g < b.g),
         zz AS (SELECT ga, gb, na, nb, ra, rb,
                 CASE WHEN s2 > 0 THEN (ra - rb)
                   / sqrt(s2 * (1.0 / na + 1.0 / nb)) END z
               FROM pr, s2),
         pz AS (SELECT *, abs(z) / sqrt(2.0) az,
                 ${asT("abs(z)")} t FROM zz),
         pp AS (SELECT ga, gb, na, nb, ra, rb, z,
                 CASE WHEN z IS NOT NULL THEN least(1.0,
                   ${asPoly("t", "az", 21)}) END p
               FROM pz),
         hm AS (SELECT *, p * (count(*) OVER ()
                 - row_number() OVER (ORDER BY p ASC) + 1) raw
               FROM pp),
         ad AS (SELECT *, least(max(raw) OVER (ORDER BY p ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 1.0) ph
               FROM hm)
         SELECT ga AS group_a, gb AS group_b, na AS n_a, nb AS n_b,
           round(ra, 4) + 0.0 AS mean_rank_a,
           round(rb, 4) + 0.0 AS mean_rank_b,
           round(z, 6) + 0.0 AS z, round(p, 6) + 0.0 AS p_value,
           round(ph, 6) + 0.0 AS p_holm
         FROM ad ORDER BY group_a, group_b"""),

    // ---- Gini / top-share concentration of document length mass ----------
    // how concentrated is the corpus' character mass across documents —
    // the inequality summary a mix audit quotes; rank-exact, integer-only
    Case("q373_gini_concentration", (s, dir) => {
      StatTests.giniConcentration(read(s, dir, "documents"), "n_chars")
        .select(cols("n", "total") ++
          rounded(6)("gini", "top1_share", "top10_share"): _*)
    },
      // exact block-rank Gini: per-value counts, exclusive count window,
      // HUGEINT moment sums (mirroring the decimal(38,0) exact sums), the
      // boundary block of each top-share threshold resolved per block
      """WITH cells AS (SELECT n_chars::BIGINT v, count(*)::BIGINT c
                FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
         cum AS (SELECT *, coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT b FROM cells),
         nn AS (SELECT sum(c)::BIGINT n FROM cells),
         rr AS (SELECT n, n - n // 100 r1, n - n // 10 r10 FROM nn),
         agg AS (SELECT sum(v::HUGEINT * c) t,
                 sum(v::HUGEINT * (c::HUGEINT * b
                   + (CASE WHEN c % 2 = 0
                      THEN (c // 2)::HUGEINT * (c + 1)
                      ELSE c::HUGEINT * ((c + 1) // 2) END))) nsum,
                 sum(CASE WHEN b + c <= r1 THEN v::HUGEINT * c
                     WHEN b < r1 THEN v::HUGEINT * (r1 - b)
                     ELSE 0::HUGEINT END) s1,
                 sum(CASE WHEN b + c <= r10 THEN v::HUGEINT * c
                     WHEN b < r10 THEN v::HUGEINT * (r10 - b)
                     ELSE 0::HUGEINT END) s10
               FROM cum, rr)
         SELECT n, CAST(t AS BIGINT) AS total,
           round(2.0 * CAST(nsum AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
             - (n + 1.0) / n, 6) + 0.0 AS gini,
           round(CAST(t - s1 AS DOUBLE) / CAST(t AS DOUBLE), 6) + 0.0
             AS top1_share,
           round(CAST(t - s10 AS DOUBLE) / CAST(t AS DOUBLE), 6) + 0.0
             AS top10_share
         FROM agg, rr"""),

    // ---- empirical-Bayes shrinkage: per-source English rate ---------------
    // the honest per-source leaderboard: moment prior, small sources
    // shrink hard toward the grand rate, big ones keep their evidence
    Case("q381_eb_rates", (s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("is_en", (col("lang") === "en").cast("long"))
      StatTests.ebShrinkRates(docs, "source", "is_en")
        .select(cols("group", "n", "successes") ++
          rounded(6)("raw_rate", "shrinkage", "shrunk_rate"): _*)
        .gateOrdered(col("group"))
    },
      // per-group exact long sums, moment prior (between-group variance
      // minus average m(1-m)/n noise), James-Stein shrink toward the
      // grand rate
      """WITH g AS (SELECT source grp, count(*)::BIGINT n,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT y
               FROM documents
               WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
         t AS (SELECT sum(n)::BIGINT tn, sum(y)::BIGINT ty,
                 count(*)::BIGINT k FROM g),
         m AS (SELECT tn, ty, k, ty::DOUBLE / tn mm FROM t),
         vh AS (SELECT CASE WHEN k < 2 THEN 0.0 ELSE
                 sum((y::DOUBLE / n - mm) * (y::DOUBLE / n - mm))
                   / (k - 1.0) END vhat,
                 sum(mm * (1.0 - mm) / n) / k nbar
               FROM g, m GROUP BY k, mm),
         tau AS (SELECT greatest(0.0, vhat - nbar) t2 FROM vh)
         SELECT grp AS "group", n, y AS successes,
           round(y::DOUBLE / n, 6) + 0.0 AS raw_rate,
           round(CASE WHEN t2 <= 0 THEN 0.0
             ELSE t2 / (t2 + mm * (1.0 - mm) / n) END, 6) + 0.0
             AS shrinkage,
           round(mm + (CASE WHEN t2 <= 0 THEN 0.0
             ELSE t2 / (t2 + mm * (1.0 - mm) / n) END)
             * (y::DOUBLE / n - mm), 6) + 0.0 AS shrunk_rate
         FROM g, m, tau ORDER BY grp"""),

    // ---- Oaxaca-Blinder: how much of the src0-src1 length gap is tokens? --
    // twofold decomposition of the mean n_chars gap with token count as
    // the composition covariate — explained (composition) vs
    // unexplained (structure) from per-group closed-form OLS
    Case("q393_oaxaca", (s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("n_tok",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))))
      StatTests.oaxacaBlinder(docs, "source", "src0", "src1",
          "n_chars", "n_tok")
        .select(cols("n_a", "n_b") ++ rounded(6)("mean_a", "mean_b", "gap",
          "explained", "unexplained", "pct_explained"): _*)
    },
      // per-group exact moment sums in one conditional reduce, per-group
      // closed-form OLS, and the twofold decomposition from B's structure
      """WITH b AS (SELECT source = 'src0' ga, n_chars,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+'))
                   END AS DECIMAL(8,4)) x0
               FROM documents
               WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL
                 AND text IS NOT NULL),
         mo AS (SELECT
                 sum(CASE WHEN ga THEN 1 ELSE 0 END)::BIGINT na,
                 CAST(sum(CASE WHEN ga THEN x0
                   ELSE CAST(0 AS DECIMAL(8,4)) END) AS DOUBLE) sxa,
                 sum(CASE WHEN ga THEN n_chars ELSE 0 END)::DOUBLE sya,
                 CAST(sum(CASE WHEN ga
                   THEN CAST(n_chars AS DECIMAL(18,0)) * x0
                   ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE) sxya,
                 CAST(sum(CASE WHEN ga THEN x0 * x0
                   ELSE CAST(0 AS DECIMAL(16,8)) END) AS DOUBLE) sxxa,
                 sum(CASE WHEN ga THEN 0 ELSE 1 END)::BIGINT nb,
                 CAST(sum(CASE WHEN ga THEN CAST(0 AS DECIMAL(8,4))
                   ELSE x0 END) AS DOUBLE) sxb,
                 sum(CASE WHEN ga THEN 0 ELSE n_chars END)::DOUBLE syb,
                 CAST(sum(CASE WHEN ga THEN CAST(0 AS DECIMAL(26,4))
                   ELSE CAST(n_chars AS DECIMAL(18,0)) * x0 END)
                   AS DOUBLE) sxyb,
                 CAST(sum(CASE WHEN ga THEN CAST(0 AS DECIMAL(16,8))
                   ELSE x0 * x0 END) AS DOUBLE) sxxb
               FROM b),
         co AS (SELECT *,
                 (sxya - sxa * sya / na) / (sxxa - sxa * sxa / na) bba,
                 (sxyb - sxb * syb / nb) / (sxxb - sxb * sxb / nb) bbb
               FROM mo),
         ci AS (SELECT *, sya / na - bba * sxa / na aa,
                 syb / nb - bbb * sxb / nb ab FROM co),
         f AS (SELECT na, nb, sya / na ma, syb / nb mb,
                 sya / na - syb / nb gap,
                 bbb * (sxa / na - sxb / nb) expl,
                 (aa - ab) + (sxa / na) * (bba - bbb) unexpl
               FROM ci)
         SELECT na AS n_a, nb AS n_b, round(ma, 6) + 0.0 AS mean_a,
           round(mb, 6) + 0.0 AS mean_b, round(gap, 6) + 0.0 AS gap,
           round(expl, 6) + 0.0 AS explained,
           round(unexpl, 6) + 0.0 AS unexplained,
           CASE WHEN gap <> 0 THEN round(expl / gap, 6) + 0.0 END
             AS pct_explained
         FROM f"""),

    // ---- Deming regression: calibrate chars-per-doc against token count ---
    // both measures are noisy views of document size, so OLS would
    // attenuate the slope; lambda = 1 orthogonal regression is the
    // instrument-calibration convention
    Case("q396_deming", (s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("n_tok",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))))
      StatTests.demingRegression(docs, "n_tok", "n_chars")
        .select(cols("n") ++
          rounded(6)("mean_x", "mean_y", "slope", "intercept", "pearson_r"): _*)
    },
      // six exact HUGEINT moments -> doubles -> the closed Deming root
      // (lambda = 1), Pearson r from the same centered moments
      """WITH b AS (SELECT n_chars y,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END x
               FROM documents
               WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         mo AS (SELECT count(*)::BIGINT n,
                 CAST(sum(x::HUGEINT) AS DOUBLE) sx,
                 CAST(sum(y::HUGEINT) AS DOUBLE) sy,
                 CAST(sum(x::HUGEINT * x) AS DOUBLE) sxx,
                 CAST(sum(y::HUGEINT * y) AS DOUBLE) syy,
                 CAST(sum(x::HUGEINT * y) AS DOUBLE) sxy
               FROM b),
         cm AS (SELECT n, sx / n mx, sy / n my,
                 sxx - sx * sx / n cxx, syy - sy * sy / n cyy,
                 sxy - sx * sy / n cxy
               FROM mo),
         f AS (SELECT n, mx, my,
                 CASE WHEN cxx > 0 AND cyy > 0
                   THEN cxy / sqrt(cxx * cyy) END pr,
                 CASE WHEN cxy <> 0 THEN
                   ((cyy - 1.0 * cxx) + sqrt((cyy - 1.0 * cxx)
                     * (cyy - 1.0 * cxx) + 4.0 * 1.0 * cxy * cxy))
                   / (2.0 * cxy) END slope
               FROM cm)
         SELECT n, round(mx, 6) + 0.0 AS mean_x,
           round(my, 6) + 0.0 AS mean_y, round(slope, 6) + 0.0 AS slope,
           round(my - slope * mx, 6) + 0.0 AS intercept,
           round(pr, 6) + 0.0 AS pearson_r
         FROM f"""),

    // ---- method agreement: does 6*tokens actually measure n_chars? --------
    // Lin's CCC (penalizes scale AND location shift where Pearson
    // forgives both) + the Bland-Altman bias and 95% limits of agreement
    Case("q397_method_agreement", (s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("est6",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))) * 6)
      StatTests.methodAgreement(docs, "est6", "n_chars")
        .select(cols("n") ++ rounded(6)("mean_x", "mean_y", "ccc", "pearson_r",
          "bias", "loa_lo", "loa_hi"): _*)
    },
      // the same six moments with the 6x token estimate; population-moment
      // CCC (Lin's form) and the sample-sd Bland-Altman limits
      """WITH b AS (SELECT n_chars y,
                 6 * (CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END) x
               FROM documents
               WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         mo AS (SELECT count(*)::BIGINT n,
                 CAST(sum(x::HUGEINT) AS DOUBLE) sx,
                 CAST(sum(y::HUGEINT) AS DOUBLE) sy,
                 CAST(sum(x::HUGEINT * x) AS DOUBLE) sxx,
                 CAST(sum(y::HUGEINT * y) AS DOUBLE) syy,
                 CAST(sum(x::HUGEINT * y) AS DOUBLE) sxy
               FROM b),
         cm AS (SELECT n, sx / n mx, sy / n my,
                 sxx / n - (sx / n) * (sx / n) vx,
                 syy / n - (sy / n) * (sy / n) vy,
                 sxy / n - (sx / n) * (sy / n) cxy,
                 syy - 2.0 * sxy + sxx sdd, sy - sx sd2
               FROM mo),
         f AS (SELECT n, mx, my,
                 CASE WHEN vx + vy + (mx - my) * (mx - my) > 0 THEN
                   2.0 * cxy / (vx + vy + (mx - my) * (mx - my)) END ccc,
                 CASE WHEN vx > 0 AND vy > 0
                   THEN cxy / sqrt(vx * vy) END pr,
                 my - mx bias,
                 sqrt(greatest((sdd - sd2 * sd2 / n) / (n - 1.0), 0.0)) sdd2
               FROM cm)
         SELECT n, round(mx, 6) + 0.0 AS mean_x,
           round(my, 6) + 0.0 AS mean_y, round(ccc, 6) + 0.0 AS ccc,
           round(pr, 6) + 0.0 AS pearson_r, round(bias, 6) + 0.0 AS bias,
           round(bias - 1.959963985 * sdd2, 6) + 0.0 AS loa_lo,
           round(bias + 1.959963985 * sdd2, 6) + 0.0 AS loa_hi
         FROM f"""),

    // ---- Welch's ANOVA: doc length across languages, unequal variances ----
    // the heteroscedastic twin of the plain one-way F (language slices
    // rarely share a variance); Welch-Satterthwaite df2
    Case("q351_welch_anova", (s, dir) => {
      StatTests.welchAnova(read(s, dir, "documents"), "lang", "n_chars")
        .select(cols("n", "k") ++ rounded(6)("f") ++ cols("df1") ++
          rounded(4)("df2"): _*)
    },
      // per-language moments, Welch weights w = n/s², the 1951 F* and
      // Welch-Satterthwaite df2 — pure moment algebra, replayed verbatim
      """WITH g AS (SELECT lang g, count(*)::BIGINT n_i,
                  sum(n_chars::DOUBLE) s, sum(n_chars::DOUBLE * n_chars) q
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         m AS (SELECT g, n_i, s / n_i mi,
                 (q - s * s / n_i) / (n_i - 1) vv FROM g),
         w AS (SELECT g, n_i, mi, vv, n_i / vv wi FROM m),
         t AS (SELECT sum(wi) ww, count(*)::BIGINT k, sum(n_i)::BIGINT n,
                 sum(wi * mi) swm, min(n_i) mn, min(vv) mv FROM w),
         t2 AS (SELECT ww, k, n, mn, mv, swm / ww mbar FROM t),
         x AS (SELECT k, n, mn, mv,
                 sum(wi * (mi - mbar) * (mi - mbar)) / (k - 1) aa,
                 sum((1 - wi / ww) * (1 - wi / ww) / (n_i - 1)) hh
               FROM w, t2 GROUP BY k, n, mn, mv)
         SELECT n, k,
           CASE WHEN k >= 2 AND mn >= 2 AND mv > 0 THEN
             round(aa / (1 + 2.0 * (k - 2) / (k::DOUBLE * k - 1) * hh), 6)
               + 0.0 END AS f,
           (k - 1)::BIGINT AS df1,
           CASE WHEN k >= 2 AND mn >= 2 AND mv > 0 THEN
             round((k::DOUBLE * k - 1) / (3 * hh), 4) + 0.0 END AS df2
         FROM x"""),

    // ---- ICC(1): doc-length clustering within sources (Drift) -------------
    // the design-effect number: how clone-like are same-source docs
    Case("q297_icc", (s, dir) => {
      StatTests.icc1(read(s, dir, "documents"), "source", "n_chars")
        .select(cols("n", "k") ++ rounded(6)("k0") ++
          rounded(4)("ms_between", "ms_within") ++ rounded(6)("icc1"): _*)
    },
      // the anova moment pass + sum ni^2 for the unbalanced k0
      """WITH g AS (SELECT source, count(*)::BIGINT ng,
                  sum(n_chars::DOUBLE) s, sum(n_chars::DOUBLE * n_chars) q
                FROM documents
                WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum(s * s / ng) sg, sum(s) st, sum(q) qt,
                 sum(ng::DOUBLE * ng) n2
               FROM g),
         f AS (SELECT n, k, (sg - st * st / n) / (k - 1) msb,
                 (qt - sg) / (n - k) msw,
                 (n - n2 / n) / (k - 1) k0
               FROM t)
         SELECT n, k, round(k0, 6) + 0.0 AS k0,
           round(msb, 4) + 0.0 AS ms_between,
           round(msw, 4) + 0.0 AS ms_within,
           CASE WHEN msb + (k0 - 1) * msw > 0 THEN
             round((msb - msw) / (msb + (k0 - 1) * msw), 6) + 0.0
           END AS icc1
         FROM f"""),

    // ---- Poisson-bootstrap mean CI (Drift) --------------------------------
    // deterministic md5->Poisson(1) weights per (rep, id): streamable
    // bootstrap, bit-reproducible on both engines; 95% percentile CI over
    // 200 replicate means of en-doc n_chars
    Case("q243_bootstrap_ci", (s, dir) => {
      StatTests.bootstrapMeanCI(
          read(s, dir, "documents").filter(col("lang") === "en"),
          "doc_id", "n_chars", reps = 200, level = 0.95, seed = "bs")
        .select(cols("n") ++ rounded(6)("mean") ++ cols("boot_reps") ++
          rounded(6)("ci_lo", "ci_hi"): _*)
    },
      // same md5->uniform (q102 convention) -> shared Poisson(1) inverse-CDF
      // literals; replicate means are exact dyadic ratios (integer n_chars),
      // percentile interpolation is the same (n-1)p formula on both engines
      """WITH base AS (SELECT doc_id::VARCHAR AS id, n_chars::DOUBLE AS v
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL),
         asg AS (SELECT r, v,
                   ('0x' || substr(md5('bs:' || r || ':' || id), 1, 8))::UBIGINT
                     / 4294967296.0 AS u
                 FROM base, range(1, 201) t(r)),
         wts AS (SELECT r, v,
                   CASE WHEN u < 0.36787944117144233 THEN 0
                        WHEN u < 0.7357588823428847 THEN 1
                        WHEN u < 0.9196986029286058 THEN 2
                        WHEN u < 0.9810118431238463 THEN 3
                        WHEN u < 0.9963401531726563 THEN 4
                        ELSE 5 END AS w
                 FROM asg),
         rm AS (SELECT r, sum(w * v) / sum(w)::DOUBLE AS m FROM wts
                GROUP BY r HAVING sum(w) > 0),
         ci AS (SELECT quantile_cont(m, 0.025) AS lo,
                       quantile_cont(m, 0.975) AS hi FROM rm),
         st AS (SELECT count(*)::BIGINT AS n, avg(v) AS mean FROM base)
         SELECT st.n, round(st.mean, 6) + 0.0 AS mean, 200 AS boot_reps,
           round(ci.lo, 6) + 0.0 AS ci_lo, round(ci.hi, 6) + 0.0 AS ci_hi
         FROM st, ci"""))
}
