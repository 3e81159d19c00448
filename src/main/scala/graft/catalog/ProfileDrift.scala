package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.CorpusStats
import graft.ops.{CompareOps, QualityOps}
import graft.profile.{ColumnProfiler, Drift, ProfileComparison, ProfileReport}
import graft.sources.EventsSource

import Support._

/** Catalog family: column profiles, the profile report bundle, profile
  * comparison, distribution drift ([[graft.profile.Drift]]) and the
  * data-quality gates of [[graft.ops.QualityOps]]. */
object ProfileDrift {

  /** Shared q17/q154 output contract: one row per profiled column with the
    * rounded numeric profile (the batched-merge path must be
    * value-identical to the single-pass path). */
  private def profileStatsDf(s: SparkSession,
      p: ColumnProfiler.TableProfile, cols: Seq[String]): DataFrame = {
    val rows = cols.map { c =>
      val v = p.variables(c)
      (c, v.n, v.nMissing, v.nDistinct,
        BigDecimal(v.mean.get).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(v.std.get).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        v.min.get.asInstanceOf[Double], v.max.get.asInstanceOf[Double],
        BigDecimal(v.p25.get).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(v.p50.get).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(v.p75.get).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        v.hist.get.mkString(","))
    }
    import s.implicits._
    rows.toDF("column_name", "n", "n_missing", "n_distinct", "mean", "std",
        "min_val", "max_val", "p25", "p50", "p75", "hist")
      .orderBy(col("column_name"))
  }

  /** q17/q154 oracle: the exact numeric profile re-derived per column. */
  private lazy val profileStatsSql: String = {
    def block(c: String) =
      s"""SELECT '$c' AS column_name, count(*) AS n,
          count(*) - count($c) AS n_missing,
          count(DISTINCT $c) AS n_distinct,
          round(avg($c), 4) AS mean, round(stddev_samp($c), 4) AS std,
          min($c) AS min_val, max($c) AS max_val,
          round(quantile_cont($c, 0.25), 4) AS p25,
          round(quantile_cont($c, 0.5), 4) AS p50,
          round(quantile_cont($c, 0.75), 4) AS p75,
          (WITH mm AS (SELECT min($c) lo, max($c) hi FROM lineitem),
            cnts AS (SELECT least(9, greatest(0, CAST(floor(($c - lo)
                       / (CASE WHEN hi > lo THEN hi - lo ELSE 1.0 END) * 10) AS INT))) AS b,
                     count(*) AS cn
                     FROM lineitem, mm WHERE $c IS NOT NULL GROUP BY 1)
            SELECT string_agg(COALESCE(cn, 0)::VARCHAR, ',' ORDER BY r.range)
            FROM range(10) r LEFT JOIN cnts ON cnts.b = r.range) AS hist
          FROM lineitem"""
    Seq("l_quantity", "l_extendedprice", "l_discount").map(block)
      .mkString("SELECT * FROM (", " UNION ALL ", ") t ORDER BY column_name")
  }

  val cases: Seq[Case] = Seq(
    // ---- profiling / compare (A1, C1) -----------------------------------
    Case("q17_profile_stats", (s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      profileStatsDf(s, ColumnProfiler.profile(read(s, dir, "lineitem"), Some(cols),
        exactDistinct = true), cols)
    },
      // per-column stats blocks are generated (identical SQL per column);
      // `hist` mirrors ColumnProfiler's fixed-width bins: edges at min/max,
      // bucket = least(9, greatest(0, floor((v-lo)/width*10))), zero-filled
      // via the range(10) left join, identical IEEE double arithmetic on
      // both engines
      profileStatsSql),
    Case("q154_profile_batched", (s, dir) => {
      // the reference's chunked path: column batches profiled independently
      // and merged (TableProfile.merge) must agree with q17's single-pass
      // profile — same output contract, same oracle
      val df = read(s, dir, "lineitem")
      val p = ColumnProfiler.profile(df, Some(Seq("l_quantity")), exactDistinct = true)
        .merge(ColumnProfiler.profile(df, Some(Seq("l_extendedprice", "l_discount")),
          exactDistinct = true))
      profileStatsDf(s, p, Seq("l_quantity", "l_extendedprice", "l_discount"))
    },
      // batched-merge profiling must be value-identical to the single pass
      profileStatsSql),
    Case("q18_compare_diff", (s, dir) => {
      val o = read(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      val big = read(s, dir, "orders")
      CompareOps.diffCounts(
        big.filter(col("o_totalprice") > 100000).select("o_orderkey", "o_orderstatus"),
        big.filter(col("o_totalprice") > 150000).select("o_orderkey", "o_orderstatus"))
    },
      """SELECT
         ((SELECT count(*) FROM orders WHERE o_totalprice > 100000)
          - (SELECT count(*) FROM orders WHERE o_totalprice > 150000))::BIGINT AS only_in_left,
         0::BIGINT AS only_in_right,
         (SELECT count(*) FROM orders WHERE o_totalprice > 150000)::BIGINT AS in_both"""),

    // ---- cross-column high_correlation alerts (ydata taxonomy) ----------
    // a constructed near-affine column (2·price + qty) pins the alert on
    // exactly the coupled pair; natural lineitem correlations sit near 0,
    // and the 0.9 threshold is nowhere near any pair (≈1.0 vs ≈0.003), so
    // cross-engine corr ulps cannot flip a flag
    Case("q208_correlation_alerts", (s, dir) => {
      // deterministic ~5% slice (q186's pattern): this query's contract is
      // the ALERT wiring — booleans don't depend on row count, and the
      // full-profile cost is q17/q154's job
      val d = read(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_quantity"), col("l_extendedprice"),
          (col("l_extendedprice") * 2 + col("l_quantity")).as("combo"))
      val p = ColumnProfiler.withCorrelationAlerts(d,
        ColumnProfiler.profile(d, exactDistinct = true))
      import s.implicits._
      Seq("l_quantity", "l_extendedprice", "combo").map(c =>
        (c, p.variables(c).alerts.contains("high_correlation")))
        .toDF("column_name", "high_correlation")
        .orderBy(col("column_name"))
    },
      // high_correlation alert = |pearson| >= 0.9 against ANY other column
      """WITH d AS (SELECT l_quantity AS q, l_extendedprice AS e,
                      l_extendedprice*2 + l_quantity AS combo
                    FROM lineitem WHERE l_orderkey % 20 = 0),
          c AS (SELECT corr(q, e) AS qe, corr(q, combo) AS qc,
                  corr(e, combo) AS ec FROM d)
          SELECT col AS column_name, flag AS high_correlation FROM (
            SELECT 'l_quantity' AS col,
              (abs(qe) >= 0.9 OR abs(qc) >= 0.9) AS flag FROM c
            UNION ALL SELECT 'l_extendedprice',
              (abs(qe) >= 0.9 OR abs(ec) >= 0.9) FROM c
            UNION ALL SELECT 'combo',
              (abs(qc) >= 0.9 OR abs(ec) >= 0.9) FROM c)
          ORDER BY column_name"""),

    // ---- shape alerts: skewed, imbalance, duplicate rows ----------------
    // engineered margins (checked at sf0.01): spiky g1 ≈ 30 (> 20), label
    // imbalance ≈ 0.82 (> 0.5), event_type ≈ 0 (< 0.5); 3 low-cardinality
    // columns over 10k rows → duplicate rows certainly exist
    Case("q211_shape_alerts", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val d = ev.select(
        when(col("event_id") % 997 === 0, 1.0).otherwise(0.0).as("spiky"),
        when(col("event_id") % 37 === 0, "rare").otherwise("common").as("label"),
        col("event_type"))
      val p = ColumnProfiler.withDuplicateRowAlert(d,
        ColumnProfiler.withImbalanceAlerts(d,
          ColumnProfiler.profile(d, exactDistinct = true)))
      import s.implicits._
      Seq("event_type", "label", "spiky").map { c =>
        val a = p.variables(c).alerts
        (c, a.contains("skewed"), a.contains("imbalance"),
          p.tableAlerts.contains("duplicates"))
      }.toDF("column_name", "skewed", "imbalance", "dup_rows")
        .orderBy(col("column_name"))
    },
      // skewed = population |g1| > 20; imbalance = 1 − H/ln k > 0.5 over
      // value counts; dup_rows = any repeated full row (replayed from data,
      // same formulas, thresholds far from the computed margins)
      """WITH d AS (SELECT CASE WHEN event_id % 997 = 0 THEN 1.0 ELSE 0.0 END AS spiky,
                      CASE WHEN event_id % 37 = 0 THEN 'rare' ELSE 'common' END AS label,
                      event_type
                    FROM events),
          mu AS (SELECT avg(spiky) AS m FROM d),
          sk AS (SELECT abs(avg(pow(spiky - m, 3)) / pow(avg(pow(spiky - m, 2)), 1.5)) > 20
                   AS f FROM d, mu),
          imb_l AS (
            SELECT 1 - (ln(tot) - clnc / tot) / ln(k) > 0.5 AS f FROM (
              SELECT count(*) AS k, sum(c) AS tot, sum(c * ln(c)) AS clnc FROM (
                SELECT label, count(*)::DOUBLE AS c FROM d GROUP BY 1))),
          imb_t AS (
            SELECT 1 - (ln(tot) - clnc / tot) / ln(k) > 0.5 AS f FROM (
              SELECT count(*) AS k, sum(c) AS tot, sum(c * ln(c)) AS clnc FROM (
                SELECT event_type, count(*)::DOUBLE AS c FROM d GROUP BY 1))),
          dup AS (SELECT count(*) > count(DISTINCT (spiky, label, event_type))
                    AS f FROM d)
          SELECT col AS column_name, skewed, imbalance, dup.f AS dup_rows FROM (
            SELECT 'event_type' AS col, false AS skewed, imb_t.f AS imbalance
              FROM imb_t
            UNION ALL SELECT 'label', false, imb_l.f FROM imb_l
            UNION ALL SELECT 'spiky', sk.f, false FROM sk), dup
          ORDER BY column_name"""),

    // ---- profile report bundle: HTML/YAML/JSON rendering contract (C4) --
    Case("q186_report_bundle", (s, dir) => {
      // the non-SQL report surface as boolean contract rows (the q170
      // pattern): every check is a REAL assertion on the rendered
      // artifacts — profile HTML, comparison summary, diff-only pruning,
      // YAML and JSON exports
      // deterministic ~5% slice: this query's contract is the RENDERING
      // path (booleans don't depend on row count); profiling at full
      // catalog scale is q17/q154's job, so the bundle doesn't pay the
      // two full profile passes twice per bench run
      val li = read(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      val p1 = ColumnProfiler.profile(li, exactDistinct = true)
      val p2 = ColumnProfiler.profile(
        li.withColumn("l_discount", col("l_discount") * 2), exactDistinct = true)
      val html = ProfileReport.toHtml(p1, "q186",
        datasetMetadata = Map("source" -> "graft-q186"))
      val cmp = ProfileComparison.compare(Seq(p1, p2), Seq("base", "doubled"))
      val yaml = ProfileReport.toSummaryYaml(cmp)
      val json = ProfileComparison.toJson(cmp)
      val text = ProfileComparison.renderReport(cmp)
      val diff = ProfileComparison.diffOnly(cmp)
      val n = p1.variables("l_quantity").n
      import s.implicits._
      Seq(
        ("diff_only_prunes_to_changed",
          diff.overview.totalColumns == 1 && diff.columns.keySet == Set("l_discount")),
        ("html_lists_all_columns",
          Seq("l_quantity", "l_extendedprice", "l_discount").forall(html.contains)),
        ("html_renders_row_count", html.contains(n.toString)),
        ("html_renders_metadata", html.contains("graft-q186")),
        ("json_carries_labels",
          json.contains("\"labels\"") && json.contains("\"doubled\"")),
        ("summary_counts_two_equal_one_diff",
          cmp.overview.equal == 2 && cmp.overview.different == 1 &&
            cmp.overview.totalColumns == 3),
        ("text_report_flags_discount",
          text.contains("l_discount [different]")),
        ("yaml_flags_discount_mean",
          yaml.contains("metric_differences") &&
            yaml.linesIterator.exists(l => l.contains("different") || l.contains("l_discount"))))
        .toDF("check_name", "passed").orderBy(col("check_name"))
    },
      // Report-bundle contract rows (q170 pattern): constant-true oracle,
      // every boolean a real assertion on the rendered HTML/YAML/JSON/text
      """SELECT * FROM (VALUES
           ('diff_only_prunes_to_changed', true),
           ('html_lists_all_columns', true),
           ('html_renders_metadata', true),
           ('html_renders_row_count', true),
           ('json_carries_labels', true),
           ('summary_counts_two_equal_one_diff', true),
           ('text_report_flags_discount', true),
           ('yaml_flags_discount_mean', true)) AS t(check_name, passed)
         ORDER BY check_name"""),
    Case("q34_profile_compare", (s, dir) => {
      // C3: profile two slices of lineitem, emit per-column status
      val li = read(s, dir, "lineitem")
      val colNames = Seq("l_quantity", "l_extendedprice", "l_discount", "l_returnflag")
      val cols = Some(colNames)
      // approx distinct (deterministic HLL): statuses compare two profiles
      // computed the same way, and the single-pass plan avoids the
      // count_distinct expand — the 100 TB-appropriate profiling mode.
      // The two profile passes share ONE column-pruned scan (persisted
      // projection of just the profiled columns): sketch inputs are
      // unchanged — the filter and both aggregations see the same values —
      // so the oracle-pinned statuses are byte-identical while the second
      // full input scan disappears.
      val pruned = graft.ops.ScaleOps.registerInternalPersist(
        li.select(colNames.map(col): _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val p1 = ColumnProfiler.profile(pruned, cols, exactDistinct = false)
      val p2 = ColumnProfiler.profile(pruned.filter(col("l_quantity") > 25.0),
        cols, exactDistinct = false)
      val summary = graft.profile.ProfileComparison.compare(
        Seq(p1, p2), Seq("all", "high_qty"), absTol = 0.0, relTol = 0.0)
      import s.implicits._
      summary.columns.toSeq.map { case (c, cc) => (c, cc.status) }
        .toDF("column_name", "status")
        .orderBy(col("column_name"))
    },
      // per-column compare status re-derived in SQL: with abs_tol = rel_tol = 0
      // a column is 'different' iff any compared metric (mean, std, min, max,
      // n_missing, p_missing, n_distinct) differs between the two slices.
      // DuckDB compares its own two slices (not Spark's floats), so the
      // equal/different judgment is engine-stable. n_distinct: the query uses
      // deterministic HLL both sides — identical value sets give identical
      // estimates (l_returnflag), and columns with differing sets already
      // differ in mean/min/max, so exact-distinct equality here is faithful.
      {
        def stats(src: String, c: String, numeric: Boolean) =
          if (numeric)
            s"""SELECT avg($c) AS mean, stddev_samp($c) AS std, min($c) AS mn, max($c) AS mx,
              count(*) - count($c) AS miss, (count(*) - count($c))::DOUBLE / count(*) AS pmiss,
              count(DISTINCT $c) AS dist FROM $src"""
          else
            s"""SELECT NULL::DOUBLE AS mean, NULL::DOUBLE AS std, min($c) AS mn, max($c) AS mx,
              count(*) - count($c) AS miss, (count(*) - count($c))::DOUBLE / count(*) AS pmiss,
              count(DISTINCT $c) AS dist FROM $src"""
        def statusRow(c: String, numeric: Boolean) =
          s"""SELECT '$c' AS column_name,
              CASE WHEN a.mean IS NOT DISTINCT FROM b.mean AND a.std IS NOT DISTINCT FROM b.std
                    AND a.mn IS NOT DISTINCT FROM b.mn AND a.mx IS NOT DISTINCT FROM b.mx
                    AND a.miss = b.miss AND a.pmiss = b.pmiss AND a.dist = b.dist
                   THEN 'equal' ELSE 'different' END AS status
            FROM (${stats("lineitem", c, numeric)}) a,
                 (${stats("(SELECT * FROM lineitem WHERE l_quantity > 25.0)", c, numeric)}) b"""
        Seq(("l_quantity", true), ("l_extendedprice", true), ("l_discount", true),
          ("l_returnflag", false))
          .map { case (c, n) => statusRow(c, n) }
          .mkString("SELECT column_name, status FROM (", " UNION ALL ", ") t ORDER BY column_name")
      }),

    // ---- pairwise interaction density grid (report scatter section) -----
    // exact 2-D bin counts per numeric column pair — the distributed form
    // of the profiling report's scatter plots; output bounded by
    // pairs × bins² regardless of row count
    Case("q174_interaction_grid", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      ColumnProfiler.interactionGrid(
          ev.select(col("event_id"), col("user_id"), col("value")), bins = 24)
        .gateOrdered(col("col_a"), col("col_b"), col("bin_x"), col("bin_y"))
    },
      // Interaction grid: identical IEEE binning expression on both engines
      // ((x−lo)/(hi−lo)·bins, floored and clamped) over exact min/max
      // bounds, so integer bin counts match exactly
      """WITH bounds AS (
           SELECT min(event_id::DOUBLE) AS lo1, max(event_id::DOUBLE) AS hi1,
                  min(user_id::DOUBLE) AS lo2, max(user_id::DOUBLE) AS hi2,
                  min(value::DOUBLE) AS lo3, max(value::DOUBLE) AS hi3
           FROM events),
         g AS (
           SELECT 'event_id' AS col_a, 'user_id' AS col_b,
                  CAST(least(greatest(floor((event_id::DOUBLE - lo1)/(hi1 - lo1)*24), 0), 23) AS INT) AS bin_x,
                  CAST(least(greatest(floor((user_id::DOUBLE - lo2)/(hi2 - lo2)*24), 0), 23) AS INT) AS bin_y,
                  lo1 AS lo_a, hi1 AS hi_a, lo2 AS lo_b, hi2 AS hi_b
           FROM events CROSS JOIN bounds
           WHERE event_id IS NOT NULL AND user_id IS NOT NULL
           UNION ALL
           SELECT 'event_id', 'value',
                  CAST(least(greatest(floor((event_id::DOUBLE - lo1)/(hi1 - lo1)*24), 0), 23) AS INT),
                  CAST(least(greatest(floor((value::DOUBLE - lo3)/(hi3 - lo3)*24), 0), 23) AS INT),
                  lo1, hi1, lo3, hi3
           FROM events CROSS JOIN bounds
           WHERE event_id IS NOT NULL AND value IS NOT NULL
           UNION ALL
           SELECT 'user_id', 'value',
                  CAST(least(greatest(floor((user_id::DOUBLE - lo2)/(hi2 - lo2)*24), 0), 23) AS INT),
                  CAST(least(greatest(floor((value::DOUBLE - lo3)/(hi3 - lo3)*24), 0), 23) AS INT),
                  lo2, hi2, lo3, hi3
           FROM events CROSS JOIN bounds
           WHERE user_id IS NOT NULL AND value IS NOT NULL)
         SELECT col_a, col_b, bin_x, bin_y, count(*) AS n,
                lo_a, hi_a, lo_b, hi_b
         FROM g
         GROUP BY col_a, col_b, bin_x, bin_y, lo_a, hi_a, lo_b, hi_b
         ORDER BY col_a, col_b, bin_x, bin_y"""),

    // ---- PSI distribution drift -----------------------------------------
    Case("q101_psi_drift", (s, dir) => {
      val li = read(s, dir, "lineitem")
      val cut = lit("1998-01-01").cast("timestamp")
      Drift.psiBins(li.filter(col("l_shipdate") < cut),
          li.filter(col("l_shipdate") >= cut),
          Seq("l_extendedprice", "l_discount"))
        .select(col("column_name"), col("bin"), col("n_a"), col("n_b"),
          round(col("psi_term"), 6).as("psi_term"))
        .gateOrdered(col("column_name"), col("bin"))
    },
      // Fixed-width bins over the combined min/max of both snapshot halves;
      // eps-floored shares before the log-ratio, term rounded 6dp (counts
      // are exact integers, so the bin boundary itself is identical double
      // arithmetic on both engines)
      {
        def side(c: String) =
          s"""SELECT '$c' AS column_name,
            CASE WHEN hi = lo THEN 0
                 ELSE least(greatest(floor((($c::DOUBLE - lo) / (hi - lo)) * 10), 0), 9)
            END::INT AS bin,
            (l_shipdate < TIMESTAMP '1998-01-01') AS is_a
            FROM lineitem CROSS JOIN
              (SELECT min($c::DOUBLE) AS lo, max($c::DOUBLE) AS hi FROM lineitem)
            WHERE $c IS NOT NULL"""
        s"""WITH bn AS (${side("l_extendedprice")} UNION ALL ${side("l_discount")}),
         c AS (SELECT column_name, bin,
                 count(*) FILTER (WHERE is_a)::BIGINT AS n_a,
                 count(*) FILTER (WHERE NOT is_a)::BIGINT AS n_b
               FROM bn GROUP BY column_name, bin),
         p AS (SELECT column_name, bin, n_a, n_b,
                 greatest(n_a / sum(n_a) OVER (PARTITION BY column_name), 1e-6) AS pa,
                 greatest(n_b / sum(n_b) OVER (PARTITION BY column_name), 1e-6) AS pb
               FROM c)
         SELECT column_name, bin, n_a, n_b,
                round((pa - pb) * ln(pa / pb), 6) AS psi_term
         FROM p ORDER BY column_name, bin"""
      }),

    // ---- declarative constraint validation -------------------------------
    Case("q108_validate", (s, dir) => {
      import QualityOps._
      QualityOps.validate(read(s, dir, "lineitem"), Seq(
          NotNull("l_orderkey"),
          InRange("l_discount", 0.0, 0.05),
          InSet("l_returnflag", Seq("A", "N", "R")),
          Matches("l_linestatus", "^[OF]$"),
          Unique(Seq("l_orderkey", "l_linenumber"))))
        .gateOrdered(col("rule"))
    },
      // One scalar-subquery block per rule; violation predicates mirror the
      // rule pass-expressions' explicit null handling (NULL always fails)
      """WITH n AS (SELECT count(*) AS n FROM lineitem),
         r AS (
           SELECT 'not_null(l_orderkey)' AS rule, 'l_orderkey' AS column_name,
                  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS v
           UNION ALL
           SELECT 'in_range(l_discount,0.0,0.05)', 'l_discount',
                  (SELECT count(*) FROM lineitem
                   WHERE l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05)
           UNION ALL
           SELECT 'in_set(l_returnflag)', 'l_returnflag',
                  (SELECT count(*) FROM lineitem
                   WHERE l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R'))
           UNION ALL
           SELECT 'matches(l_linestatus)', 'l_linestatus',
                  (SELECT count(*) FROM lineitem
                   WHERE l_linestatus IS NULL OR NOT regexp_matches(l_linestatus, '^[OF]$'))
           UNION ALL
           SELECT 'unique(l_orderkey,l_linenumber)', 'l_orderkey,l_linenumber',
                  (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                   FROM lineitem))
         SELECT rule, column_name, n.n::BIGINT AS n_rows, v::BIGINT AS violations,
                round(v::DOUBLE / n.n, 6) AS violation_rate,
                CASE WHEN v = 0 THEN 1 ELSE 0 END AS pass
         FROM r CROSS JOIN n ORDER BY rule"""),

    // ---- referential integrity check ------------------------------------
    Case("q109_referential", (s, dir) => {
      // dim missing ~10% of keys (q91's fixture style) so orphans exist
      QualityOps.referentialIntegrity(
        read(s, dir, "lineitem"), "l_orderkey",
        read(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 3), "o_orderkey")
    },
      // Orphans = fact keys with no surviving dim key (dim drops keys ≡ 3
      // mod 10); null fact keys counted separately on both sides
      """SELECT n_fact::BIGINT AS n_fact, n_null_keys::BIGINT AS n_null_keys,
                n_orphans::BIGINT AS n_orphans,
                round(n_orphans::DOUBLE / n_fact, 6) AS orphan_rate
         FROM (SELECT
           (SELECT count(*) FROM lineitem) AS n_fact,
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_keys,
           (SELECT count(*) FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM orders o
               WHERE o.o_orderkey = l.l_orderkey AND o.o_orderkey % 10 <> 3))
             AS n_orphans) t"""),

    // ---- k-anonymity release gate ---------------------------------------
    // quasi-identifiers (nation, market segment) over customers: class
    // counts → achieved k, at-risk rows, pass flag at k=5
    Case("q222_k_anonymity", (s, dir) => {
      QualityOps.kAnonymity(read(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 5L)
    },
      // k-anonymity: class counts over the quasi columns, scalar reduce
      """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n
                    FROM customer GROUP BY 1, 2)
         SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_classes,
           min(n)::BIGINT AS k_anonymity,
           sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT AS n_classes_below_k,
           sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT AS n_rows_at_risk,
           round(sum(CASE WHEN n < 5 THEN n ELSE 0 END) / sum(n)::DOUBLE, 6)
             AS risk_share,
           (min(n) >= 5) AS pass
         FROM c"""),

    // ---- l-diversity release gate (QualityOps) -----------------------------
    // k-anonymity's companion: min distinct sensitive values per
    // quasi-class; l_linenumber spans 1..7, so l = 5 gives a real margin
    Case("q226_l_diversity", (s, dir) => {
      QualityOps.lDiversity(read(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), "l_linenumber", l = 5L)
    },
      // min distinct sensitive values per quasi-class; count(DISTINCT)
      // ignores nulls identically on both engines
      """WITH c AS (SELECT l_returnflag, l_linestatus, count(*) AS n,
                      count(DISTINCT l_linenumber) AS l
                    FROM lineitem GROUP BY 1, 2)
         SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_classes,
           min(l)::BIGINT AS l_diversity,
           sum(CASE WHEN l < 5 THEN 1 ELSE 0 END)::BIGINT AS n_classes_below_l,
           sum(CASE WHEN l < 5 THEN n ELSE 0 END)::BIGINT AS n_rows_at_risk,
           round(sum(CASE WHEN l < 5 THEN n ELSE 0 END) / sum(n)::DOUBLE, 6)
             AS risk_share,
           (min(l) >= 5) AS pass
         FROM c"""),

    // ---- Benford first-digit test (QualityOps) -----------------------------
    // synthetic-data smell test on order totals; the off-by-one log10
    // corrections make the digit exact under either engine's rounding
    Case("q227_benford", (s, dir) => {
      QualityOps.benfordTest(read(s, dir, "orders"), "o_totalprice")
        .select(col("digit"), col("n"),
          round(col("share"), 6).as("share"),
          round(col("expected_share"), 6).as("expected_share"),
          round(col("chi2"), 4).as("chi2"))
        .orderBy(col("digit"))
    },
      // leading digit via floor(x / 10^floor(log10 x)) with the 10→1 / 0→9
      // off-by-one corrections (exact under either engine's log10 rounding);
      // all 9 digits always emitted; chi2 = the TOTAL statistic on each row
      """WITH v AS (SELECT abs(o_totalprice)::DOUBLE AS x FROM orders
                    WHERE o_totalprice IS NOT NULL
                      AND isfinite(o_totalprice) AND abs(o_totalprice) > 0),
         d0 AS (SELECT floor(x / pow(10, floor(log10(x)))) AS d FROM v),
         dd AS (SELECT (CASE WHEN d = 10 THEN 1 WHEN d = 0 THEN 9
                        ELSE d END)::INT AS digit FROM d0),
         o AS (SELECT digit, count(*)::BIGINT AS n FROM dd GROUP BY 1),
         t AS (SELECT count(*)::DOUBLE AS total FROM dd),
         sp AS (SELECT unnest(range(1, 10))::INT AS digit),
         j AS (SELECT sp.digit, coalesce(o.n, 0)::BIGINT AS n, t.total,
                 log10(1 + 1.0 / sp.digit) AS e
               FROM sp CROSS JOIN t LEFT JOIN o ON sp.digit = o.digit),
         x2 AS (SELECT sum(pow(n - total * e, 2) / (total * e)) AS chi2 FROM j)
         SELECT j.digit, j.n, round(j.n / j.total, 6) AS share,
                round(j.e, 6) AS expected_share, round(x2.chi2, 4) AS chi2
         FROM j CROSS JOIN x2 ORDER BY j.digit"""),

    // ---- Jensen-Shannon divergence (Drift) -------------------------------
    // event-type mix shift between the first week and the rest of the
    // corpus — symmetric, finite, bounded at ln 2 (PSI's eps-free cousin)
    Case("q230_js_divergence", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val cut = lit("2024-01-08").cast("date")
      Drift.jsDivergence(
          ev.filter(to_date(col("ts")) < cut),
          ev.filter(to_date(col("ts")) >= cut), "event_type")
        .select(col("n_a"), col("n_b"), col("k"),
          (round(col("jsd_nats"), 8) + lit(0.0)).as("jsd_nats"),
          (round(col("jsd_bits"), 8) + lit(0.0)).as("jsd_bits"))
    },
      // JSD over the union of observed categories; one-sided categories
      // contribute their full p*ln(2) mass (no smoothing)
      """WITH ea AS (SELECT event_type AS v FROM events
                     WHERE ts::DATE < DATE '2024-01-08' AND event_type IS NOT NULL),
         eb AS (SELECT event_type AS v FROM events
                WHERE ts::DATE >= DATE '2024-01-08' AND event_type IS NOT NULL),
         ca AS (SELECT v, count(*)::BIGINT AS cnt_a FROM ea GROUP BY 1),
         cb AS (SELECT v, count(*)::BIGINT AS cnt_b FROM eb GROUP BY 1),
         j AS (SELECT coalesce(ca.v, cb.v) AS v, coalesce(cnt_a, 0) AS cnt_a,
                      coalesce(cnt_b, 0) AS cnt_b
               FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
         t AS (SELECT sum(cnt_a)::DOUBLE AS ta, sum(cnt_b)::DOUBLE AS tb,
                      count(*)::BIGINT AS k FROM j),
         z AS (SELECT max(t.ta) AS ta, max(t.tb) AS tb, max(t.k) AS k,
                 sum(CASE WHEN cnt_a > 0 THEN cnt_a / t.ta / 2 *
                       ln((cnt_a / t.ta) / ((cnt_a / t.ta + cnt_b / t.tb) / 2))
                     ELSE 0 END +
                     CASE WHEN cnt_b > 0 THEN cnt_b / t.tb / 2 *
                       ln((cnt_b / t.tb) / ((cnt_a / t.ta + cnt_b / t.tb) / 2))
                     ELSE 0 END) AS jsd
               FROM j, t)
         SELECT ta::BIGINT AS n_a, tb::BIGINT AS n_b, k,
           round(jsd, 8) + 0.0 AS jsd_nats,
           round(jsd / ln(2), 8) + 0.0 AS jsd_bits
         FROM z"""),

    // ---- Unicode anomaly scan (QualityOps) --------------------------------
    // encoding-health gate per language: U+FFFD replacement chars, stray
    // C0 controls, Latin+Cyrillic homoglyph mixing, non-ASCII share —
    // shared \x-escape character classes on both engines (the q213 lesson)
    Case("q236_unicode_anomaly", (s, dir) => {
      QualityOps.unicodeAnomalies(read(s, dir, "documents"), "text", "lang")
        .select(col("lang"), col("n_docs"), col("n_docs_replacement"),
          col("n_docs_control"), col("n_docs_mixed_script"),
          (round(col("nonascii_share"), 6) + lit(0.0)).as("nonascii_share"))
        .orderBy(col("lang"))
    },
      // same \x-escape character classes as QualityOps (interpolated from
      // one definition — never engine-native classes like \s)
      {
        def cnt(cls: String) =
          s"length(text) - length(regexp_replace(text, '$cls', '', 'g'))"
        s"""WITH d AS (SELECT lang, length(text) AS len,
             ${cnt(graft.ops.QualityOps.ReplacementClass)} AS repl,
             ${cnt(graft.ops.QualityOps.ControlClass)} AS ctrl,
             ${cnt(graft.ops.QualityOps.NonAsciiClass)} AS na,
             (regexp_matches(text, '${graft.ops.QualityOps.LatinClass}') AND
              regexp_matches(text, '${graft.ops.QualityOps.CyrillicClass}'))
               AS mixed
           FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL)
         SELECT lang, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN repl > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_docs_replacement,
           sum(CASE WHEN ctrl > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_docs_control,
           sum(CASE WHEN mixed THEN 1 ELSE 0 END)::BIGINT
             AS n_docs_mixed_script,
           (CASE WHEN sum(len) > 0
                 THEN round(sum(na) / sum(len)::DOUBLE, 6) END) + 0.0
             AS nonascii_share
         FROM d GROUP BY lang ORDER BY lang"""
      }),

    // ---- per-source KS battery with BH-FDR gate (Drift) -------------------
    // one KS test per source (price distribution, first half vs second
    // half of the order keys), asymptotic p from the 100-term Kolmogorov
    // series (identical truncation both engines), BH step-up at 10%
    Case("q238_ks_fdr", (s, dir) => {
      val li = read(s, dir, "lineitem")
        .join(read(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("grp", (col("o_custkey") % 10).cast("long"))
      Drift.ksByGroupFdr(
          li.filter(col("l_orderkey") % 2 === 0),
          li.filter(col("l_orderkey") % 2 === 1), "grp", "l_extendedprice",
          alpha = 0.10)
        .select(col("group").as("grp"), col("n_a"), col("n_b"), col("ks"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"),
          col("rejected"))
        .orderBy(col("grp"))
    },
      // per-group KS + the 100-term Kolmogorov series (identical truncation)
      // + BH step-up with the inclusive-count (largest-in-tie) convention;
      // p computed from the 6-dp-rounded ks exactly as the Spark side does
      """WITH li AS (SELECT l.l_extendedprice::DOUBLE AS v,
                  (o.o_custkey % 10)::BIGINT AS grp, l.l_orderkey
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         ca AS (SELECT grp, v, count(*)::BIGINT AS na FROM li
                WHERE l_orderkey % 2 = 0 GROUP BY 1, 2),
         cb AS (SELECT grp, v, count(*)::BIGINT AS nb FROM li
                WHERE l_orderkey % 2 = 1 GROUP BY 1, 2),
         j AS (SELECT coalesce(ca.grp, cb.grp) AS grp,
                      coalesce(ca.v, cb.v) AS v,
                      coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
               FROM ca FULL OUTER JOIN cb
                 ON ca.grp = cb.grp AND ca.v = cb.v),
         t AS (SELECT grp, sum(na) AS ta, sum(nb) AS tb FROM j GROUP BY 1),
         w AS (SELECT j.grp, v, na, nb, ta, tb,
                 sum(na) OVER (PARTITION BY j.grp ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cna,
                 sum(nb) OVER (PARTITION BY j.grp ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cnb
               FROM j JOIN t ON j.grp = t.grp WHERE ta > 0 AND tb > 0),
         k AS (SELECT grp, max(ta)::BIGINT AS n_a, max(tb)::BIGINT AS n_b,
                 round(max(abs(cna / ta::DOUBLE - cnb / tb::DOUBLE)), 6) AS ks
               FROM w GROUP BY 1),
         p AS (SELECT *, CASE
                 WHEN sqrt(n_a * n_b / (n_a + n_b)::DOUBLE) * ks < 0.037
                 THEN 1.0
                 ELSE least(greatest(list_sum(list_transform(range(1, 101),
                   jj -> (CASE WHEN jj % 2 = 1 THEN 2.0 ELSE -2.0 END)
                     * exp(-2.0 * jj * jj
                       * pow(sqrt(n_a * n_b / (n_a + n_b)::DOUBLE) * ks, 2)))),
                   0.0), 1.0) END AS pv
               FROM k),
         r AS (SELECT pv, count(*) OVER (ORDER BY pv
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rk
               FROM p),
         s AS (SELECT max(CASE WHEN pv <= rk * 0.10 /
                   (SELECT count(*) FROM p) THEN pv END) AS pstar FROM r)
         SELECT grp, n_a, n_b, ks, round(pv, 6) + 0.0 AS p_value,
           (s.pstar IS NOT NULL AND pv <= s.pstar) AS rejected
         FROM p, s ORDER BY grp"""),

    // ---- empirical-Bayes shrunken per-source rates (QualityOps) -----------
    // per-source "mentions spark" rate shrunk toward the beta-binomial
    // MoM prior — small sources pull to the corpus mean
    Case("q240_eb_shrink", (s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("hit", col("text").contains("spark"))
      QualityOps.ebShrinkRates(docs, "source", "hit")
        .select(col("key").as("source"), col("n"), col("k"),
          (round(col("raw_rate"), 6) + lit(0.0)).as("raw_rate"),
          (round(col("shrunk_rate"), 6) + lit(0.0)).as("shrunk_rate"),
          (round(col("alpha"), 4) + lit(0.0)).as("alpha"),
          (round(col("beta"), 4) + lit(0.0)).as("beta"))
        .orderBy(col("source"))
    },
      // beta-binomial MoM prior over raw per-source rates; degenerate
      // variance falls back to the raw rate with NULL alpha/beta
      """WITH pk AS (SELECT source AS key, count(*)::BIGINT AS n,
                  sum(CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END)::BIGINT
                    AS k
                FROM documents
                WHERE source IS NOT NULL AND text IS NOT NULL
                GROUP BY 1),
         r AS (SELECT *, k / n::DOUBLE AS raw_rate FROM pk),
         mv AS (SELECT avg(raw_rate) AS m, var_samp(raw_rate) AS v FROM r),
         pr AS (SELECT
                 CASE WHEN v > 0 AND m > 0 AND m < 1
                       AND (m * (1 - m) / v - 1) > 0
                      THEN m * (m * (1 - m) / v - 1) END AS a,
                 CASE WHEN v > 0 AND m > 0 AND m < 1
                       AND (m * (1 - m) / v - 1) > 0
                      THEN (1 - m) * (m * (1 - m) / v - 1) END AS b
               FROM mv)
         SELECT key AS source, n, k,
           round(raw_rate, 6) + 0.0 AS raw_rate,
           round(CASE WHEN a IS NULL THEN raw_rate
                 ELSE (k + a) / (n + a + b) END, 6) + 0.0 AS shrunk_rate,
           round(a, 4) + 0.0 AS alpha, round(b, 4) + 0.0 AS beta
         FROM r, pr ORDER BY source"""),

    // ---- TV / Hellinger / chi2 distance battery (Drift) -------------------
    // event-type mix shift between the first week and the rest — the
    // metrics panel sibling of q230's JS divergence
    Case("q255_dist_distance", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val cut = lit("2024-01-08").cast("date")
      Drift.distributionDistances(
          ev.filter(to_date(col("ts")) < cut),
          ev.filter(to_date(col("ts")) >= cut), "event_type")
        .select(col("n_a"), col("n_b"), col("k"),
          (round(col("tv"), 6) + lit(0.0)).as("tv"),
          (round(col("hellinger"), 6) + lit(0.0)).as("hellinger"),
          (round(col("chi2_sym"), 6) + lit(0.0)).as("chi2_sym"))
    },
      // the q230 join shape; three distances over the category union
      """WITH a AS (SELECT event_type::VARCHAR v, count(*)::BIGINT ca
                FROM events WHERE ts::DATE < DATE '2024-01-08'
                  AND event_type IS NOT NULL GROUP BY 1),
         b AS (SELECT event_type::VARCHAR v, count(*)::BIGINT cb
                FROM events WHERE ts::DATE >= DATE '2024-01-08'
                  AND event_type IS NOT NULL GROUP BY 1),
         j AS (SELECT coalesce(a.v, b.v) v, coalesce(ca, 0) ca,
                 coalesce(cb, 0) cb
               FROM a FULL OUTER JOIN b ON a.v = b.v),
         t AS (SELECT sum(ca)::BIGINT ta, sum(cb)::BIGINT tb,
                 count(*)::BIGINT k FROM j)
         SELECT t.ta AS n_a, t.tb AS n_b, t.k AS k,
           round(sum(abs(ca / t.ta::DOUBLE - cb / t.tb::DOUBLE)) / 2, 6)
             + 0.0 AS tv,
           round(sqrt(least(sum(pow(sqrt(ca / t.ta::DOUBLE)
             - sqrt(cb / t.tb::DOUBLE), 2)) / 2, 1.0)), 6) + 0.0 AS hellinger,
           round(sum(pow(ca / t.ta::DOUBLE - cb / t.tb::DOUBLE, 2)
             / (ca / t.ta::DOUBLE + cb / t.tb::DOUBLE)), 6) + 0.0 AS chi2_sym
         FROM j, t GROUP BY t.ta, t.tb, t.k"""),

    // ---- Q-Q drift of event value, week 1 vs rest (Drift) ------------------
    // per-decile shift table: WHERE the distribution moved, not just
    // whether; exact quantiles, Spark-percentile interpolation
    Case("q261_qq_drift", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val cut = lit("2024-01-08").cast("date")
      Drift.qqDrift(ev.filter(to_date(col("ts")) < cut),
          ev.filter(to_date(col("ts")) >= cut), "value")
        .select((round(col("p"), 2) + lit(0.0)).as("p"),
          (round(col("q_a"), 4) + lit(0.0)).as("q_a"),
          (round(col("q_b"), 4) + lit(0.0)).as("q_b"),
          (round(col("shift"), 4) + lit(0.0)).as("shift"))
        .orderBy(col("p"))
    },
      // per-decile quantile_cont on each side; 4dp absorbs the
      // interpolation-order difference (the q17 convention)
      """WITH a AS (SELECT value v FROM events
                WHERE ts::DATE < DATE '2024-01-08' AND value IS NOT NULL),
         b AS (SELECT value v FROM events
                WHERE ts::DATE >= DATE '2024-01-08' AND value IS NOT NULL),
         qa AS (SELECT quantile_cont(v,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) l FROM a),
         qb AS (SELECT quantile_cont(v,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) l FROM b)
         SELECT round(i / 10.0, 2) + 0.0 AS p,
           round(qa.l[i], 4) + 0.0 AS q_a,
           round(qb.l[i], 4) + 0.0 AS q_b,
           round(qb.l[i] - qa.l[i], 4) + 0.0 AS shift
         FROM range(1, 10) t(i), qa, qb ORDER BY p"""),

    // ---- Wald SPRT quality gate on the error rate (QualityOps) ------------
    // H0: error rate <= 2% vs H1: >= 5% at alpha = beta = 0.05 — the
    // sequential gate that knows when it has seen enough
    Case("q264_sprt", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("is_err", col("event_type") === "error")
      QualityOps.sprtGate(ev, "is_err", p0 = 0.02, p1 = 0.05)
        .select(col("n"), col("k"),
          (round(col("llr"), 4) + lit(0.0)).as("llr"),
          (round(col("lower"), 6) + lit(0.0)).as("lower"),
          (round(col("upper"), 6) + lit(0.0)).as("upper"),
          col("decision"))
    },
      // Wald boundaries and per-observation log-ratios from the same
      // double literals; one count/sum
      """WITH c AS (SELECT count(*)::BIGINT n,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT k
                FROM events WHERE event_type IS NOT NULL),
         s AS (SELECT n, k,
                 k * ln(0.05 / 0.02) + (n - k) * ln(0.95 / 0.98) AS llr,
                 ln(0.05 / 0.95) AS lo, ln(0.95 / 0.05) AS hi
               FROM c)
         SELECT n, k, round(llr, 4) + 0.0 AS llr,
           round(lo, 6) + 0.0 AS lower, round(hi, 6) + 0.0 AS upper,
           CASE WHEN llr >= hi THEN 'reject_h0'
                WHEN llr <= lo THEN 'accept_h0'
                ELSE 'continue' END AS decision
         FROM s"""),

    // ---- t-closeness release gate (QualityOps) ----------------------------
    // ordered-EMD of each (returnflag, linestatus) class's quantity
    // distribution vs the global one — the third privacy gate beside
    // q222 k-anonymity and q226 l-diversity
    Case("q270_t_closeness", (s, dir) => {
      QualityOps.tCloseness(read(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"), "l_quantity", t = 0.05)
        .select(col("n_rows"), col("n_classes"),
          (round(col("t_closeness"), 6) + lit(0.0)).as("t_closeness"),
          col("n_classes_above_t"), col("n_rows_at_risk"),
          col("risk_share"), col("pass"))
    },
      // ordered-EMD per class over the bounded quantity spine; global
      // cumulative + class-keyed cumulatives, worst-class gate at t = 0.05
      """WITH b AS (SELECT l_returnflag q1, l_linestatus q2,
                  l_quantity::DOUBLE v
                FROM lineitem WHERE l_quantity IS NOT NULL),
         g AS (SELECT v, count(*)::BIGINT c FROM b GROUP BY 1),
         kn AS (SELECT count(*)::BIGINT k, sum(c)::BIGINT n FROM g),
         sp AS (SELECT v, sum(c) OVER (ORDER BY v)::DOUBLE / kn.n pcum
                FROM g, kn),
         cls AS (SELECT q1, q2, count(*)::BIGINT cn FROM b GROUP BY 1, 2),
         cv AS (SELECT q1, q2, v, count(*)::BIGINT c FROM b GROUP BY 1, 2, 3),
         grid AS (SELECT cls.q1, cls.q2, cls.cn, sp.v, sp.pcum,
                    coalesce(cv.c, 0) c
                  FROM cls CROSS JOIN sp
                  LEFT JOIN cv ON cv.q1 = cls.q1 AND cv.q2 = cls.q2
                    AND cv.v = sp.v),
         cum AS (SELECT q1, q2, cn, pcum,
                   sum(c) OVER (PARTITION BY q1, q2 ORDER BY v)::DOUBLE / cn
                     qcum
                 FROM grid),
         emd AS (SELECT q1, q2, max(cn) cn,
                   sum(abs(qcum - pcum)) / ((SELECT k FROM kn) - 1) emd
                 FROM cum GROUP BY 1, 2)
         SELECT sum(cn)::BIGINT AS n_rows, count(*)::BIGINT AS n_classes,
           round(max(emd), 6) + 0.0 AS t_closeness,
           sum(CASE WHEN emd > 0.05 THEN 1 ELSE 0 END)::BIGINT
             AS n_classes_above_t,
           sum(CASE WHEN emd > 0.05 THEN cn ELSE 0 END)::BIGINT
             AS n_rows_at_risk,
           round(sum(CASE WHEN emd > 0.05 THEN cn ELSE 0 END)
             / sum(cn)::DOUBLE, 6) AS risk_share,
           max(emd) <= 0.05 AS pass
         FROM emd"""),

    // ---- exact 1-D Wasserstein distance en vs de doc lengths (Drift) ------
    // the drift metric with units: mass-transport distance over the merged
    // distinct-value CDF, neighbor gaps via a rank+1 equi-join (no global
    // window)
    Case("q280_wasserstein", (s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.wasserstein1(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"), col("n_values"),
          (round(col("w1"), 6) + lit(0.0)).as("w1"),
          (round(col("w1_norm"), 6) + lit(0.0)).as("w1_norm"))
    },
      // W1 = sum |F_a - F_b| * gap over consecutive merged distinct values
      """WITH va AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT na
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
                GROUP BY 1),
         vb AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT nb
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL
                GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) v, coalesce(na, 0) na,
                 coalesce(nb, 0) nb
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         t AS (SELECT sum(na)::BIGINT tna, sum(nb)::BIGINT tnb,
                 count(*)::BIGINT nv, min(v) lo, max(v) hi FROM j),
         c AS (SELECT v, sum(na) OVER (ORDER BY v) cna,
                 sum(nb) OVER (ORDER BY v) cnb,
                 lead(v) OVER (ORDER BY v) vn
               FROM j),
         w AS (SELECT sum(abs(cna::DOUBLE / tna - cnb::DOUBLE / tnb)
                 * (vn - v)) w1
               FROM c, t WHERE vn IS NOT NULL)
         SELECT tna AS n_a, tnb AS n_b, nv AS n_values,
           round(coalesce(w1, 0), 6) + 0.0 AS w1,
           CASE WHEN hi > lo THEN round(w1 / (hi - lo), 6) + 0.0 END AS w1_norm
         FROM w, t"""),

    // ---- Cramer-von Mises two-sample test en vs de (Drift) ----------------
    // the integrated-CDF companion of q171's KS: same distinct-value
    // cumsum, squared gaps summed with multiplicity, exact null moments
    Case("q288_cvm", (s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.cramerVonMises(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("t"), 6) + lit(0.0)).as("t"),
          (round(col("t_expected"), 6) + lit(0.0)).as("t_expected"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    },
      // same distinct-value inclusive CDFs; Anderson's exact null moments
      """WITH va AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT na
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
                GROUP BY 1),
         vb AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT nb
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL
                GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) v, coalesce(na, 0) na,
                 coalesce(nb, 0) nb
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         c AS (SELECT v, na, nb, sum(na) OVER (ORDER BY v) cna,
                 sum(nb) OVER (ORDER BY v) cnb
               FROM j),
         tt AS (SELECT sum(na)::DOUBLE m, sum(nb)::DOUBLE n FROM j),
         s AS (SELECT sum((na + nb)::DOUBLE
                 * pow(cna::DOUBLE / m - cnb::DOUBLE / n, 2)) ss
               FROM c, tt),
         f AS (SELECT m, n, m + n bn, m * n / ((m + n) * (m + n)) * ss t2
               FROM s, tt)
         SELECT m::BIGINT AS n_a, n::BIGINT AS n_b,
           round(t2, 6) + 0.0 AS t,
           round((1 + 1 / bn) / 6, 6) + 0.0 AS t_expected,
           round((t2 - (1 + 1 / bn) / 6)
             / sqrt((bn + 1) / (45 * bn * bn)
               * (4 * m * n * bn - 3 * (m * m + n * n) - 2 * m * n)
               / (4 * m * n)), 6) + 0.0 AS z
         FROM f"""),

    // ---- Kuiper two-sample test: en vs de doc lengths (Drift) -------------
    // the KS distributed-cumsum plan with directional maxima; identical
    // 100-term asymptotic series on both engines
    Case("q328_kuiper", (s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.kuiperTest(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("d_plus"), 6) + lit(0.0)).as("d_plus"),
          (round(col("d_minus"), 6) + lit(0.0)).as("d_minus"),
          (round(col("v"), 6) + lit(0.0)).as("v"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    },
      // the wasserstein CDF chain with directional maxima and the same
      // truncated Kuiper series
      """WITH va AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT na
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
                GROUP BY 1),
         vb AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT nb
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL
                GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) v, coalesce(na, 0) na,
                 coalesce(nb, 0) nb
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         t AS (SELECT sum(na)::BIGINT ta, sum(nb)::BIGINT tb FROM j),
         c AS (SELECT sum(na) OVER (ORDER BY v) ca,
                 sum(nb) OVER (ORDER BY v) cb FROM j),
         d AS (SELECT greatest(max(ca::DOUBLE / ta - cb::DOUBLE / tb), 0) dp,
                 greatest(max(cb::DOUBLE / tb - ca::DOUBLE / ta), 0) dm
               FROM c, t),
         vv AS (SELECT dp, dm, dp + dm v, ta::DOUBLE * tb / (ta + tb) ne
               FROM d, t),
         ll AS (SELECT dp, dm, v,
                 (sqrt(ne) + 0.155 + 0.24 / sqrt(ne)) * v lam FROM vv),
         pp AS (SELECT dp, dm, v, CASE WHEN lam < 0.4 THEN 1.0
                 ELSE least(1.0, greatest(0.0,
                   2 * (SELECT sum((4 * m * m * lam * lam - 1)
                       * exp(-2 * m * m * lam * lam))
                     FROM unnest(range(1, 101)) u(m)))) END p
               FROM ll)
         SELECT ta AS n_a, tb AS n_b, round(dp, 6) + 0.0 AS d_plus,
           round(dm, 6) + 0.0 AS d_minus, round(v, 6) + 0.0 AS v,
           round(p, 6) + 0.0 AS p_value
         FROM pp, t"""),

    // ---- two-sample Anderson-Darling: en vs de doc lengths (Drift) --------
    // tie-adjusted A2akN on the shared distributed cumsum; sigma from
    // the two O(N) harmonic loops
    Case("q332_anderson_darling", (s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.andersonDarling2(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("a2"), 6) + lit(0.0)).as("a2"),
          (round(col("sigma"), 6) + lit(0.0)).as("sigma"),
          (round(col("t_stat"), 6) + lit(0.0)).as("t_stat"))
    },
      // the pooled-distinct-value cumsum with midrank adjustments; h and g
      // via the same harmonic identities over range spines
      """WITH va AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT na
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
                GROUP BY 1),
         vb AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT nb
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL
                GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) v, coalesce(na, 0) na,
                 coalesce(nb, 0) nb
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         t AS (SELECT sum(na)::BIGINT ta, sum(nb)::BIGINT tb,
                 (sum(na) + sum(nb))::BIGINT nn FROM j),
         c AS (SELECT v, na, nb, (na + nb)::DOUBLE l,
                 sum(na) OVER (ORDER BY v) ca,
                 sum(nb) OVER (ORDER BY v) cb FROM j),
         s AS (SELECT
                 sum(CASE WHEN (ca + cb - l / 2) * (nn - (ca + cb - l / 2))
                     - nn * l / 4 > 0 THEN
                   l * pow(nn * (ca - na / 2.0) - ta * (ca + cb - l / 2), 2)
                     / ((ca + cb - l / 2) * (nn - (ca + cb - l / 2))
                       - nn * l / 4) END) sa,
                 sum(CASE WHEN (ca + cb - l / 2) * (nn - (ca + cb - l / 2))
                     - nn * l / 4 > 0 THEN
                   l * pow(nn * (cb - nb / 2.0) - tb * (ca + cb - l / 2), 2)
                     / ((ca + cb - l / 2) * (nn - (ca + cb - l / 2))
                       - nn * l / 4) END) sb
               FROM c, t),
         a2x AS (SELECT (nn - 1.0) / nn * (sa / ta + sb / tb) / nn a2
               FROM s, t),
         hh AS (SELECT (SELECT sum(1.0 / i)
                 FROM unnest(range(1, (SELECT nn FROM t)))
                   u(i)) h),
         gg AS (SELECT sum((h - hm) / (nn - m)) g
               FROM (SELECT m, sum(1.0 / m) OVER (ORDER BY m) hm
                     FROM unnest(range(1, (SELECT nn FROM t) - 1)) u(m)),
                 hh, t),
         cf AS (SELECT
                 (4 * g - 6) * 1 + (10 - 6 * g) * (1.0 / ta + 1.0 / tb) aa,
                 (2 * g - 4) * 4 + 16 * h
                   + (2 * g - 14 * h - 4) * (1.0 / ta + 1.0 / tb)
                   - 8 * h + 4 * g - 6 bb,
                 (6 * h + 2 * g - 2) * 4 + (4 * h - 4 * g + 6) * 2
                   + (2 * h - 6) * (1.0 / ta + 1.0 / tb) + 4 * h cc,
                 (2 * h + 6) * 4 - 8 * h dd
               FROM hh, gg, t),
         vr AS (SELECT (aa * pow(nn::DOUBLE, 3) + bb * pow(nn::DOUBLE, 2)
                   + cc * nn + dd)
                 / ((nn - 1.0) * (nn - 2) * (nn - 3)) v2 FROM cf, t)
         SELECT ta AS n_a, tb AS n_b, round(a2, 6) + 0.0 AS a2,
           round(sqrt(v2), 6) + 0.0 AS sigma,
           round((a2 - 1) / sqrt(v2), 6) + 0.0 AS t_stat
         FROM a2x, vr, t"""),

    // ---- quantile-bin PSI: first-week vs rest event values (Drift) --------
    // decile-of-reference bins (rank-exact cutpoints); the production
    // PSI scale
    Case("q344_psi_quantile", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull)
      val ref = ev.filter(to_date(col("ts")) < lit("2024-01-08"))
      val cur = ev.filter(to_date(col("ts")) >= lit("2024-01-08"))
      Drift.psiQuantile(ref, cur, "value", bins = 10)
        .select(col("n_a"), col("n_b"), col("n_bins"),
          (round(col("psi"), 6) + lit(0.0)).as("psi"))
    },
      // the q326 rank-exact cutpoints on the reference week; eps-floored
      // shares on both sides
      """WITH ref AS (SELECT value v FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND ts::DATE < DATE '2024-01-08'),
         cur AS (SELECT value v FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND ts::DATE >= DATE '2024-01-08'),
         dc AS (SELECT v, count(*)::BIGINT c FROM ref GROUP BY 1),
         cm AS (SELECT v, sum(c) OVER (ORDER BY v) hi FROM dc),
         nn AS (SELECT count(*)::BIGINT n FROM ref),
         rk AS (SELECT DISTINCT ((j * n + 9) // 10) r
               FROM unnest(range(1, 10)) u(j), nn),
         cuts AS (SELECT DISTINCT min(v) cut FROM cm, rk WHERE hi >= r
               GROUP BY r),
         ra AS (SELECT (SELECT count(*) FROM cuts WHERE ref.v > cut) b,
                 count(*)::BIGINT na FROM ref GROUP BY 1),
         rb AS (SELECT (SELECT count(*) FROM cuts WHERE cur.v > cut) b,
                 count(*)::BIGINT nb FROM cur GROUP BY 1),
         j AS (SELECT coalesce(ra.b, rb.b) b, coalesce(na, 0) na,
                 coalesce(nb, 0) nb
               FROM ra FULL OUTER JOIN rb ON ra.b = rb.b),
         t AS (SELECT sum(na)::BIGINT ta, sum(nb)::BIGINT tb,
                 count(*)::BIGINT k FROM j),
         x AS (SELECT sum((greatest(na::DOUBLE / ta, 1e-6)
                   - greatest(nb::DOUBLE / tb, 1e-6))
                 * ln(greatest(na::DOUBLE / ta, 1e-6)
                   / greatest(nb::DOUBLE / tb, 1e-6))) psi
               FROM j, t)
         SELECT ta AS n_a, tb AS n_b, k AS n_bins,
           CASE WHEN tb > 0 THEN round(psi, 6) + 0.0 END AS psi
         FROM x, t"""),

    // ---- covariate balance: even vs odd doc cohorts (Drift) ---------------
    // the pre-analysis randomization check: per-covariate SMD + variance
    // ratio from one moment pass per cohort
    Case("q299_covariate_balance", (s, dir) => {
      val docs = read(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("double").as("x_chars"),
        TextFunctions.tokenCount(col("text")).cast("double").as("x_tokens"),
        size(array_distinct(TextFunctions.tokens(col("text"))))
          .cast("double").as("x_types"))
      Drift.covariateBalance(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          Seq("x_chars", "x_tokens", "x_types"))
        .select(col("covariate"), col("n_a"), col("n_b"),
          (round(col("mean_a"), 6) + lit(0.0)).as("mean_a"),
          (round(col("mean_b"), 6) + lit(0.0)).as("mean_b"),
          (round(col("smd"), 6) + lit(0.0)).as("smd"),
          (round(col("var_ratio"), 6) + lit(0.0)).as("var_ratio"))
        .gateOrdered(col("covariate"))
    },
      // one moment pass per cohort, reshaped to per-covariate rows
      """WITH d AS (SELECT doc_id, n_chars::DOUBLE xc,
                  len(list_filter(regexp_split_to_array(trim(lower(text)),
                    '\s+'), x -> len(x) > 0))::DOUBLE xt,
                  len(list_distinct(list_filter(regexp_split_to_array(
                    trim(lower(text)), '\s+'), x -> len(x) > 0)))::DOUBLE xd
                FROM documents),
         a AS (SELECT count(*)::BIGINT n, avg(xc) m1, var_samp(xc) v1,
                 avg(xt) m2, var_samp(xt) v2, avg(xd) m3, var_samp(xd) v3
               FROM d WHERE doc_id % 2 = 0),
         b AS (SELECT count(*)::BIGINT n, avg(xc) m1, var_samp(xc) v1,
                 avg(xt) m2, var_samp(xt) v2, avg(xd) m3, var_samp(xd) v3
               FROM d WHERE doc_id % 2 = 1),
         u AS (SELECT 'x_chars' c, a.n na, b.n nb, a.m1 ma, b.m1 mb,
                 a.v1 va, b.v1 vb FROM a, b
               UNION ALL SELECT 'x_tokens', a.n, b.n, a.m2, b.m2, a.v2, b.v2
                 FROM a, b
               UNION ALL SELECT 'x_types', a.n, b.n, a.m3, b.m3, a.v3, b.v3
                 FROM a, b)
         SELECT c AS covariate, na AS n_a, nb AS n_b,
           round(ma, 6) + 0.0 AS mean_a, round(mb, 6) + 0.0 AS mean_b,
           CASE WHEN (va + vb) / 2 > 0 THEN
             round((ma - mb) / sqrt((va + vb) / 2), 6) + 0.0 END AS smd,
           CASE WHEN vb > 0 THEN round(va / vb, 6) + 0.0 END AS var_ratio
         FROM u ORDER BY 1"""),

    // ---- exact energy distance en vs de doc lengths (Drift) ---------------
    // Szekely's 1-D identity: 2 * integral of the squared CDF gap — the
    // wasserstein plan with squared gaps
    Case("q300_energy", (s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.energyDistance(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("e2"), 6) + lit(0.0)).as("e2"),
          (round(col("e"), 6) + lit(0.0)).as("e"))
    },
      // the wasserstein CTE chain with squared gaps, doubled
      """WITH va AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT na
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
                GROUP BY 1),
         vb AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT nb
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL
                GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) v, coalesce(na, 0) na,
                 coalesce(nb, 0) nb
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         t AS (SELECT sum(na)::BIGINT tna, sum(nb)::BIGINT tnb FROM j),
         c AS (SELECT v, sum(na) OVER (ORDER BY v) cna,
                 sum(nb) OVER (ORDER BY v) cnb,
                 lead(v) OVER (ORDER BY v) vn
               FROM j),
         w AS (SELECT 2 * sum(pow(cna::DOUBLE / tna - cnb::DOUBLE / tnb, 2)
                 * (vn - v)) e2
               FROM c, t WHERE vn IS NOT NULL)
         SELECT tna AS n_a, tnb AS n_b,
           round(coalesce(e2, 0), 6) + 0.0 AS e2,
           round(sqrt(greatest(coalesce(e2, 0), 0)), 6) + 0.0 AS e
         FROM w, t"""),

    // ---- equi-depth quantile bucketing ----------------------------------
    Case("q116_quantile_bins", (s, dir) => {
      ColumnProfiler.quantileBins(read(s, dir, "lineitem"),
          "l_extendedprice", k = 4)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice_bucket"))
        .gateOrdered(col("l_orderkey"), col("l_linenumber"))
    },
      // Equi-depth buckets from interpolated quartiles (quantile_cont ≡
      // percentile parity); assignment is the same <= chain on both engines
      """WITH q AS (SELECT quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS qs
                    FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                CASE WHEN l_extendedprice <= qs[1] THEN 1
                     WHEN l_extendedprice <= qs[2] THEN 2
                     WHEN l_extendedprice <= qs[3] THEN 3
                     ELSE 4 END AS l_extendedprice_bucket
         FROM lineitem CROSS JOIN q ORDER BY l_orderkey, l_linenumber"""),

    // ---- per-group exact percentiles ------------------------------------
    Case("q120_group_percentiles", (s, dir) => {
      ColumnProfiler.percentilesByGroup(
          EventsSource.read(s, s"$dir/events.parquet"), "event_type", "value",
          ps = Seq(0.5, 0.9, 0.99))
        .select(col("group").as("event_type"), col("p"),
          round(col("value"), 4).as("value"))
        .orderBy(col("event_type"), col("p"))
    },
      // Interpolated per-group quantiles (quantile_cont ≡ percentile
      // parity); p cast to DOUBLE to match Spark's double literal array
      {
        def block(p: String) =
          s"""SELECT event_type, $p::DOUBLE AS p,
            round(quantile_cont(value, $p), 4) AS value
            FROM events GROUP BY event_type"""
        Seq("0.5", "0.9", "0.99").map(block)
          .mkString("", "\nUNION ALL\n", "\nORDER BY event_type, p")
      }),

    // ---- percentile rank within group -----------------------------------
    Case("q124_percentile_rank", (s, dir) => {
      ColumnProfiler.percentileRank(
          EventsSource.read(s, s"$dir/events.parquet"),
          Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"),
          round(col("value"), 2).as("value"),
          round(col("pct_rank"), 6).as("pct_rank"))
        .gateOrdered(col("event_id"))
    },
      // cume_dist has identical tie semantics on both engines (share of
      // group with value <= this row's)
      """SELECT event_id, event_type, round(value, 2) AS value,
                round(cume_dist() OVER (PARTITION BY event_type ORDER BY value), 6)
                  AS pct_rank
         FROM events ORDER BY event_id"""),

    // ---- per-group min-max normalization --------------------------------
    Case("q125_minmax_scale", (s, dir) => {
      ColumnProfiler.minMaxScale(read(s, dir, "lineitem"),
          Seq("l_returnflag"), Seq("l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity_scaled"), 6).as("q_scaled"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // (x - min) / (max - min) per group; exact min/max make the scaled
      // value identical double arithmetic on both engines
      """WITH s AS (SELECT l_returnflag, min(l_quantity) AS mn, max(l_quantity) AS mx
                    FROM lineitem GROUP BY l_returnflag)
         SELECT l_orderkey, l_linenumber,
                round(CASE WHEN mx = mn THEN 0.0
                           ELSE (l_quantity - mn) / (mx - mn) END, 6) AS q_scaled
         FROM lineitem JOIN s USING (l_returnflag)
         ORDER BY l_orderkey, l_linenumber"""),

    // ---- per-group robust z-scores --------------------------------------
    Case("q126_group_robust_z", (s, dir) => {
      ColumnProfiler.robustZByGroup(
          EventsSource.read(s, s"$dir/events.parquet"), "event_type", "value")
        .select(col("event_id"), col("event_type"),
          round(col("robust_z"), 4).as("robust_z"))
        .gateOrdered(col("event_id"))
    },
      // Group median/MAD via quantile_cont (interpolation parity proven by
      // q17/q97); MAD = 0 groups yield NULL on both engines
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                    FROM events GROUP BY event_type),
         d AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
               FROM events JOIN m USING (event_type) GROUP BY event_type)
         SELECT event_id, event_type,
                CASE WHEN mad > 0
                     THEN round((value - med) / (1.4826 * mad), 4) END AS robust_z
         FROM events JOIN m USING (event_type) JOIN d USING (event_type)
         ORDER BY event_id"""),

    // ---- KS drift statistic ---------------------------------------------
    Case("q131_ks_drift", (s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.ksStatistic(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "n_chars")
    },
      // Two-sample KS over empirical CDFs at distinct values; exact
      // integer cumulative counts make the per-value deltas bit-identical
      """WITH va AS (SELECT n_chars::DOUBLE AS v, count(*) AS n_a
                     FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         vb AS (SELECT n_chars::DOUBLE AS v, count(*) AS n_b
                FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) AS v, coalesce(n_a, 0) AS n_a,
                      coalesce(n_b, 0) AS n_b
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
         c AS (SELECT v, sum(n_a) OVER w AS ca, sum(n_b) OVER w AS cb
               FROM j WINDOW w AS (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT ta::BIGINT AS n_a, tb::BIGINT AS n_b,
                round(max(abs(ca / ta - cb / tb)), 6) AS ks
         FROM c CROSS JOIN t GROUP BY ta, tb"""),

    // ---- corpus publish gate (composition capstone) ---------------------
    Case("q134_publish_gate", (s, dir) => {
      // The pre-publish checklist as ONE long-form report: constraint
      // violations, snapshot drift (PSI + KS), and near-dup pressure
      // (corpus shingle overlap), each with a pass flag computed on the
      // ROUNDED value so the boundary decision is engine-exact.
      import QualityOps._
      val docs = read(s, dir, "documents")
      val a = docs.filter(col("doc_id") % 2 === 0)
      val b = docs.filter(col("doc_id") % 2 =!= 0)
      val rules = QualityOps.validate(docs, Seq(
          NotNull("doc_id"), NotNull("text"), Unique(Seq("doc_id"))))
        .select(concat(lit("rule:"), col("rule")).as("metric"),
          col("violations").cast("double").as("value"), col("pass"))
      val psi = Drift.psi(a, b, Seq("n_chars"))
        .select(concat(lit("psi:"), col("column_name")).as("metric"),
          round(col("psi"), 4).as("value"),
          when(round(col("psi"), 4) < 0.25, 1).otherwise(0).as("pass"))
      val ks = Drift.ksStatistic(a, b, "n_chars")
        .select(lit("ks:n_chars").as("metric"), col("ks").as("value"),
          when(col("ks") < 0.2, 1).otherwise(0).as("pass"))
      val overlap = CorpusStats.corpusOverlap(a, b, "text")
        .select(lit("shingle_jaccard").as("metric"),
          col("jaccard").as("value"),
          when(col("jaccard") < 0.5, 1).otherwise(0).as("pass"))
      rules.unionByName(psi).unionByName(ks).unionByName(overlap)
        .gateOrdered(col("metric"))
    },
      // Publish-gate composition: each block mirrors its standalone oracle
      // (q108-family rules, q101 psi, q131 ks, q130 overlap); pass flags
      // computed on ROUNDED values so the boundary is engine-exact
      """WITH r AS (
           SELECT 'rule:not_null(doc_id)' AS metric,
                  (SELECT count(*) FROM documents WHERE doc_id IS NULL)::DOUBLE AS value
           UNION ALL
           SELECT 'rule:not_null(text)',
                  (SELECT count(*) FROM documents WHERE text IS NULL)::DOUBLE
           UNION ALL
           SELECT 'rule:unique(doc_id)',
                  (SELECT count(*) - count(DISTINCT doc_id) FROM documents)::DOUBLE),
         rulerows AS (SELECT metric, value,
                        CASE WHEN value = 0 THEN 1 ELSE 0 END AS pass FROM r),
         u AS (SELECT n_chars::DOUBLE AS x, doc_id % 2 = 0 AS is_a
               FROM documents WHERE n_chars IS NOT NULL),
         mm AS (SELECT min(x) AS lo, max(x) AS hi FROM u),
         bn AS (SELECT CASE WHEN hi = lo THEN 0
                  ELSE least(greatest(floor(((x - lo) / (hi - lo)) * 10), 0), 9)
                  END::INT AS bin, is_a
                FROM u CROSS JOIN mm),
         cb AS (SELECT bin, count(*) FILTER (WHERE is_a) AS n_a,
                       count(*) FILTER (WHERE NOT is_a) AS n_b
                FROM bn GROUP BY bin),
         pp AS (SELECT bin, greatest(n_a / sum(n_a) OVER (), 1e-6) AS pa,
                       greatest(n_b / sum(n_b) OVER (), 1e-6) AS pb
                FROM cb),
         psirow AS (SELECT 'psi:n_chars' AS metric,
                      round(sum((pa - pb) * ln(pa / pb)), 4) AS value FROM pp),
         psirows AS (SELECT metric, value,
                       CASE WHEN value < 0.25 THEN 1 ELSE 0 END AS pass FROM psirow),
         va AS (SELECT n_chars::DOUBLE AS v, count(*) AS n_a
                FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         vb AS (SELECT n_chars::DOUBLE AS v, count(*) AS n_b
                FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) AS v, coalesce(n_a, 0) AS n_a,
                      coalesce(n_b, 0) AS n_b
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         tt AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
         cc AS (SELECT v, sum(n_a) OVER w AS ca, sum(n_b) OVER w AS cb
                FROM j WINDOW w AS (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         ksrow AS (SELECT 'ks:n_chars' AS metric,
                     round(max(abs(ca / ta - cb / tb)), 6) AS value
                   FROM cc CROSS JOIN tt),
         ksrows AS (SELECT metric, value,
                      CASE WHEN value < 0.2 THEN 1 ELSE 0 END AS pass FROM ksrow),
         t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         ga AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 2 = 0),
         gb AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 2 <> 0),
         ov AS (SELECT (SELECT count(*) FROM ga) AS n_a,
                       (SELECT count(*) FROM gb) AS n_b,
                       (SELECT count(*) FROM ga JOIN gb USING (g)) AS n_i),
         ovrow AS (SELECT 'shingle_jaccard' AS metric,
                     round(n_i::DOUBLE / (n_a + n_b - n_i), 6) AS value FROM ov),
         ovrows AS (SELECT metric, value,
                      CASE WHEN value < 0.5 THEN 1 ELSE 0 END AS pass FROM ovrow)
         SELECT metric, value, pass FROM rulerows
         UNION ALL SELECT metric, value, pass FROM psirows
         UNION ALL SELECT metric, value, pass FROM ksrows
         UNION ALL SELECT metric, value, pass FROM ovrows
         ORDER BY metric"""),

    // ---- per-source KS drift --------------------------------------------
    Case("q138_ks_by_source", (s, dir) => {
      // md5-hash halves (NOT doc_id parity: sources own contiguous id
      // blocks, so parity would make every group one-sided)
      val docs = read(s, dir, "documents")
      val inA = substring(md5(concat(lit("ks:"), col("doc_id").cast("string"))), 1, 1) < "8"
      Drift.ksByGroup(docs.filter(inA), docs.filter(!inA), "source", "n_chars")
        .gateOrdered(col("group"))
    },
      // q131's construction with source in every key; md5 halves (id parity
      // is confounded with source blocks); one-sided groups excluded
      """WITH va AS (SELECT source AS grp, n_chars::DOUBLE AS v, count(*) AS n_a
                     FROM documents
                     WHERE substring(md5('ks:' || doc_id::VARCHAR), 1, 1) < '8'
                     GROUP BY 1, 2),
         vb AS (SELECT source AS grp, n_chars::DOUBLE AS v, count(*) AS n_b
                FROM documents
                WHERE substring(md5('ks:' || doc_id::VARCHAR), 1, 1) >= '8'
                GROUP BY 1, 2),
         j AS (SELECT coalesce(va.grp, vb.grp) AS grp, coalesce(va.v, vb.v) AS v,
                      coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
               FROM va FULL OUTER JOIN vb ON va.grp = vb.grp AND va.v = vb.v),
         t AS (SELECT grp, sum(n_a) AS ta, sum(n_b) AS tb FROM j GROUP BY grp
               HAVING sum(n_a) > 0 AND sum(n_b) > 0),
         c AS (SELECT j.grp, v,
                 sum(n_a) OVER w AS ca, sum(n_b) OVER w AS cb, ta, tb
               FROM j JOIN t ON j.grp = t.grp
               WINDOW w AS (PARTITION BY j.grp ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT grp AS "group", ta::BIGINT AS n_a, tb::BIGINT AS n_b,
                round(max(abs(ca / ta - cb / tb)), 6) AS ks
         FROM c GROUP BY grp, ta, tb ORDER BY "group""""),

    // ---- per-key trend slope (drift direction) --------------------------
    Case("q149_trend_slope", (s, dir) => {
      // hours-since-2024-01-01 keeps x small so the intercept (= ȳ − b·x̄)
      // does not amplify cross-engine slope ulps past the 4dp round
      val hourly = EventsSource.read(s, s"$dir/events.parquet")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
        .withColumn("x",
          ((unix_micros(col("h")) - lit(1704067200000000L)) / lit(3600000000L))
            .cast("double"))
      Drift.trendSlope(hourly, Seq("event_type"), "x", "n")
        .select(col("event_type"), col("n_points"),
          // + 0.0 folds IEEE −0.0 into +0.0 (a flat series rounds to −0.0
          // on the Spark side; DuckDB prints 0)
          (round(col("slope"), 4) + lit(0.0)).as("slope"),
          (round(col("intercept"), 4) + lit(0.0)).as("intercept"),
          (round(col("r2"), 4) + lit(0.0)).as("r2"))
        .orderBy(col("event_type"))
    },
      // Least-squares trend per event type over hourly counts; x is exact
      // integer hours on both engines, regr_* aggregates match to 4dp
      """WITH h AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         x AS (
           SELECT event_type, n,
                  ((epoch_us(h) - 1704067200000000) // 3600000000)::DOUBLE AS x
           FROM h)
         SELECT event_type, count(*)::BIGINT AS n_points,
                round(regr_slope(n, x), 4) + 0.0 AS slope,
                round(regr_intercept(n, x), 4) + 0.0 AS intercept,
                round(regr_r2(n, x), 4) + 0.0 AS r2
         FROM x GROUP BY event_type ORDER BY event_type"""),

    // ---- quantile normalization (cross-snapshot calibration) ------------
    Case("q163_quantile_norm", (s, dir) => {
      // calibrate click values onto the purchase-value distribution
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      Drift.quantileNormalize(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          "event_id", "value")
        .select(col("id").as("event_id"), round(col("value"), 4).as("value"),
          round(col("target_cd"), 6).as("target_cd"),
          round(col("norm_value"), 4).as("norm_value"))
        .gateOrdered(col("event_id"))
    },
      // Exact empirical inverse-CDF transform: target rank = row_number over
      // (value, id) / n (deterministic ties), norm = smallest ref value whose
      // CDF reaches that rank; both rank ratios are exact integer divisions
      """WITH r AS (
           SELECT value AS rv FROM events WHERE event_type = 'purchase'),
         rcdf AS (
           SELECT rv, (SELECT count(*) FROM r r2 WHERE r2.rv <= d.rv)::DOUBLE
                      / (SELECT count(*) FROM r)::DOUBLE AS rcd
           FROM (SELECT DISTINCT rv FROM r) d),
         t AS (
           SELECT event_id AS id, value FROM events WHERE event_type = 'click'),
         tr AS (
           SELECT id, value,
                  row_number() OVER (ORDER BY value, id)::DOUBLE
                    / (SELECT count(*) FROM t)::DOUBLE AS tcd
           FROM t)
         SELECT id AS event_id, round(value, 4) AS value,
                round(tcd, 6) AS target_cd,
                round((SELECT min(rv) FROM rcdf WHERE rcd >= tcd), 4) AS norm_value
         FROM tr ORDER BY event_id"""),

    // ---- KS on a CONTINUOUS column (distinct ≈ rows) --------------------
    // events.value is a double with ~95% distinct values, so this drives
    // the distributed running-CDF path of ksStatistic where the
    // distinct-value table is NOT broadcastable-small — the shape q131's
    // bounded n_chars column never exercises.
    Case("q171_ks_continuous", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      Drift.ksStatistic(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0), "value")
    },
      // Same construction as q131's KS but over the continuous events.value
      // column (the engine side runs its distributed CDF; the oracle's
      // single-threaded window is exact at oracle scale)
      """WITH va AS (SELECT value::DOUBLE AS v, count(*) AS n_a
                     FROM events WHERE event_id % 2 = 0 GROUP BY 1),
         vb AS (SELECT value::DOUBLE AS v, count(*) AS n_b
                FROM events WHERE event_id % 2 <> 0 GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) AS v, coalesce(n_a, 0) AS n_a,
                      coalesce(n_b, 0) AS n_b
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
         c AS (SELECT v, sum(n_a) OVER w AS ca, sum(n_b) OVER w AS cb
               FROM j WINDOW w AS (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT ta::BIGINT AS n_a, tb::BIGINT AS n_b,
                round(max(abs(ca / ta - cb / tb)), 6) AS ks
         FROM c CROSS JOIN t GROUP BY ta, tb"""),

    // ---- MAD robust outliers (heavy-tail flagging) ----------------------
    Case("q97_mad_outliers", (s, dir) => {
      ColumnProfiler.madOutliers(
          EventsSource.read(s, s"$dir/events.parquet"), "value", k = 3.5)
        .filter(col("is_outlier"))
        .select(col("event_id"), round(col("value"), 2).as("value"),
          round(col("robust_z"), 4).as("robust_z"))
        .orderBy(col("event_id"))
    },
      // MAD z-scores: both engines interpolate the same exact medians
      // (quantile_cont parity), so the flag boundary is bit-identical
      """WITH m AS (SELECT quantile_cont(value, 0.5) AS med FROM events),
         d AS (SELECT quantile_cont(abs(value - med), 0.5) AS mad
               FROM events CROSS JOIN m)
         SELECT event_id, round(value, 2) AS value,
                round((value - med) / (1.4826 * mad), 4) AS robust_z
         FROM events CROSS JOIN m CROSS JOIN d
         WHERE abs(value - med) > 3.5 * 1.4826 * mad
         ORDER BY event_id"""),

    // ---- keyed snapshot diff (dataset versioning) -----------------------
    Case("q91_keyed_diff", (s, dir) => {
      // old = customer; new = %7≡3 balances shifted, %13≡1 keys dropped,
      // 20 fresh keys appended above the key space (q77's fixture family)
      val old = read(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val newer = old.filter(col("c_custkey") % 13 =!= 1)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 3, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
        .unionByName(read(s, dir, "customer").filter(col("c_custkey") < 20)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("new_"), col("c_name")).as("c_name"),
            lit(0.0).as("c_acctbal")))
      CompareOps.keyedDiff(old, newer, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    },
      // Keyed diff: full outer join on the key, presence markers decide
      // added/removed, null-safe IS DISTINCT FROM decides changed;
      // changed_columns mirrors concat_ws's null-skipping on both engines
      """WITH oldt AS (
           SELECT c_custkey, c_name, c_acctbal, 1 AS lp FROM customer),
         newt AS (
           SELECT c_custkey, c_name,
                  CASE WHEN c_custkey % 7 = 3 THEN c_acctbal + 100.0
                       ELSE c_acctbal END AS c_acctbal, 1 AS rp
           FROM customer WHERE c_custkey % 13 <> 1
           UNION ALL
           SELECT c_custkey + 1000000, 'new_' || c_name, 0.0, 1
           FROM customer WHERE c_custkey < 20)
         SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.lp IS NULL THEN 'added'
                WHEN n.rp IS NULL THEN 'removed'
                WHEN (o.c_acctbal IS DISTINCT FROM n.c_acctbal)
                  OR (o.c_name IS DISTINCT FROM n.c_name) THEN 'changed'
                ELSE 'unchanged' END AS status,
           CASE WHEN o.lp IS NULL OR n.rp IS NULL THEN NULL
                ELSE concat_ws(',',
                  CASE WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
                       THEN 'c_acctbal' END,
                  CASE WHEN o.c_name IS DISTINCT FROM n.c_name
                       THEN 'c_name' END) END AS changed_columns
         FROM oldt o FULL OUTER JOIN newt n ON o.c_custkey = n.c_custkey
         WHERE NOT (o.lp IS NOT NULL AND n.rp IS NOT NULL
                    AND o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
                    AND o.c_name IS NOT DISTINCT FROM n.c_name)
         ORDER BY c_custkey"""),

    // ---- quantile winsorization (profile-driven numeric cleaning) -------
    Case("q89_winsorize", (s, dir) => {
      ColumnProfiler.winsorize(read(s, dir, "lineitem"),
        Seq("l_extendedprice", "l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("extendedprice_w"),
          round(col("l_quantity"), 2).as("quantity_w"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Winsorize: exact interpolated quantiles (quantile_cont parity with
      // Spark's percentile, proven by q17), then a pure clamp projection
      """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.01) AS lo_e,
                           quantile_cont(l_extendedprice, 0.99) AS hi_e,
                           quantile_cont(l_quantity, 0.01) AS lo_q,
                           quantile_cont(l_quantity, 0.99) AS hi_q
                    FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                round(least(greatest(l_extendedprice, lo_e), hi_e), 2) AS extendedprice_w,
                round(least(greatest(l_quantity, lo_q), hi_q), 2) AS quantity_w
         FROM lineitem CROSS JOIN b
         ORDER BY l_orderkey, l_linenumber"""),

    // ---- per-group numeric profile (per-source corpus monitoring) -------
    Case("q90_group_profile", (s, dir) => {
      ColumnProfiler.profileByGroup(read(s, dir, "lineitem"), "l_returnflag",
        Seq("l_quantity", "l_discount"), exactDistinct = true)
        .select(col("group"), col("column_name"), col("n"), col("n_missing"),
          col("n_distinct"), round(col("mean"), 4).as("mean"),
          round(col("std"), 4).as("std"), col("min"), col("max"))
        .gateOrdered(col("group"), col("column_name"))
    },
      // Per-group numeric profile, long form; one SQL block per column
      {
        def block(c: String) =
          s"""SELECT l_returnflag AS "group", '$c' AS column_name,
            count(*) AS n, count(*) - count($c) AS n_missing,
            count(DISTINCT $c) AS n_distinct,
            round(avg($c), 4) AS mean, round(stddev_samp($c), 4) AS std,
            min($c)::DOUBLE AS min, max($c)::DOUBLE AS max
            FROM lineitem GROUP BY l_returnflag"""
        Seq("l_quantity", "l_discount").map(block)
          .mkString("", "\nUNION ALL\n", "\nORDER BY \"group\", column_name")
      }),

    // ---- pairwise Pearson correlations (profile extension) --------------
    Case("q80_correlations", (s, dir) => {
      ColumnProfiler.correlations(read(s, dir, "lineitem"),
        Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))
        .select(col("col_a"), col("col_b"),
          round(col("pearson"), 4).as("pearson"))
        .orderBy(col("col_a"), col("col_b"))
    },
      // Pairwise Pearson correlations: both engines compute the sample
      // coefficient via mergeable co-moments
      {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
          yield (cols(i), cols(j))
        pairs.map { case (a, b) =>
          s"SELECT '$a' AS col_a, '$b' AS col_b, round(corr($a, $b), 4) AS pearson FROM lineitem"
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
      }))
}
