package graft.catalog

import org.apache.spark.sql.functions._

import graft.ops.{AggOps, ConcatOps, IndexOps, MergeOps}
import graft.sources.EventsSource

import Support._

/** Catalog family: tall / wide / with-DataFrame concatenation, global
  * sort, reindex and first-wins dedup by index, stable row numbering,
  * keyed merges (upsert, CDC, SCD2) and rollup / pivot aggregation. */
object ConcatIndex {

  val cases: Seq[Case] = Seq(
    Case("q08_global_sort", (s, dir) => {
      IndexOps.sort(
        read(s, dir, "lineitem")
          .select("l_partkey", "l_orderkey", "l_linenumber", "l_quantity"),
        Seq("l_partkey", "l_orderkey", "l_linenumber"))
    },
      """SELECT l_partkey, l_orderkey, l_linenumber, l_quantity
         FROM lineitem ORDER BY l_partkey, l_orderkey, l_linenumber"""),

    // ---- set ops / concat (U1, J2, J3) ----------------------------------
    Case("q09_tall_concat", (s, dir) => {
      val li = read(s, dir, "lineitem")
      val a = li.select("l_orderkey", "l_linenumber", "l_quantity").filter(col("l_quantity") > 45.0)
      val b = li.select("l_orderkey", "l_linenumber", "l_discount").filter(col("l_discount") < 0.01)
      ConcatOps.tall(Seq(a, b))
        .gateOrdered(col("l_orderkey"), col("l_linenumber"),
          coalesce(col("l_quantity"), lit(-1.0)))
    },
      """SELECT * FROM (
           SELECT l_orderkey, l_linenumber, l_quantity, NULL::DOUBLE AS l_discount
           FROM lineitem WHERE l_quantity > 45.0
           UNION ALL
           SELECT l_orderkey, l_linenumber, NULL::DOUBLE AS l_quantity, l_discount
           FROM lineitem WHERE l_discount < 0.01) t
         ORDER BY l_orderkey, l_linenumber, coalesce(l_quantity, -1.0)"""),
    Case("q10_wide_concat", (s, dir) => {
      val c = read(s, dir, "customer")
      ConcatOps.wide(
        Seq(c.select("c_custkey", "c_name"),
          c.select("c_custkey", "c_acctbal", "c_mktsegment")),
        indexColumns = Seq("c_custkey"))
        .gateOrdered(col("c_custkey"))
    },
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    Case("q11_concat_with_df", (s, dir) => {
      val segments = Seq(("BUILDING", 1), ("AUTOMOBILE", 2), ("MACHINERY", 3),
        ("HOUSEHOLD", 4), ("FURNITURE", 5))
      val mem = s.createDataFrame(segments).toDF("c_mktsegment", "segment_code")
      ConcatOps.withDataFrame(read(s, dir, "customer"), mem, Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("segment_code"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_mktsegment,
         CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'AUTOMOBILE' THEN 2
           WHEN 'MACHINERY' THEN 3 WHEN 'HOUSEHOLD' THEN 4
           WHEN 'FURNITURE' THEN 5 END AS segment_code
         FROM customer ORDER BY c_custkey"""),

    // ---- reindex / dedup (J1, A4) ---------------------------------------
    Case("q12_reindex", (s, dir) => {
      val newIndex = s.range(0, 30).toDF("c_nationkey")
      val data = read(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("bigint").as("c_nationkey"))
        // double output like every other money aggregate: a DECIMAL output
        // column hashes differently between the driver's parquet-read and
        // DuckDB-result paths even when values are byte-identical
        .agg(count(lit(1)).as("n_cust"),
          moneySum(col("c_acctbal")).as("total_bal"))
      IndexOps.reindex(newIndex, data)
    },
      """SELECT r.range AS c_nationkey, agg.n_cust,
                coalesce(agg.total_bal, 'NaN'::DOUBLE) AS total_bal
         FROM range(0, 30) r
         LEFT JOIN (
           SELECT c_nationkey::BIGINT AS ck, count(*) AS n_cust,
                  round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2)::DOUBLE AS total_bal
           FROM customer GROUP BY 1) agg
         ON r.range = agg.ck
         ORDER BY c_nationkey"""),
    Case("q13_dedup_first_wins", (s, dir) => {
      IndexOps.dedupFirstWins(read(s, dir, "events"), Seq("user_id"),
        orderColumns = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 2).as("value"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id, event_id, event_type, round(value, 2) AS value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id"""),

    // ---- scale-safe global row numbering --------------------------------
    Case("q106_stable_rownum", (s, dir) => {
      IndexOps.stableRowNumber(
          read(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
          Seq("o_custkey", "o_orderkey"))
        .select(col("o_orderkey"), col("row_num"))
        .gateOrdered(col("o_orderkey"))
    },
      // Two-phase distributed numbering ≡ a global row_number when the
      // order keys form a total order (o_orderkey breaks ties)
      """SELECT o_orderkey,
                row_number() OVER (ORDER BY o_custkey, o_orderkey) AS row_num
         FROM orders ORDER BY o_orderkey"""),

    // ---- SCD2 validity intervals from a change log ----------------------
    Case("q110_scd2_history", (s, dir) => {
      MergeOps.scd2History(
          read(s, dir, "orders")
            .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          Seq("o_custkey"), "o_orderkey")
        .select(col("o_custkey"), col("valid_from"), col("valid_to"),
          col("is_current"), round(col("o_totalprice"), 2).as("price"))
        .gateOrdered(col("o_custkey"), col("valid_from"))
    },
      // Validity intervals: next change's seq (exclusive) per key via lead;
      // open interval ⇒ current row
      """SELECT o_custkey, o_orderkey AS valid_from,
                lead(o_orderkey) OVER w AS valid_to,
                CASE WHEN lead(o_orderkey) OVER w IS NULL THEN 1 ELSE 0 END
                  AS is_current,
                round(o_totalprice, 2) AS price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_custkey, valid_from"""),

    // ---- rollup subtotal report -----------------------------------------
    Case("q113_rollup", (s, dir) => {
      AggOps.rollupReport(read(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(round(sum(col("l_quantity")), 2).as("sum_qty"),
            count(lit(1)).as("n")))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          col("n"), col("grp").cast("long").as("grp"))
        .gateOrdered(col("grp"), col("l_returnflag"), col("l_linestatus"))
    },
      // GROUP BY ROLLUP with the standard grouping bitmask; '(all)' labels
      // replace the NULL group markers on both engines
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
                coalesce(l_linestatus, '(all)') AS l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty, count(*)::BIGINT AS n,
                GROUPING(l_returnflag, l_linestatus)::BIGINT AS grp
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY grp, l_returnflag, l_linestatus"""),

    // ---- pivot cross-tab (hour x event type) ----------------------------
    Case("q114_pivot", (s, dir) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val p = AggOps.pivotTable(
        EventsSource.read(s, s"$dir/events.parquet")
          .withColumn("hour_of_day", hour(col("ts"))),
        "hour_of_day", "event_type", types, count(lit(1)))
      p.select(col("hour_of_day") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy(col("hour_of_day"))
    },
      // Pivot ≡ conditional aggregation with an explicit value list
      """SELECT hour(ts)::INT AS hour_of_day,
                sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS "view",
                sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
                sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
                sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error
         FROM events GROUP BY 1 ORDER BY hour_of_day"""),

    // ---- keyed upsert (refresh batch into base) -------------------------
    Case("q77_upsert", (s, dir) => {
      // deterministic fixture: keys ≡ 3 (mod 7) refresh with shifted
      // balances; 20 brand-new keys append above the key space
      val base = read(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      val refreshed = base.filter(col("c_custkey") % 7 === 3)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      val fresh = read(s, dir, "customer").filter(col("c_custkey") < 20)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          concat(lit("new_"), col("c_name")).as("c_name"),
          col("c_nationkey"), lit(0.0).as("c_acctbal"))
      MergeOps.upsert(base, refreshed.unionByName(fresh), Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_custkey"))
    },
      // Upsert: refreshed keys replaced, new keys appended, rest untouched
      """SELECT c_custkey, c_name, c_nationkey,
           round(CASE WHEN c_custkey % 7 = 3 THEN c_acctbal + 100.0
                      ELSE c_acctbal END, 2) AS acctbal
         FROM customer
         UNION ALL
         SELECT c_custkey + 1000000, 'new_' || c_name, c_nationkey, 0.0
         FROM customer WHERE c_custkey < 20
         ORDER BY c_custkey"""),

    // ---- CDC change-log application (last-writer-wins + deletes) --------
    Case("q78_cdc_apply", (s, dir) => {
      // change log: keys ≡ 0 (mod 10) get upsert(seq=1) then delete(seq=2)
      // → gone; keys ≡ 5 (mod 10) get delete(seq=1) then upsert(seq=2,
      // balance 999) → survive with the new balance
      val base = read(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val tenth = base.filter(col("c_custkey") % 10 === 0)
      val fifth = base.filter(col("c_custkey") % 10 === 5)
      val changes =
        tenth.withColumn("c_acctbal", lit(0.0))
          .withColumn("op", lit("upsert")).withColumn("seq", lit(1L))
        .unionByName(tenth
          .withColumn("op", lit("delete")).withColumn("seq", lit(2L)))
        .unionByName(fifth
          .withColumn("op", lit("delete")).withColumn("seq", lit(1L)))
        .unionByName(fifth.withColumn("c_acctbal", lit(999.0))
          .withColumn("op", lit("upsert")).withColumn("seq", lit(2L)))
      MergeOps.applyChanges(base, changes, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .gateOrdered(col("c_custkey"))
    },
      // CDC fold: %10=0 keys deleted (delete at seq 2 wins), %10=5 keys
      // rewritten by the seq-2 upsert, everything else untouched
      """SELECT c_custkey, c_name,
           round(CASE WHEN c_custkey % 10 = 5 THEN 999.0
                      ELSE c_acctbal END, 2) AS acctbal
         FROM customer
         WHERE c_custkey % 10 <> 0
         ORDER BY c_custkey"""))
}
