package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.frame.CalculatedColumn
import graft.io.ParquetIO
import graft.operators.Temporal
import graft.ops.{FilterOps, LayoutOps, MemoryOps, ScaleOps, SchemaOps}
import graft.sources.EventsSource

import Support._

/** Catalog family: scans, filters and projections, joins (broadcast,
  * bloom-prefiltered, salted, temporal as-of and range), sort and top-k,
  * windows, the frame API surface, schema ops and calculated columns,
  * parquet I/O and layout (footer metadata, archives, hive partitions,
  * Z-order), scale sketches and the supplier-part graph features. */
object ScansJoins {

  /** Stage (once per source dir per JVM) the q185 archive fixtures: a zip
    * holding the region table and a 7z (stored/COPY method — extraction
    * correctness, not compressor coverage, is under test) holding nation,
    * each built from real single-file parquet writes of the catalog
    * tables. Cached so bench passes measure EXTRACTION, not staging. */
  private val archiveCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stageArchives(s: SparkSession, dir: String): String =
    archiveCache.computeIfAbsent(dir, { d =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_arc_").toString
      val regionFile = s"$tmp/region_src.parquet"
      ParquetIO.writeSingleFile(read(s, d, "region"), regionFile)
      val nationFile = s"$tmp/nation_src.parquet"
      ParquetIO.writeSingleFile(read(s, d, "nation"), nationFile)
      val zout = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(s"$tmp/region.zip"))
      try {
        zout.putNextEntry(new java.util.zip.ZipEntry("data/region.parquet"))
        zout.write(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(regionFile)))
        zout.closeEntry()
      } finally zout.close()
      val sz = new org.apache.commons.compress.archivers.sevenz.SevenZOutputFile(
        new java.io.File(s"$tmp/nation.7z"))
      try {
        sz.setContentCompression(
          org.apache.commons.compress.archivers.sevenz.SevenZMethod.COPY)
        val nf = new java.io.File(nationFile)
        val e = sz.createArchiveEntry(nf, "nation.parquet")
        sz.putArchiveEntry(e)
        sz.write(java.nio.file.Files.readAllBytes(nf.toPath))
        sz.closeArchiveEntry()
      } finally sz.close()
      tmp
    })

  /** Stage (once per source dir per JVM) the q187 head() fixture: orders
    * as ONE parquet file whose row order IS o_orderkey order, so "first n
    * rows in file order" is deterministic and oracle-replayable. */
  private val orderedOrdersCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stageOrderedOrders(s: SparkSession, dir: String): String =
    orderedOrdersCache.computeIfAbsent(dir, { d =>
      val f = java.nio.file.Files.createTempDirectory("graft_head_").toString +
        "/orders_sorted.parquet"
      ParquetIO.writeSingleFile(
        read(s, d, "orders").coalesce(1).sortWithinPartitions(col("o_orderkey")), f)
      f
    })

  /** Stage (once per source dir per JVM) the q175 messy-lake fixture: two
    * schema versions (v2 adds n_chars) plus a truncated junk file under a
    * .parquet name. Cached so bench's warm + two measured passes (and the
    * correctness run) re-measure the tolerant READ, not the staging write
    * — and so repeated rounds stop accumulating orphan /tmp directories. */
  private val evolvingLakeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stageEvolvingLake(s: SparkSession, dir: String): String =
    evolvingLakeCache.computeIfAbsent(dir, { d =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_lake_").toString
      val docs = read(s, d, "documents").filter(col("doc_id") <= 100)
      docs.filter(col("doc_id") <= 50).select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      docs.filter(col("doc_id") > 50).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
      // a truncated upload: junk bytes under a .parquet name
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/v2/part-junk.parquet"),
        Array.fill[Byte](96)(0x5a))
      tmp
    })

  /** q193's working directory, cached per source dir per JVM (the q175
    * precedent): every invocation REBUILDS the lakes inside it — the
    * query's semantics are self-contained — but never leaks new temp
    * dirs across bench's repeated passes. */
  private val partitionOverwriteCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage (once per source dir per JVM) a hive-layout date-partitioned
    * copy of the events table and return it as a DataFrame. Cached so
    * bench's warm+measured passes re-measure the PRUNED READ, not the
    * one-time layout job — mirroring production, where the layout is
    * written once and queried daily. */
  private val partitionedEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stagePartitionedEvents(s: SparkSession, dir: String): DataFrame = {
    val out = partitionedEventsCache.computeIfAbsent(dir, { d =>
      val o = java.nio.file.Files.createTempDirectory("graft_part_").toString
      EventsSource.writeDatePartitioned(s, s"$d/events.parquet", o)
      o
    })
    EventsSource.readPartitioned(s, out)
  }

  /** q51 oracle: the Morton interleave unrolled into 16 shift-mask terms —
    * DuckDB recomputes the exact z-value bit for bit. Bucketization uses
    * trunc to mirror Spark's cast-to-long, clamped to the edge buckets. */
  private def zorderSql: String = {
    val terms = (0 until 8).flatMap(b => Seq(
      s"(((bx >> $b) & 1) << ${2 * b})",
      s"(((by >> $b) & 1) << ${2 * b + 1})"))
    s"""WITH t AS (
         SELECT doc_id, n_chars,
           least(255, greatest(0,
             CAST(trunc((doc_id - 0.0) / 100000.0 * 255.0) AS BIGINT))) AS bx,
           least(255, greatest(0,
             CAST(trunc((n_chars - 0.0) / 2000.0 * 255.0) AS BIGINT))) AS by
         FROM documents)
       SELECT doc_id, n_chars, ${terms.mkString(" + ")} AS zval
       FROM t ORDER BY doc_id"""
  }

  val cases: Seq[Case] = Seq(
    // ---- scans / filters / projections (S1, P1–P5) ----------------------
    Case("q01_pricing_summary", (s, dir) => {
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .gateOrdered(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS sum_base_price,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Case("q02_filter_expression", (s, dir) => {
      FilterOps.filter(read(s, dir, "lineitem"),
        Some("l_quantity > 45.0 and l_discount <= 0.02 or l_returnflag == 'R' and l_quantity < 5.0"),
        Some(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
         FROM lineitem
         WHERE (l_quantity > 45.0 AND l_discount <= 0.02)
            OR (l_returnflag = 'R' AND l_quantity < 5.0)
         ORDER BY l_orderkey, l_linenumber"""),
    Case("q03_filter_in_list", (s, dir) => {
      FilterOps.filter(read(s, dir, "lineitem"),
        Some("l_returnflag in ['A', 'R'] and l_linenumber in [1, 2] and l_quantity >= 48.0"),
        Some(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem
         WHERE l_returnflag IN ('A', 'R') AND l_linenumber IN (1, 2)
           AND l_quantity >= 48.0
         ORDER BY l_orderkey, l_linenumber"""),
    Case("q04_project_index", (s, dir) => {
      FilterOps.project(read(s, dir, "lineitem"),
        Some(Seq("l_quantity", "l_extendedprice")),
        indexColumns = Seq("l_orderkey", "l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),

    // ---- joins (J-series + extensions) ----------------------------------
    Case("q05_join_revenue_nation", (s, dir) => {
      val li = read(s, dir, "lineitem")
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .gateOrdered(col("n_name"))
    },
      """SELECT n_name,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),
    Case("q06_join_broadcast_part", (s, dir) => {
      read(s, dir, "lineitem")
        .join(broadcast(read(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
            count(lit(1)), 4).as("avg_price"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .gateOrdered(col("p_brand"))
    },
      """SELECT p_brand, count(*) AS n_items,
         round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE / count(*), 4) AS avg_price,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    // ---- sort / top-k (O1) ----------------------------------------------
    Case("q07_topk_orders", (s, dir) => {
      read(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("total_price"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    },
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"""),

    // ---- windows ---------------------------------------------------------
    Case("q15_window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      read(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
        .gateOrdered(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    Case("q16_rank_per_group", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      read(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total_price"), col("rank"))
        .orderBy(col("o_custkey"), col("rank"))
    },
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price, rank
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
               FROM orders) t
         WHERE rank <= 3 ORDER BY o_custkey, rank"""),

    // ---- deprecated-frame scalar arithmetic surface ---------------------
    // the LazyParquetDataFrame dunder parity (lazy_parquet.py:899-1038):
    // scalar + broadcasts over numeric non-index columns as a lazy plan
    Case("q209_frame_arith", (s, dir) => {
      val lp = graft.frame.LazyParquetFrame(s, s"$dir/customer.parquet",
        Seq("c_custkey"))
      (lp + 10.0).select(col("c_custkey"),
          round(col("c_acctbal"), 2).as("acctbal_plus10"),
          col("c_name"))
        .gateOrdered(col("c_custkey"))
    },
      // scalar + over numeric non-index columns, index passes through
      """SELECT c_custkey, round(c_acctbal + 10.0, 2) AS acctbal_plus10, c_name
         FROM customer ORDER BY c_custkey"""),

    // ---- .loc label indexer: lookup + assignment in one plan ------------
    // getter = index-equality filter (pushed to the scan), setter = when()
    // projection rewrite; the query reads the frame AFTER a locSet so the
    // oracle pins both directions at once
    Case("q210_loc_indexer", (s, dir) => {
      val lp = graft.frame.LazyParquetFrame(s, s"$dir/customer.parquet",
        Seq("c_custkey"))
      lp.locSet(Seq(7L), "c_mktsegment", "RELABELED")
      lp.loc(Seq(7L), Seq("c_mktsegment", "c_name"))
        .unionByName(lp.loc(Seq(8L), Seq("c_mktsegment", "c_name")))
        .gateOrdered(col("c_custkey"))
    },
      // .loc setter visible through the getter: key 7 relabeled, key 8 not
      """SELECT c_custkey,
                CASE WHEN c_custkey = 7 THEN 'RELABELED' ELSE c_mktsegment END
                  AS c_mktsegment,
                c_name
         FROM customer WHERE c_custkey IN (7, 8) ORDER BY c_custkey"""),

    // ---- archive staging: zip + 7z extraction feed real reads (S6) ------
    Case("q185_archive_extract", (s, dir) => {
      // both extraction paths exercised end-to-end under the oracle: a zip
      // holding the region table and a 7z holding nation are extracted by
      // ArchiveUtils (zip-first, 7z fallback — the reference's order) and
      // the EXTRACTED parquet files drive real reads; the rollup can only
      // match the oracle if extraction reproduced the bytes
      val tmp = stageArchives(s, dir)
      val zipOut = graft.io.ArchiveUtils.extractArchive(
        s"$tmp/region.zip", s"$tmp/out_zip")
      val szOut = graft.io.ArchiveUtils.extractArchive(
        s"$tmp/nation.7z", s"$tmp/out_7z")
      def stats(fmt: String, paths: Seq[java.nio.file.Path], key: String) = {
        val pq = paths.filter(_.toString.endsWith(".parquet"))
        pq.map(p => ParquetIO.read(s, p.toString)).reduce(_ unionByName _)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col(key)).as("n_keys"))
          .select(lit(fmt).as("archive_format"),
            lit(pq.size.toLong).as("n_files"), col("n_rows"), col("n_keys"))
      }
      stats("7z", szOut, "n_nationkey")
        .unionByName(stats("zip", zipOut, "r_regionkey"))
        .orderBy(col("archive_format"))
    },
      // Incremental near-dup: exact cross-parity Jaccard (odd = new batch,
      // even = historical corpus); recall argument as q25 — banding is a
      // per-row projection, so the cross-parity candidate net is the q25 net
      // restricted to odd×even pairs.
      // Extraction rollups recomputed from the source tables: the engine
      // side reads parquet EXTRACTED from a zip and a 7z, so any byte damage
      // in the archive round-trip breaks the hash match
      """SELECT * FROM (
           SELECT '7z' AS archive_format, 1::BIGINT AS n_files,
                  count(*) AS n_rows, count(DISTINCT n_nationkey) AS n_keys
           FROM nation
           UNION ALL
           SELECT 'zip', 1::BIGINT, count(*), count(DISTINCT r_regionkey)
           FROM region) t
         ORDER BY archive_format"""),

    // ---- head(n): first n rows in FILE order (O2) -----------------------
    Case("q187_head", (s, dir) => {
      // the reference's head() returns the file's LEADING rows, not a
      // top-k: staged single file is written in orderkey order, so file
      // order is deterministic and the oracle replays it with LIMIT
      val f = stageOrderedOrders(s, dir)
      graft.frame.LazyParquetFrame(s, f).head(7)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    },
      // head(n) = the file's leading rows; the staged single file is written
      // in o_orderkey order, so LIMIT over the ordered table replays it
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
         FROM orders ORDER BY o_orderkey LIMIT 7"""),

    // ---- schema ops / calculated columns (F3, P9) -----------------------
    Case("q23_schema_rename", (s, dir) => {
      SchemaOps.rename(read(s, dir, "region"),
        Map("r_regionkey" -> "region_id", "r_name" -> "region_name"))
        .orderBy(col("region_id"))
    },
      """SELECT r_regionkey AS region_id, r_name AS region_name
         FROM region ORDER BY region_id"""),
    Case("q24_calc_columns", (s, dir) => {
      CalculatedColumn(
        read(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"),
        Seq(
          CalculatedColumn("disc_price", "l_extendedprice * (1 - l_discount)"),
          CalculatedColumn("charge", "disc_price * (1 + l_tax)")))
        // per-row products of identical input doubles are bit-identical
        // across engines — no rounding (rounding would *introduce* exact-half
        // ambiguity: these products are 6-decimal-exact values)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("disc_price"), col("charge"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) AS disc_price,
         l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    Case("q32_memory_report", (s, dir) => {
      val report = MemoryOps.memoryUsage(s, s"$dir/lineitem.parquet")
      import s.implicits._
      report.columns.map(c => (c.column, c.numValues))
        .toDF("column_name", "num_values")
        .orderBy(col("column_name"))
    },
      // footer value counts are engine-independent facts of the file; DuckDB
      // reads them via parquet_metadata(). The driver runs Verify at sf0.01
      // (contract), so the path is pinned to that scale.
      """SELECT path_in_schema AS column_name, sum(num_values)::BIGINT AS num_values
         FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')
         GROUP BY 1 ORDER BY 1"""),
    Case("q33_demo_blockmodel", (s, _) => {
      graft.sources.DemoBlockModel.create(s,
        shape = (20, 10, 5), blockSize = (2.0, 1.0, 0.5), corner = (100.0, 200.0, 300.0))
        .orderBy(col("c_order_xyz"))
    },
      // block sizes/corners chosen binary-representable → coordinates are
      // exact doubles in both engines, no rounding needed
      """SELECT
         100.0 + 1.0 + (r.range // 50) * 2.0 AS x,
         200.0 + 0.5 + ((r.range // 5) % 10) * 1.0 AS y,
         300.0 + 0.25 + (r.range % 5) * 0.5 AS z,
         r.range AS c_order_xyz,
         (r.range % 5) * 200 + ((r.range // 5) % 10) * 20 + (r.range // 50) AS f_order_zyx,
         302.5 - (300.0 + 0.25 + (r.range % 5) * 0.5) AS depth
         FROM range(0, 1000) r ORDER BY c_order_xyz"""),

    // ---- frame API surface (P7, P8, P4, A3, S2) -------------------------
    Case("q35_tuple_filter", (s, dir) => {
      // P7 contract: conjunctive tuples, output = predicate columns only
      graft.frame.LazyParquetFrame(s, s"$dir/lineitem.parquet")
        .filter(("l_quantity", ">", 49.0), ("l_orderkey", "<", 10000L))
        .orderBy(col("l_orderkey"), col("l_quantity"))
    },
      // ---- round-3 additions ----------------------------------------------
      """SELECT l_quantity, l_orderkey FROM lineitem
         WHERE l_quantity > 49.0 AND l_orderkey < 10000
         ORDER BY l_orderkey, l_quantity"""),
    Case("q36_describe", (s, dir) => {
      // describe() emits strings (Spark summary contract); cast back and
      // round so the driver hashes doubles, not engine-formatted text
      graft.frame.LazyParquetFrame(s, s"$dir/lineitem.parquet")
        .describe("count", "mean", "stddev", "min", "max")
        .select(col("summary"),
          round(col("l_quantity").cast("double"), 4).as("l_quantity"),
          round(col("l_discount").cast("double"), 4).as("l_discount"))
        .orderBy(col("summary"))
    },
      """SELECT summary, round(l_quantity, 4) AS l_quantity,
                round(l_discount, 4) AS l_discount FROM (
           SELECT 'count' AS summary, count(l_quantity)::DOUBLE AS l_quantity,
                  count(l_discount)::DOUBLE AS l_discount FROM lineitem
           UNION ALL SELECT 'mean', avg(l_quantity), avg(l_discount) FROM lineitem
           UNION ALL SELECT 'stddev', stddev_samp(l_quantity), stddev_samp(l_discount) FROM lineitem
           UNION ALL SELECT 'min', min(l_quantity), min(l_discount) FROM lineitem
           UNION ALL SELECT 'max', max(l_quantity), max(l_discount) FROM lineitem) t
         ORDER BY summary"""),
    Case("q37_query_passthrough", (s, dir) => {
      graft.frame.LazyParquetFrame(s, s"$dir/orders.parquet")
        .query("o_totalprice >= 400000.0 and o_orderstatus == 'F'")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("total_price"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price, o_orderstatus
         FROM orders
         WHERE o_totalprice >= 400000.0 AND o_orderstatus = 'F'
         ORDER BY o_orderkey"""),
    Case("q38_referenced_columns", (s, _) => {
      import s.implicits._
      graft.expr.FilterParser
        .referencedColumns(
          "l_quantity > 45.0 and (l_discount <= 0.02 or l_returnflag in ['R', 'A'])")
        .toSeq.sorted.toDF("col_name")
        .orderBy(col("col_name"))
    },
      """SELECT col_name FROM (VALUES ('l_discount'), ('l_quantity'), ('l_returnflag')) t(col_name)
         ORDER BY col_name"""),
    Case("q39_footer_schema", (s, dir) => {
      // S2: schema facts straight from the footer, no data read — physical
      // type names and value counts are engine-independent file facts
      val info = graft.io.ParquetIO.footer(s, s"$dir/part.parquet")
      import s.implicits._
      info.columns.toSeq.map { case (name, c) => (name, c.physicalType, c.numValues) }
        .toDF("column_name", "physical_type", "num_values")
        .orderBy(col("column_name"))
    },
      // physical type + value count are facts of the file footer; DuckDB reads
      // the same footer. Path pinned to the driver's Verify scale (like q32).
      """SELECT path_in_schema AS column_name, min(type::VARCHAR) AS physical_type,
                sum(num_values)::BIGINT AS num_values
         FROM parquet_metadata('/root/testdata/sf0.01/part.parquet')
         GROUP BY 1 ORDER BY 1"""),

    // ---- temporal joins (Temporal extensions) ---------------------------
    Case("q45_asof_join", (s, dir) => {
      // for each purchase, the most recent prior view by the same user —
      // the classic event-attribution as-of join
      val events = EventsSource.read(s, s"$dir/events.parquet")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 2).as("purchase_value"))
      val views = events.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_event"),
          round(col("value"), 2).as("view_value"))
      Temporal.asofJoin(purchases, views, Seq("user_id"), "ts", "ts",
          rightTieBreak = Some("view_event"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("purchase_value"), col("view_event"), col("view_value"))
        .orderBy(col("event_id"))
    },
      // asof = left join on v.ts <= p.ts keeping the latest (ties: max view
      // event id) — the O(n·m) oracle formulation of the O(n+m) union-window
      // operator under test
      """WITH p AS (SELECT event_id, user_id, ts, round(value, 2) AS purchase_value
                    FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ts AS vts, event_id AS view_event,
                           round(value, 2) AS view_value
                    FROM events WHERE event_type = 'view')
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, purchase_value,
                view_event, view_value
         FROM (SELECT p.*, v.view_event, v.view_value,
                 row_number() OVER (PARTITION BY p.event_id
                   ORDER BY v.vts DESC, v.view_event DESC) AS rn
               FROM p LEFT JOIN v
                 ON p.user_id = v.user_id AND v.vts <= p.ts) t
         WHERE rn = 1 ORDER BY event_id"""),
    Case("q46_range_join", (s, dir) => {
      import s.implicits._
      // overlapping account-balance bands: a point may land in 0, 1, or 2
      val bands = Seq(("neg", -1000.0, 0.0), ("low", 0.0, 3000.0),
        ("mid", 2000.0, 7000.0), ("high", 6000.0, 10000.0)).toDF("band", "lo", "hi")
      Temporal.rangeJoin(
          read(s, dir, "customer")
            .select(col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal")),
          bands, "acctbal", "lo", "hi", bucketWidth = 1000.0)
        .select(col("c_custkey"), col("band"), col("acctbal"))
        .orderBy(col("c_custkey"), col("band"))
    },
      """WITH bands(band, lo, hi) AS (VALUES
             ('neg', -1000.0, 0.0), ('low', 0.0, 3000.0),
             ('mid', 2000.0, 7000.0), ('high', 6000.0, 10000.0)),
           c AS (SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM customer)
         SELECT c_custkey, band, acctbal FROM c
         JOIN bands ON acctbal BETWEEN lo::DOUBLE AND hi::DOUBLE
         ORDER BY c_custkey, band"""),

    // ---- bloom-prefiltered selective join (ScaleOps) --------------------
    Case("q50_bloom_join", (s, dir) => {
      // selective dimension (top-balance customers) joined against the
      // fact side with a bloom prefilter — result provably equals the
      // plain join (no false negatives), which is the oracle
      val hot = read(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_name"))
      ScaleOps.bloomPrefilteredJoin(
          read(s, dir, "orders"), "o_custkey", hot, "c_custkey",
          expectedItems = 100000L)
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("total_price"))
        .gateOrdered(col("o_orderkey"))
    },
      """SELECT o_orderkey, c_custkey, c_name, round(o_totalprice, 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_acctbal > 9000
         ORDER BY o_orderkey"""),

    // ---- Z-order clustering key (LayoutOps) -----------------------------
    Case("q51_zorder_key", (s, dir) => {
      // fixed bucketization ranges so the z-value is scale-independent and
      // cross-engine reproducible (writeZOrdered derives them from data)
      read(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          LayoutOps.zValue(Seq(
            col("doc_id") -> (0.0, 100000.0),
            col("n_chars") -> (0.0, 2000.0)), bits = 8).as("zval"))
        .orderBy(col("doc_id"))
    },
      zorderSql),
    // ---- messy-lake read: schema evolution + corrupt-file tolerance -----
    // A lake directory written at two schema versions (v2 adds n_chars)
    // with a truncated junk file dropped in: mergeSchema unifies the
    // footers (v1 rows read n_chars as NULL), ignoreCorruptFiles skips the
    // junk instead of failing the scan. Oracle recomputes the per-lang
    // rollup from the flat table with the same v1/v2 boundary.
    Case("q175_evolving_read", (s, dir) => {
      val tmp = stageEvolvingLake(s, dir)
      ParquetIO.readLake(s, s"$tmp/{v1,v2}")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_chars")).as("n_v2"),
          sum("n_chars").as("sum_chars"))
        .gateOrdered(col("lang"))
    },
      // Messy-lake read: v1 files (doc_id <= 50) carry no n_chars column, so
      // it reads NULL there; the junk file contributes nothing
      """SELECT lang, count(*) AS n_docs,
                count(CASE WHEN doc_id > 50 THEN n_chars END) AS n_v2,
                sum(CASE WHEN doc_id > 50 THEN n_chars END)::BIGINT AS sum_chars
         FROM documents WHERE doc_id <= 100
         GROUP BY lang ORDER BY lang"""),

    // ---- per-key skew diagnostic ----------------------------------------
    Case("q104_key_skew", (s, dir) => {
      ScaleOps.keySkewReport(read(s, dir, "lineitem"), Seq("l_partkey"))
        .select(col("n_keys"), col("n_rows"), col("max_count"), col("mean_count"),
          round(col("p50_count"), 4).as("p50_count"),
          round(col("p90_count"), 4).as("p90_count"),
          round(col("p99_count"), 4).as("p99_count"), col("skew"))
    },
      // Per-key count distribution; interpolated percentiles have
      // quantile_cont ≡ percentile parity (proven by q17)
      """WITH c AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey)
         SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS n_rows,
                max(c)::BIGINT AS max_count, round(avg(c), 4) AS mean_count,
                round(quantile_cont(c, 0.5), 4) AS p50_count,
                round(quantile_cont(c, 0.9), 4) AS p90_count,
                round(quantile_cont(c, 0.99), 4) AS p99_count,
                round(max(c)::DOUBLE / avg(c), 4) AS skew
         FROM c"""),

    // ---- join fanout estimate (self-join worst case) --------------------
    Case("q105_join_fanout", (s, dir) => {
      val li = read(s, dir, "lineitem")
      ScaleOps.joinFanoutReport(li, li, Seq("l_partkey"))
    },
      // Self-join fanout from per-key counts alone: sum/max of c² — the
      // exact inner-join output size without running the join
      """WITH c AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey)
         SELECT count(*)::BIGINT AS n_keys_left, count(*)::BIGINT AS n_keys_right,
                count(*)::BIGINT AS n_keys_matched, sum(c * c)::BIGINT AS est_rows,
                max(c * c)::BIGINT AS max_fanout, round(avg(c * c), 4) AS mean_fanout
         FROM c"""),

    // ---- KMV distinct-count sketch vs exact (ScaleOps) --------------------
    // the replayable cardinality estimator: md5-prefix hashes, k-bounded
    // minima aggregate, closed-form (k-1)/u_(k) — DuckDB lands on the
    // bit-identical estimate
    Case("q284_kmv_distinct", (s, dir) => {
      val li = read(s, dir, "lineitem")
      val sk = ScaleOps.kmvDistinct(li, "l_orderkey", k = 256)
      val exact = li.filter(col("l_orderkey").isNotNull)
        .agg(count_distinct(col("l_orderkey")).as("exact"))
      sk.crossJoin(broadcast(exact))
        .select(col("k"), col("n_kept"),
          (round(col("estimate"), 6) + lit(0.0)).as("estimate"),
          col("exact"),
          (round(abs(col("estimate") - col("exact")) / col("exact"), 6)
            + lit(0.0)).as("rel_error"))
    },
      // replay the identical sketch: same md5-prefix hash, same k smallest
      // DISTINCT values, same closed-form estimator
      """WITH h AS (SELECT DISTINCT ('0x' || substr(md5('kmv:'
                  || l_orderkey::VARCHAR), 1, 15))::UBIGINT::BIGINT hv
                FROM lineitem WHERE l_orderkey IS NOT NULL),
         kk AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
         t AS (SELECT count(*)::BIGINT n_kept, max(hv)::DOUBLE hk FROM kk),
         ex AS (SELECT count(DISTINCT l_orderkey)::BIGINT exact
                FROM lineitem WHERE l_orderkey IS NOT NULL),
         est AS (SELECT n_kept,
                  CASE WHEN n_kept < 256 THEN n_kept::DOUBLE
                    ELSE 255.0 / (hk / 1152921504606846976.0) END e
                FROM t)
         SELECT 256 AS k, n_kept, round(e, 6) + 0.0 AS estimate, exact,
           round(abs(e - exact) / exact, 6) + 0.0 AS rel_error
         FROM est, ex"""),

    // ---- Count-Min sketch vs exact counts (ScaleOps) -----------------------
    // 4x64 cells over the supplier key (100 keys force collisions): the
    // one-sided guarantee audited key by key, summarized
    Case("q291_count_min", (s, dir) => {
      val li = read(s, dir, "lineitem")
      // ONE keyed aggregation feeds all three consumers (sketch build,
      // probe keys, exact counts) instead of three separate input scans:
      // the cells are value-identical (a bucket's row count = the sum of
      // per-key counts hashing there), the probe key set is identical,
      // and the exact table IS the aggregate — the oracle replays the
      // same numbers bit-for-bit.
      val perKey = graft.ops.ScaleOps.registerInternalPersist(
        li.filter(col("l_suppkey").isNotNull)
          .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("exact"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val cells = ScaleOps.countMinCellsFromCounts(perKey, "key", "exact",
        depth = 4, width = 64)
      val est = ScaleOps.countMinEstimates(cells,
        perKey.select(col("key").as("l_suppkey")), "l_suppkey",
        depth = 4, width = 64)
      est.join(perKey, Seq("key"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("exact")).as("sum_exact"),
          sum(col("estimate")).as("sum_est"),
          sum(when(col("estimate") > col("exact"), 1L).otherwise(0L))
            .as("n_over"),
          max(col("estimate") - col("exact")).as("max_over"))
        .select(col("n_keys"), lit(4).as("depth"), lit(64).as("width"),
          col("sum_exact"), col("sum_est"), col("n_over"), col("max_over"))
    },
      // identical md5 slicing (one digest, four 8-hex-char row hashes),
      // cells, and min-over-rows probe
      """WITH k AS (SELECT DISTINCT l_suppkey FROM lineitem
                WHERE l_suppkey IS NOT NULL),
         cells AS (SELECT d, ('0x' || substr(md5('cms:'
                  || l_suppkey::VARCHAR), (d * 8 + 1)::INT, 8))::UBIGINT
                    % 64 bucket,
                  count(*)::BIGINT cnt
                FROM lineitem, unnest(range(0, 4)) t(d)
                WHERE l_suppkey IS NOT NULL GROUP BY 1, 2),
         probe AS (SELECT l_suppkey, d, ('0x' || substr(md5('cms:'
                  || l_suppkey::VARCHAR), (d * 8 + 1)::INT, 8))::UBIGINT
                    % 64 bucket
                FROM k, unnest(range(0, 4)) t(d)),
         est AS (SELECT p.l_suppkey sk, min(coalesce(c.cnt, 0)) estimate
                FROM probe p LEFT JOIN cells c
                  ON c.d = p.d AND c.bucket = p.bucket
                GROUP BY 1),
         ex AS (SELECT l_suppkey sk, count(*)::BIGINT exact FROM lineitem
                WHERE l_suppkey IS NOT NULL GROUP BY 1)
         SELECT count(*)::BIGINT AS n_keys, 4 AS depth, 64 AS width,
           sum(exact)::BIGINT AS sum_exact,
           sum(estimate)::BIGINT AS sum_est,
           sum(CASE WHEN estimate > exact THEN 1 ELSE 0 END)::BIGINT
             AS n_over,
           max(estimate - exact)::BIGINT AS max_over
         FROM est JOIN ex USING (sk)"""),

    // ---- classical seasonal decomposition of daily volume (Temporal) ------
    // period-7 centered MA trend + zero-mean weekday indices on the
    // zero-filled day spine
    Case("q312_seasonal_decompose", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val daily = ev.groupBy(floor(unix_timestamp(col("ts")) / 86400).as("t"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("t"))
      val series = spine.join(daily, Seq("t"), "left").na.fill(0.0, Seq("y"))
      Temporal.classicalDecompose(series, "t", "y", period = 7)
        .select(col("t"), col("y"),
          (round(col("trend"), 6) + lit(0.0)).as("trend"),
          (round(col("seasonal"), 6) + lit(0.0)).as("seasonal"),
          (round(col("remainder"), 6) + lit(0.0)).as("remainder"))
        .gateOrdered(col("t"))
    },
      // the q301 day spine; trend via the bounded offsets join; weekday
      // indices re-centered to zero mean
      """WITH e AS (SELECT floor(epoch(ts) / 86400)::BIGINT d FROM events
                WHERE ts IS NOT NULL),
         daily AS (SELECT d, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) t),
         s AS (SELECT spine.t, coalesce(daily.y, 0) y
               FROM spine LEFT JOIN daily ON daily.d = spine.t),
         off AS (SELECT unnest(range(-3, 4)) o),
         tr AS (SELECT s.t + o tt, count(*) cnt, sum(y) / 7 trv
                FROM s, off GROUP BY 1 HAVING count(*) = 7),
         detr AS (SELECT s.t, s.y, tr.trv
                FROM s LEFT JOIN tr ON tr.tt = s.t),
         ph AS (SELECT t % 7 p, avg(y - trv) s0 FROM detr
                WHERE trv IS NOT NULL GROUP BY 1),
         c AS (SELECT p, s0 - (SELECT avg(s0) FROM ph) sv FROM ph)
         SELECT d.t, d.y, round(d.trv, 6) + 0.0 AS trend,
           round(c.sv, 6) + 0.0 AS seasonal,
           round(d.y - d.trv - c.sv, 6) + 0.0 AS remainder
         FROM detr d LEFT JOIN c ON c.p = d.t % 7 ORDER BY d.t"""),

    // ---- Adamic-Adar supplier pairs sharing parts (GraphFeatures) ---------
    // bipartite co-occurrence: keyed self-join over parts, never
    // all-pairs; jaccard over full supplier part-sets
    Case("q313_adamic_adar", (s, dir) => {
      val edges = read(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"), col("l_partkey").as("part"))
      graft.operators.GraphFeatures
        .coOccurrencePairs(edges, "supp", "part", minCommon = 140)
        .select(col("a"), col("b"), col("common"),
          (round(col("adamic_adar"), 6) + lit(0.0)).as("adamic_adar"),
          (round(col("jaccard"), 6) + lit(0.0)).as("jaccard"))
        .gateOrdered(col("a"), col("b"))
    },
      // the same distinct-edge self-join over parts; AA weight from the
      // part's supplier degree; jaccard from full degrees
      """WITH e AS (SELECT DISTINCT l_suppkey a, l_partkey nb FROM lineitem
                WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
         nd AS (SELECT nb, count(*)::BIGINT dn FROM e GROUP BY 1),
         sd AS (SELECT a, count(*)::BIGINT d FROM e GROUP BY 1),
         p AS (SELECT l.a a, r.a b, count(*)::BIGINT common,
                 sum(1.0 / ln(nd.dn)) aa
               FROM e l JOIN e r ON l.nb = r.nb AND l.a < r.a
               JOIN nd ON nd.nb = l.nb
               GROUP BY 1, 2 HAVING count(*) >= 140)
         SELECT p.a, p.b, common, round(aa, 6) + 0.0 AS adamic_adar,
           round(common::DOUBLE / (da.d + db.d - common), 6) + 0.0 AS jaccard
         FROM p JOIN sd da ON da.a = p.a JOIN sd db ON db.a = p.b
         ORDER BY p.a, p.b"""),

    // ---- degree assortativity of the supplier-part graph (GraphFeatures) --
    // integer-exact endpoint-degree correlation over the distinct edges
    Case("q314_assortativity", (s, dir) => {
      val edges = read(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"), col("l_partkey").as("part"))
      graft.operators.GraphFeatures
        .degreeAssortativity(edges, "supp", "part", directed = true)
        .select(col("n_edges"), col("n_src"), col("n_dst"),
          (round(col("assortativity"), 6) + lit(0.0)).as("assortativity"))
    },
      // endpoint-degree Pearson over the distinct directed edge list;
      // integer moments are exact on both engines
      """WITH e AS (SELECT DISTINCT l_suppkey u, l_partkey v FROM lineitem
                WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
         du AS (SELECT u, count(*)::DOUBLE d FROM e GROUP BY 1),
         dv AS (SELECT v, count(*)::DOUBLE d FROM e GROUP BY 1),
         j AS (SELECT du.d x, dv.d y FROM e
               JOIN du ON du.u = e.u JOIN dv ON dv.v = e.v),
         m AS (SELECT count(*)::BIGINT n, sum(x) sx, sum(y) sy,
                 sum(x * x) sxx, sum(y * y) syy, sum(x * y) sxy FROM j),
         nn AS (SELECT count(DISTINCT u)::BIGINT n_src,
                 count(DISTINCT v)::BIGINT n_dst FROM e)
         SELECT n AS n_edges, n_src, n_dst,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN round((n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0
             END AS assortativity
         FROM m, nn"""),

    // ---- hive-partitioned write + pruned read (LayoutOps) -----------------
    // writePartitioned routes one writer per value; the read back
    // filters on the partition column (PlanSpec pins PartitionFilters)
    Case("q341_partition_pruning", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
      val path = s"$tmp/events_by_type"
      graft.ops.LayoutOps.writePartitioned(
        EventsSource.read(s, s"$dir/events.parquet")
          .filter(col("event_type").isNotNull),
        path, Seq("event_type"))
      s.read.parquet(path).filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_value"))
    },
      // the layout round trip reduces to the source predicate: the pruned
      // read must return exactly the click slice
      """SELECT count(*)::BIGINT AS n,
           round(sum(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS sum_value
         FROM events WHERE event_type = 'click'"""),

    // ---- 32-core of the supplier-part graph: the dense trading nucleus ----
    // iterative peeling on the prefixed bipartite graph; the fringe
    // (thin parts) strips away and drags weakly-attached rounds with it
    // until every survivor keeps >= 32 in-core connections
    Case("q395_kcore", (s, dir) => {
      val edges = read(s, dir, "lineitem")
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
      graft.operators.GraphFeatures.kCore(edges, "src", "dst", k = 32)
        .select(col("node"), col("degree"))
        .gateOrdered(col("node"))
    },
      // 8 statically-unrolled MATERIALIZED peel rounds (>= the measured
      // fixpoint depth; extra rounds are idempotent on the fixed point),
      // then in-core degrees from the surviving subgraph
      {
        val rounds = (1 to 8).map(i =>
          s"""a$i AS MATERIALIZED (SELECT s.a node FROM sym s
               JOIN a${i - 1} x ON s.a = x.node
               JOIN a${i - 1} y ON s.b = y.node
               GROUP BY s.a HAVING count(*) >= 32)""").mkString(",\n         ")
        s"""WITH e AS MATERIALIZED (SELECT DISTINCT
                 's' || l_suppkey a, 'p' || l_partkey b FROM lineitem),
         sym AS MATERIALIZED (SELECT a, b FROM e
               UNION SELECT b, a FROM e),
         a0 AS MATERIALIZED (SELECT DISTINCT a node FROM sym),
         $rounds
         SELECT s.a AS node, count(*)::BIGINT AS degree
         FROM sym s JOIN a8 x ON s.a = x.node JOIN a8 y ON s.b = y.node
         GROUP BY s.a ORDER BY node"""
      }),

    // ---- time-weighted average ------------------------------------------
    Case("q118_time_weighted", (s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("t_us", unix_micros(col("ts")))
      Temporal.timeWeightedAvg(ev, Seq("user_id"), "t_us", "value",
          tieCols = Seq("event_id"))
        .select(col("user_id"), round(col("twa"), 4).as("twa"),
          col("n_intervals"), col("total_duration"))
        .gateOrdered(col("user_id"))
    },
      // Duration-weighted mean in epoch-micros; (ts, event_id) ordering
      // makes the value→duration pairing deterministic under timestamp ties
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value
                    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         w AS (SELECT user_id, value,
                 (lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t)::DOUBLE
                   AS dt
               FROM e)
         SELECT user_id, round(sum(value * dt) / sum(dt), 4) AS twa,
                count(*)::BIGINT AS n_intervals, sum(dt)::BIGINT AS total_duration
         FROM w WHERE dt IS NOT NULL AND dt > 0
         GROUP BY user_id ORDER BY user_id"""),

    // ---- salted join ≡ plain join (the skew lever under the oracle) -----
    Case("q128_salted_join", (s, dir) => {
      val orders = read(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey")
      val cust = read(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      ScaleOps.saltedJoin(orders, cust, Seq("custkey"), saltFactor = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("total_price"))
        .gateOrdered(col("c_nationkey"))
    },
      // The salted join must be INVISIBLE in the result: oracle is the
      // plain join + the DECIMAL money-sum contract
      """SELECT c_nationkey, count(*) AS n_orders,
                round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE
                  AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey"""),

    // ---- JSON property extraction ----------------------------------------
    Case("q132_json_props", (s, dir) => {
      EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 4).as("avg_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .gateOrdered(col("event_type"))
    },
      // JSON field extraction parity: get_json_object ≡ json_extract on
      // the same path, integer-cast before aggregation
      """SELECT event_type, count(*) AS n,
                sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
                round(avg(json_extract(props, '$.k')::INT), 4) AS avg_k,
                min(json_extract(props, '$.k')::INT)::INT AS min_k,
                max(json_extract(props, '$.k')::INT)::INT AS max_k
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // ---- as-of join with staleness tolerance ----------------------------
    Case("q140_asof_tolerance", (s, dir) => {
      // q45's attribution join, but views older than 10 minutes are too
      // stale to attribute — the tolerance execution path under the oracle
      val events = EventsSource.read(s, s"$dir/events.parquet")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 2).as("purchase_value"))
      val views = events.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_event"),
          round(col("value"), 2).as("view_value"))
      Temporal.asofJoin(purchases, views, Seq("user_id"), "ts", "ts",
          rightTieBreak = Some("view_event"),
          toleranceUs = Some(600000000L))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("purchase_value"),
          col("view_event"), col("view_value"))
        .gateOrdered(col("event_id"))
    },
      // q45's mirror plus the tolerance predicate in the join condition:
      // a too-stale view leaves the purchase row with NULL attribution
      """WITH p AS (SELECT event_id, user_id, ts, round(value, 2) AS purchase_value
                    FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ts AS vts, event_id AS view_event,
                           round(value, 2) AS view_value
                    FROM events WHERE event_type = 'view')
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, purchase_value,
                view_event, view_value
         FROM (SELECT p.*, v.view_event, v.view_value,
                 row_number() OVER (PARTITION BY p.event_id
                   ORDER BY v.vts DESC, v.view_event DESC) AS rn
               FROM p LEFT JOIN v
                 ON p.user_id = v.user_id AND v.vts <= p.ts
                 AND epoch_us(p.ts) - epoch_us(v.vts) <= 600000000) t
         WHERE rn = 1 ORDER BY event_id"""),

    // ---- salted two-phase aggregation (≡ plain groupBy) -----------------
    Case("q141_salted_agg", (s, dir) => {
      // skew-safe aggregation must equal the unsalted result exactly
      ScaleOps.saltedCountSum(EventsSource.read(s, s"$dir/events.parquet"),
          Seq("event_type"), Seq("value"), saltFactor = 8)
        .select(col("event_type"), col("count_all"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("event_type"))
    },
      // Salted two-phase aggregation must equal the plain GROUP BY; the
      // double sum rounds at 4 dp (house convention — accumulation order
      // differs between the salted partial merge and DuckDB's serial sum)
      """SELECT event_type, count(*) AS count_all,
                round(sum(value), 4) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // ---- Space-Saving heavy-hitters sketch ------------------------------
    Case("q151_heavy_sketch", (s, dir) => {
      // capacity 64 >> 5 distinct event types ⇒ the sketch never evicts,
      // counts are exact and the oracle is the plain GROUP BY top-k
      ScaleOps.heavyHittersSketch(
          EventsSource.read(s, s"$dir/events.parquet"), "event_type",
          k = 5, capacity = 64)
        .orderBy(col("rank"))
    },
      // Sketch capacity exceeds the key cardinality ⇒ exact top-k counts
      """WITH c AS (SELECT event_type AS key, count(*) AS "count"
                    FROM events GROUP BY 1)
         SELECT row_number() OVER (ORDER BY "count" DESC, key ASC) AS rank,
                key, "count", 0::BIGINT AS err
         FROM c ORDER BY "count" DESC, key ASC LIMIT 5"""),

    // ---- row-group pruning audit (footer stats vs the data) -------------
    Case("q156_rowgroup_stats", (s, dir) => {
      // numeric footer min/max must equal the data's min/max — two
      // independent parquet readers agreeing; the [100, 200] quantity
      // predicate is provably skippable (column max is 50)
      ParquetIO.rowGroupStats(s, s"$dir/lineitem.parquet",
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          predicate = Some(("l_quantity", 100.0, 200.0)))
        .orderBy(col("column_name"), col("row_group"))
    },
      // Footer stats re-derived from the data (single row group at oracle
      // scale — pyarrow's default row-group size far exceeds sf0.01):
      // numeric footer min/max are untruncated, so equality is exact
      """SELECT * FROM (
           SELECT 'l_quantity' AS column_name, 0 AS row_group,
                  count(*)::BIGINT AS n_values,
                  min(l_quantity)::DOUBLE AS min_val,
                  max(l_quantity)::DOUBLE AS max_val,
                  (max(l_quantity) < 100.0 OR min(l_quantity) > 200.0) AS would_skip
           FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice', 0, count(*)::BIGINT,
                  min(l_extendedprice)::DOUBLE, max(l_extendedprice)::DOUBLE, NULL
           FROM lineitem
           UNION ALL
           SELECT 'l_discount', 0, count(*)::BIGINT,
                  min(l_discount)::DOUBLE, max(l_discount)::DOUBLE, NULL
           FROM lineitem) t
         ORDER BY column_name, row_group"""),

    // ---- calendar resample with forward fill ----------------------------
    Case("q162_resample", (s, dir) => {
      Temporal.resample(EventsSource.read(s, s"$dir/events.parquet"),
          Seq("event_type"), "ts", "value", stepHours = 1, fill = "ffill")
        .select(col("event_type"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n_events"), round(col("value"), 4).as("avg_value"))
        .orderBy(col("event_type"), col("hour"))
    },
      // Dense per-type hourly spine from first to last observed hour; gap
      // hours carry n_events 0 and the forward-filled mean value (rounded
      // AFTER the fill on both engines)
      """WITH h AS (
           SELECT event_type, date_trunc('hour', ts) AS h,
                  count(*) AS n, avg(value) AS av
           FROM events GROUP BY 1, 2),
         b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM h GROUP BY 1),
         spine AS (
           SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
           FROM b),
         j AS (
           SELECT s.event_type, s.h, coalesce(n, 0)::BIGINT AS n_events, av
           FROM spine s LEFT JOIN h ON s.event_type = h.event_type AND s.h = h.h)
         SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n_events,
                round(last_value(av IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS avg_value
         FROM j ORDER BY event_type, hour"""),

    // ---- I/O contract checks (sink, validity, footer KV, hashes) --------
    Case("q170_io_contracts", (s, dir) => {
      // the non-SQL I/O surface exercised end-to-end, reported as boolean
      // rows against a constant oracle: a single-file sink producing a
      // valid parquet, the footer-KV write→read round trip on it, the
      // validity check rejecting junk, and the byte-identity hash
      // distinguishing a copy from a corruption
      val tmp = java.nio.file.Files.createTempDirectory("graft_ioq").toString
      val f = s"$tmp/region_single.parquet"
      ParquetIO.writeSingleFile(read(s, dir, "region"), f)
      val singleOk = new java.io.File(f).isFile
      val validOk = ParquetIO.isValidParquet(s, f)
      SchemaOps.writeTableMetadata(s, f, Map("graft.source" -> "q170", "graft.n" -> "42"))
      val kv = SchemaOps.readTableMetadata(s, f)
      val kvOk = kv.get("graft.source").contains("q170") && kv.get("graft.n").contains("42")
      val stillValid = ParquetIO.isValidParquet(s, f)
      val junk = s"$tmp/junk.parquet"
      java.nio.file.Files.write(java.nio.file.Paths.get(junk),
        Array.fill[Byte](64)(0x5a))
      val junkRejected = !ParquetIO.isValidParquet(s, junk)
      val copy = s"$tmp/copy.parquet"
      java.nio.file.Files.copy(java.nio.file.Paths.get(f), java.nio.file.Paths.get(copy))
      val hashMatch = graft.io.FileHash.filesMatch(f, copy, "sha256")
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(copy))
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
      java.nio.file.Files.write(java.nio.file.Paths.get(copy), bytes)
      val hashDiffers = !graft.io.FileHash.filesMatch(f, copy, "sha256")
      import s.implicits._
      Seq(
        ("footer_kv_roundtrip", kvOk),
        ("hash_detects_corruption", hashDiffers),
        ("hash_matches_copy", hashMatch),
        ("junk_rejected", junkRejected),
        ("kv_rewrite_keeps_validity", stillValid),
        ("single_file_sink", singleOk),
        ("valid_parquet", validOk))
        .toDF("check_name", "passed").orderBy(col("check_name"))
    },
      // Constant oracle: every I/O contract row must come back true
      """SELECT * FROM (VALUES
           ('footer_kv_roundtrip', true),
           ('hash_detects_corruption', true),
           ('hash_matches_copy', true),
           ('junk_rejected', true),
           ('kv_rewrite_keeps_validity', true),
           ('single_file_sink', true),
           ('valid_parquet', true)) AS t(check_name, passed)
         ORDER BY check_name"""),

    // ---- dynamic partition overwrite (incremental ingestion contract) ---
    // the 100 TB re-landing primitive: replacing one partition's data must
    // swap ONLY that partition's directory. Checked with file-level sha256
    // snapshots: untouched partitions stay byte-identical, the target's
    // files change, and the static-mode footgun (whole-table truncate) is
    // demonstrated on a second lake. Counts re-read from the lake are
    // oracle-matched against the source table.
    Case("q193_partition_overwrite", (s, dir) => {
      import s.implicits._
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"))
      val root = partitionOverwriteCache.computeIfAbsent(dir,
        _ => java.nio.file.Files.createTempDirectory("graft_po_").toString)
      def snapshot(lake: String): Map[String, Seq[(String, String)]] = {
        val d = new java.io.File(lake)
        d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("event_type="))
          .map { p =>
            p.getName -> p.listFiles().filter(_.getName.endsWith(".parquet"))
              .sortBy(_.getName)
              .map(f => f.getName ->
                graft.io.FileHash.digest(f.toPath, graft.io.FileHash.sha256)).toSeq
          }.toMap
      }
      val target = ev.agg(min(col("event_type"))).collect().head.getString(0)
      val replacement = ev.filter(col("event_type") === target && col("event_id") % 2 === 0)
      val lake = s"$root/lake"
      ParquetIO.writePartitioned(ev, lake, Seq("event_type"))
      val before = snapshot(lake)
      ParquetIO.writePartitioned(replacement, lake, Seq("event_type"))
      val after = snapshot(lake)
      val tDir = s"event_type=$target"
      val othersIdentical = (before.keySet - tDir) == (after.keySet - tDir) &&
        (before.keySet - tDir).forall(k => before(k) == after(k))
      val targetChanged = before(tDir) != after(tDir)
      val lakeStatic = s"$root/lake_static"
      ParquetIO.writePartitioned(ev, lakeStatic, Seq("event_type"))
      ParquetIO.writePartitioned(replacement, lakeStatic, Seq("event_type"),
        dynamic = false)
      val staticDirs = snapshot(lakeStatic).keySet
      val back = s.read.parquet(lake)
      val perType = back.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => s"rows_after_${r.getString(0)}" -> r.getLong(1).toString)
      val rows = perType.toSeq ++ Seq(
        "total_after" -> back.count().toString,
        "dynamic_keeps_other_partitions" -> othersIdentical.toString,
        "dynamic_replaces_target_files" -> targetChanged.toString,
        "static_overwrite_drops_others" -> (staticDirs == Set(tDir)).toString)
      rows.toDF("metric", "value").orderBy(col("metric"))
    },
      // Partition overwrite: per-partition counts after replacing the
      // lexicographically-first event_type with its even-event_id subset;
      // the three file-level checks are engine-side facts (byte-identity
      // snapshots) the oracle pins as literal booleans — q170's pattern
      """WITH mt AS (SELECT min(event_type) AS t FROM events),
         kept AS (SELECT event_type FROM events CROSS JOIN mt
                  WHERE event_type <> mt.t OR event_id % 2 = 0),
         cnts AS (SELECT 'rows_after_' || event_type AS metric,
                    count(*)::VARCHAR AS value
                  FROM kept GROUP BY event_type),
         tot AS (SELECT 'total_after' AS metric, count(*)::VARCHAR AS value
                 FROM kept)
         SELECT metric, value FROM (
           SELECT * FROM cnts
           UNION ALL SELECT * FROM tot
           UNION ALL SELECT * FROM (VALUES
             ('dynamic_keeps_other_partitions', 'true'),
             ('dynamic_replaces_target_files', 'true'),
             ('static_overwrite_drops_others', 'true')) v(metric, value)) u
         ORDER BY metric"""),

    // ---- hive-partitioned scan with partition pruning -------------------
    // The first thing a Spark user does at 100 TB: lay events out by day
    // and query one day. Writes the date-partitioned copy, then reads it
    // back filtered to the earliest day — Catalyst must resolve the
    // predicate against directory names (PartitionFilters; asserted by
    // PlanSpec) so the other days' files are never opened.
    Case("q172_partition_prune", (s, dir) => {
      val part = stagePartitionedEvents(s, dir)
      val d0 = part.agg(min(col("event_date"))).collect().head.getDate(0)
      part.filter(col("event_date") === lit(d0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value"), 4).as("sum_value"))
        .gateOrdered(col("event_type"))
    },
      // Partition pruning changes the FILES READ, not the answer: the oracle
      // recomputes the earliest-day rollup over the flat table
      """SELECT event_type, count(*) AS n,
                round(sum(value::DECIMAL(18,4)), 4)::DOUBLE AS sum_value
         FROM events
         WHERE ts::DATE = (SELECT min(ts::DATE) FROM events)
         GROUP BY event_type ORDER BY event_type"""))
}
