package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.frame.CalculatedColumn
import graft.io.ParquetIO
import graft.functions.{TextClean, TextFunctions}
import graft.functions.kernels.VectorKernelFunctions
import graft.operators.{Behavior, CorpusStats, Decontaminate, Dedup, LinearModel, Linkage, Multimodal, Packing, Repetition, Sampling, Search, Similarity, Temporal}
import graft.ops._
import graft.profile.{ColumnProfiler, Drift, ProfileComparison, ProfileReport, StatTests}
import graft.sources.EventsSource
import graft.streaming.EventStream

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline extensions), with a DuckDB
  * oracle for every SQL-expressible one.
  *
  * Conventions shared by query and oracle (the driver hash-compares values
  * after sorting columns by name):
  *  - every computed column aliased identically on both sides;
  *  - deterministic ORDER BY on both sides;
  *  - multi-row double aggregates rounded (2–4 dp) on both sides — the
  *    underlying float error is ~1e-12 relative, far below the rounding
  *    grain, so both engines land on the same rounded value;
  *  - timestamps exported as formatted strings (engine-native binary
  *    encodings differ);
  *  - DuckDB integer SUMs cast back to BIGINT (DuckDB widens to HUGEINT).
  */
object SparkEntry {

  /** All catalog reads conform to [[graft.sources.CanonicalSchema]]: a
    * dataset regeneration that re-encodes a column (the round-5 events
    * TIMESTAMP_NTZ incident, generalized) must not strand the catalog. */
  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    graft.sources.CanonicalSchema.read(spark, dir, table)

  /** Exact money aggregation: cast to DECIMAL(18,4) (per-row doubles are
    * bit-identical across engines, so the cast is deterministic), sum
    * exactly, round on the exact decimal, then one deterministic
    * decimal→double conversion. Avoids float-accumulation-order divergence
    * between Spark's partial aggregation and DuckDB's sequential sum, and
    * the exact-half rounding boundary (sums of 4-decimal-exact values land
    * on .xx50 halves ~1% of the time, where double rounding is ambiguous). */
  private def moneySum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    round(sum(c.cast("decimal(18,4)")), scale).cast("double")

  /** Deterministic output order for the driver gate WITHOUT a range
    * exchange. A final `.orderBy` plans rangepartitioning, whose bounds
    * sampling RE-EXECUTES the whole upstream once before the real pass —
    * for map-side-heavy queries (block joins + levenshtein, LSH verify,
    * kernel scans) that doubles the query (q142 measured 5.9s → 3.2s at
    * sf0.1 from this one change). A round-robin `repartition(1)` exchange
    * needs no sampling, and the single-partition sort is fine because
    * every gate output is small (pairs/clusters/report rows at sf≤0.1) —
    * this is the test-harness tail, not a production operator; at
    * production scale the caller would not total-order the output at all. */
  private implicit class GateOrderedOps(private val df: DataFrame) {
    def gateOrdered(cols: org.apache.spark.sql.Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }

  /** 48-bit md5 token-multiset SimHash per document — the
    * ORACLE-REPLAYABLE simhash variant behind q346: every step (md5 hex
    * prefix → 48-bit token hash → per-bit ±1 majority over the multiset →
    * bit pack) is recomputable in DuckDB SQL, unlike the compiled
    * xxhash-based production kernel. 48 bits (12 hex chars) keep the hash
    * inside exact BIGINT/double range on both engines. Built as keyed
    * explodes + aggregations (all codegen'd projections, shuffles keyed by
    * doc) rather than interpreted higher-order lambdas. Returns
    * `(__sid, __sh48)`. Tie rule: a bit with majority count 0 packs as 0. */
  private[graft] def md5Simhash48(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("__sid"),
      explode(filter(split(trim(lower(col(textCol))), "\\s+"),
        t => length(t) > 0)).as("__tok"))
    val h = conv(substring(md5(col("__tok")), 1, 12), 16, 10).cast("long")
    // one doc-keyed aggregation with 48 conditional-sum columns (bit j is
    // a literal shiftright — codegen'd) instead of a 48× bit explode: the
    // row volume stays at the token count, not 48× it
    val votes = (0 until 48).map(j =>
      sum(shiftright(col("__h"), j).bitwiseAND(1L) * 2L - 1L).as(s"__s$j"))
    toks.select(col("__sid"), h.as("__h"))
      .groupBy(col("__sid"))
      .agg(votes.head, votes.tail: _*)
      .select(col("__sid"),
        (0 until 48).map(j =>
          when(col(s"__s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("__sh48"))
  }

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

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    FilterOps.filter(
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
      Some("l_quantity > 30 and l_discount <= 0.05"),
      Some(Seq("l_orderkey", "l_quantity", "l_discount")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / filters / projections (S1, P1–P5) ----------------------
    "q01_pricing_summary" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .gateOrdered(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_filter_expression" -> ((s, dir) => {
      FilterOps.filter(read(s, dir, "lineitem"),
        Some("l_quantity > 45.0 and l_discount <= 0.02 or l_returnflag == 'R' and l_quantity < 5.0"),
        Some(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q03_filter_in_list" -> ((s, dir) => {
      FilterOps.filter(read(s, dir, "lineitem"),
        Some("l_returnflag in ['A', 'R'] and l_linenumber in [1, 2] and l_quantity >= 48.0"),
        Some(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q04_project_index" -> ((s, dir) => {
      FilterOps.project(read(s, dir, "lineitem"),
        Some(Seq("l_quantity", "l_extendedprice")),
        indexColumns = Seq("l_orderkey", "l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- joins (J-series + extensions) ----------------------------------
    "q05_join_revenue_nation" -> ((s, dir) => {
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
    }),
    "q06_join_broadcast_part" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .join(broadcast(read(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
            count(lit(1)), 4).as("avg_price"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .gateOrdered(col("p_brand"))
    }),

    // ---- sort / top-k (O1) ----------------------------------------------
    "q07_topk_orders" -> ((s, dir) => {
      read(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("total_price"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    }),
    "q08_global_sort" -> ((s, dir) => {
      IndexOps.sort(
        read(s, dir, "lineitem")
          .select("l_partkey", "l_orderkey", "l_linenumber", "l_quantity"),
        Seq("l_partkey", "l_orderkey", "l_linenumber"))
    }),

    // ---- set ops / concat (U1, J2, J3) ----------------------------------
    "q09_tall_concat" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val a = li.select("l_orderkey", "l_linenumber", "l_quantity").filter(col("l_quantity") > 45.0)
      val b = li.select("l_orderkey", "l_linenumber", "l_discount").filter(col("l_discount") < 0.01)
      ConcatOps.tall(Seq(a, b))
        .gateOrdered(col("l_orderkey"), col("l_linenumber"),
          coalesce(col("l_quantity"), lit(-1.0)))
    }),
    "q10_wide_concat" -> ((s, dir) => {
      val c = read(s, dir, "customer")
      ConcatOps.wide(
        Seq(c.select("c_custkey", "c_name"),
          c.select("c_custkey", "c_acctbal", "c_mktsegment")),
        indexColumns = Seq("c_custkey"))
        .gateOrdered(col("c_custkey"))
    }),
    "q11_concat_with_df" -> ((s, dir) => {
      val segments = Seq(("BUILDING", 1), ("AUTOMOBILE", 2), ("MACHINERY", 3),
        ("HOUSEHOLD", 4), ("FURNITURE", 5))
      val mem = s.createDataFrame(segments).toDF("c_mktsegment", "segment_code")
      ConcatOps.withDataFrame(read(s, dir, "customer"), mem, Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("segment_code"))
        .orderBy(col("c_custkey"))
    }),

    // ---- reindex / dedup (J1, A4) ---------------------------------------
    "q12_reindex" -> ((s, dir) => {
      val newIndex = s.range(0, 30).toDF("c_nationkey")
      val data = read(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("bigint").as("c_nationkey"))
        // double output like every other money aggregate: a DECIMAL output
        // column hashes differently between the driver's parquet-read and
        // DuckDB-result paths even when values are byte-identical
        .agg(count(lit(1)).as("n_cust"),
          moneySum(col("c_acctbal")).as("total_bal"))
      IndexOps.reindex(newIndex, data)
    }),
    "q13_dedup_first_wins" -> ((s, dir) => {
      IndexOps.dedupFirstWins(read(s, dir, "events"), Seq("user_id"),
        orderColumns = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 2).as("value"))
        .orderBy(col("user_id"))
    }),
    "q14_dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(read(s, dir, "documents"), Seq("text"), "doc_id")
        .select(col("keeper_id"), col("group_size"))
        .orderBy(col("keeper_id"))
    }),

    // ---- windows ---------------------------------------------------------
    "q15_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      read(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
        .gateOrdered(col("o_custkey"), col("o_orderkey"))
    }),
    "q16_rank_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      read(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total_price"), col("rank"))
        .orderBy(col("o_custkey"), col("rank"))
    }),

    // ---- profiling / compare (A1, C1) -----------------------------------
    "q17_profile_stats" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      profileStatsDf(s, ColumnProfiler.profile(read(s, dir, "lineitem"), Some(cols),
        exactDistinct = true), cols)
    }),
    "q154_profile_batched" -> ((s, dir) => {
      // the reference's chunked path: column batches profiled independently
      // and merged (TableProfile.merge) must agree with q17's single-pass
      // profile — same output contract, same oracle
      val df = read(s, dir, "lineitem")
      val p = ColumnProfiler.profile(df, Some(Seq("l_quantity")), exactDistinct = true)
        .merge(ColumnProfiler.profile(df, Some(Seq("l_extendedprice", "l_discount")),
          exactDistinct = true))
      profileStatsDf(s, p, Seq("l_quantity", "l_extendedprice", "l_discount"))
    }),
    "q18_compare_diff" -> ((s, dir) => {
      val o = read(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      val big = read(s, dir, "orders")
      CompareOps.diffCounts(
        big.filter(col("o_totalprice") > 100000).select("o_orderkey", "o_orderstatus"),
        big.filter(col("o_totalprice") > 150000).select("o_orderkey", "o_orderstatus"))
    }),

    // ---- text analysis (extensions) -------------------------------------
    "q19_text_stats" -> ((s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("text_len"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[\\p{Punct}]", ""))).as("n_punct"))
        .orderBy(col("doc_id"))
    }),
    "q20_ngram_jaccard" -> ((s, dir) => {
      // runs the PRODUCTION (capped) plan: maxDocFreq=1000 is SCALING.md's
      // recommended cap and sits far above this corpus's max shingle df
      // (7 at sf0.01, 25 at sf0.1), so output — and the oracle — are
      // identical to the uncapped exact-recall form while the driver
      // exercises the hot-shingle anti-join the 100 TB shape needs
      // (q64 proves cap-ON semantics with a binding cap)
      Dedup.ngramJaccard(read(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.7, maxDocFreq = Some(1000L))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- similarity search (extensions) ---------------------------------
    "q21_knn_bruteforce" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
        .select(col("query_id"), col("nbr_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- Matryoshka two-stage retrieval (truncate → rerank) -------------
    // candidate generation on the 8-dim embedding PREFIX (1/8 of the dot-
    // product cost; cosine is scale-invariant so the raw slice ranks
    // identically to the renormalized Matryoshka form), then the top-20
    // survivors rerank at full dimension for the final top-5
    "q177_matryoshka_rerank" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val sliced = emb.select(col("vec_id"), slice(col("embedding"), 1, 8).as("svec"))
      val cands = Similarity.bruteForceTopK(
          sliced, "vec_id", "svec",
          sliced.filter(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("svec").as("qvec")),
          "qid", "qvec", k = 20)
        .select(col("query_id"), col("nbr_id"))
      val qfull = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val rer = cands
        .join(emb.select(col("vec_id"), col("embedding")),
          cands("nbr_id") === col("vec_id"))
        .join(broadcast(qfull), "query_id")
        .select(col("query_id"), col("nbr_id"),
          graft.functions.VectorFunctions.cosine(col("q_emb"), col("embedding")).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("nbr_id").asc)
      rer.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("query_id"), col("nbr_id"),
          round(col("cos"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ANN recall measurement (the tuning instrument) -----------------
    // recall@10 of a 4-dim-prefix candidate generator against the exact
    // full-dimension top-10 — deliberately aggressive truncation so the
    // recall is NON-trivial (a 1.0-everywhere oracle would prove nothing)
    "q178_ann_recall" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
      def topk(vecExpr: org.apache.spark.sql.Column) = {
        val c = emb.select(col("vec_id"), vecExpr.as("v"))
        Similarity.bruteForceTopK(c, "vec_id", "v",
          queries.select(col("vec_id").as("qid"), vecExpr.as("qv")),
          "qid", "qv", k = 10)
      }
      Similarity.recallAtK(
          approx = topk(slice(col("embedding"), 1, 4)),
          exact = topk(col("embedding")), k = 10)
        .gateOrdered(col("query_id"))
    }),

    // ---- distributed Lloyd k-means (iterative, driver-sequenced) --------
    // one full Lloyd step from data-point seeds on the 8-dim prefix:
    // assign (unrolled left-to-right squared-L2, lowest-index ties) →
    // decimal-exact means → final assignment; every step replicated
    // bit-for-bit by the oracle
    "q179_kmeans_lloyd" -> ((s, dir) => {
      Similarity.kmeansLloyd(read(s, dir, "embeddings"), "vec_id", "embedding",
          initIds = Seq(0L, 1L, 2L, 3L), iterations = 1, dims = 8)
        .select(col("id").as("vec_id"), col("cluster"))
        .gateOrdered(col("vec_id"))
    }),

    // ---- Procrustes alignment recovers a planted rotation (Similarity) ----
    // the model-migration map: B is A pushed through a KNOWN orthogonal
    // transform (dimension rotate-by-3 with odd-index sign flips);
    // R = UV^T from the Jacobi SVD of the exact-decimal cross-moment must
    // land back on that transform to machine precision
    "q362_procrustes" -> ((s, dir) => {
      val src = read(s, dir, "embeddings")
      val planted = src.select(col("vec_id"),
        array((0 until 8).map { j =>
          val e = col("embedding").getItem((j + 3) % 8).cast("double")
          if (j % 2 == 1) -e else e
        }: _*).as("vb"))
      Similarity.procrustesAlign(src, planted, "vec_id", "embedding", "vb",
          dims = 8)
        .select(col("i"), col("j"),
          (round(col("r"), 6) + lit(0.0)).as("r"))
        .gateOrdered(col("i"), col("j"))
    }),

    // ---- simplified silhouette over the q179 clustering (Similarity) ------
    // per-cluster quality readout: (b - a)/max(a, b) against decimal-exact
    // final centroids; per-point scores quantize to 12-dp longs before the
    // cluster means so both engines sum exact integers
    "q359_silhouette" -> ((s, dir) => {
      Similarity.silhouetteSimplified(read(s, dir, "embeddings"), "vec_id",
          "embedding", initIds = Seq(0L, 1L, 2L, 3L), iterations = 1,
          dims = 8)
        .select(col("cluster"), col("n"),
          (round(col("mean_silhouette"), 6) + lit(0.0)).as("mean_silhouette"),
          (round(col("mean_dist_own"), 6) + lit(0.0)).as("mean_dist_own"),
          (round(col("mean_dist_other"), 6) + lit(0.0)).as("mean_dist_other"))
        .gateOrdered(col("cluster"))
    }),

    // ---- PageRank over the near-dup graph -------------------------------
    // authority scores on the duplicate-pair graph (hub variants rank
    // high — the canonical-doc signal); 2 Lloyd-style driver-sequenced
    // iterations, contributions decimal-exact, every constant written as
    // the same literal expression the oracle uses
    "q180_pagerank_neardup" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val edges = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.7,
          materialize = true)
        .select(col("id_a"), col("id_b"))
      graft.operators.Components.pageRank(docs.select(col("doc_id").as("id")), edges, iterations = 2)
        .select(col("id").as("doc_id"), col("rank"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- triangles + clustering coefficient on the near-dup graph -------
    "q181_triangle_stats" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val edges = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.7,
          materialize = true)
        .select(col("id_a"), col("id_b"))
      graft.operators.Components
        .triangleStats(docs.select(col("doc_id").as("id")), edges)
        .filter(col("degree") > 0) // graph members only: bounded output
        .select(col("id").as("doc_id"), col("degree"),
          col("n_triangles"), col("clustering"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- exact Jaccard pairs via prefix filtering (AllPairs) ------------
    // third candidate-generation algorithm over the same pair semantics:
    // q20 (df-capped full join) and q25 (LSH) agree with it through one
    // shared oracle — three independent algorithms, one exact pair set
    "q182_prefix_filter_jaccard" -> ((s, dir) => {
      Dedup.prefixFilterJaccard(read(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- incremental dedup against a PRECOMPUTED bucketed corpus store --
    "q184_lsh_probe_stored" -> ((s, dir) => {
      // the 100 TB incremental-ingestion pipeline end-to-end: the corpus
      // half (even doc_ids) is banded ONCE into two bucketed catalog
      // tables (precomputeLshCorpus, cached per dir per JVM), then the
      // incoming batch (odd doc_ids) probes the stored layout — same
      // semantics as q70's fused run (the oracle is identical), but the
      // probe plan takes zero corpus-side recompute and no exchange above
      // the corpus scans (asserted mechanically in PlanSpec)
      val docs = read(s, dir, "documents")
      val prefix = stageLshCorpus(s, dir)
      Dedup.minhashLshProbeStored(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        prefix, threshold = 0.7)
        .select(col("new_id"), col("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // ---- STREAMING dedup probe against the stored corpus ----------------
    // the continuous form of q184: the odd-doc batch arrives as a file
    // STREAM, each micro-batch bands through the compiled kernels and
    // stream-static-joins the stored bucket/shingle tables; a real
    // streaming run to a memory sink, same oracle as q184's fused batch
    "q195_stream_dedup" -> ((s, dir) => {
      val prefix = stageLshCorpus(s, dir)
      val staged = stageOddDocs(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val out = runToCompletion(s, "q195_probe",
        EventStream.dedupProbeStream(s, staged, schema, "doc_id", "text",
          prefix, threshold = 0.7), parquetRows(s, staged))
      out.select(col("new_id"), col("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // ---- IVF probe against a PRECOMPUTED list_id-partitioned layout -----
    "q188_ivf_stored" -> ((s, dir) => {
      // the vector-side mirror of q184: inverted lists materialized once,
      // partitioned by list_id; the probe prunes to the probed lists'
      // directories (PlanSpec asserts PartitionFilters) and broadcasts the
      // query table. nProbe = numLists ⇒ exact search, so the stored-path
      // plan runs under the same brute-force oracle as q40's fused run
      // centroids load from the layout's sidecar (no-array overload)
      val (path, _) = stageIvfLists(s, dir)
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopKStored(path, queries, "qid", "qvec",
          k = 5, nProbe = 16)
        .select(col("query_id"), col("nbr_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- SemDeDup: semantic dedup inside coarse embedding clusters ------
    // cluster on the 8-dim prefix against data-point seed centroids
    // (vec_id < 8 — the oracle recomputes them from the table), then
    // full-vector cosine ONLY within clusters; tau = 0.42 sits in a wide
    // empirical gap of the sf0.01 pair-cosine distribution (nearest pairs
    // 0.4322 / 0.4104), so the threshold compare is ulp-safe
    "q189_semdedup" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(slice(col("embedding"), 1, 8))
        .collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      Similarity.semDedup(emb, "vec_id", "embedding",
          centroids = seeds, tau = 0.42, clusterDims = 8)
        .select(col("id").as("vec_id"), col("cluster"), col("dup_of"),
          col("max_prior_cos"), col("keep"))
        .gateOrdered(col("vec_id"))
    }),

    // ---- SemDeDup against a PRECOMPUTED cluster-partitioned corpus ------
    // q189's stored/incremental form (the q184/q188 pattern): the corpus
    // half (even vec_ids) is clustered ONCE into a cluster-partitioned
    // layout, the incoming batch (odd vec_ids) re-uses the same seed
    // centroids — assignments bit-identical by the kernel's determinism —
    // and reads ONLY its probed clusters' directories (PartitionFilters,
    // asserted in PlanSpec). tau = 0.42: cross-parity same-cluster pairs
    // are a subset of q189's pair set, so its empirical gap argument
    // (nearest pairs 0.4322 / 0.4104 at sf0.01) carries over unchanged.
    "q206_semdedup_stored" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      // the no-array overload: centroids + clusterDims come from the
      // layout's own sidecar, so the CORRECTNESS row exercises the
      // sidecar load+verify round-trip, not caller-remembered arrays
      val (path, _) = stageSemDedupClusters(s, dir)
      Similarity.semDedupProbeStored(
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
          path, tau = 0.42)
        .select(col("id").as("vec_id"), col("cluster"), col("dup_of"),
          col("max_corpus_cos"), col("keep"))
        .gateOrdered(col("vec_id"))
    }),

    // ---- cross-column high_correlation alerts (ydata taxonomy) ----------
    // a constructed near-affine column (2·price + qty) pins the alert on
    // exactly the coupled pair; natural lineitem correlations sit near 0,
    // and the 0.9 threshold is nowhere near any pair (≈1.0 vs ≈0.003), so
    // cross-engine corr ulps cannot flip a flag
    "q208_correlation_alerts" -> ((s, dir) => {
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
    }),

    // ---- deprecated-frame scalar arithmetic surface ---------------------
    // the LazyParquetDataFrame dunder parity (lazy_parquet.py:899-1038):
    // scalar + broadcasts over numeric non-index columns as a lazy plan
    "q209_frame_arith" -> ((s, dir) => {
      val lp = graft.frame.LazyParquetFrame(s, s"$dir/customer.parquet",
        Seq("c_custkey"))
      (lp + 10.0).select(col("c_custkey"),
          round(col("c_acctbal"), 2).as("acctbal_plus10"),
          col("c_name"))
        .gateOrdered(col("c_custkey"))
    }),

    // ---- .loc label indexer: lookup + assignment in one plan ------------
    // getter = index-equality filter (pushed to the scan), setter = when()
    // projection rewrite; the query reads the frame AFTER a locSet so the
    // oracle pins both directions at once
    "q210_loc_indexer" -> ((s, dir) => {
      val lp = graft.frame.LazyParquetFrame(s, s"$dir/customer.parquet",
        Seq("c_custkey"))
      lp.locSet(Seq(7L), "c_mktsegment", "RELABELED")
      lp.loc(Seq(7L), Seq("c_mktsegment", "c_name"))
        .unionByName(lp.loc(Seq(8L), Seq("c_mktsegment", "c_name")))
        .gateOrdered(col("c_custkey"))
    }),

    // ---- int8 scalar quantization + quantized search --------------------
    // SQ8: 4× embedding compression with EXACT in-family cosine ranking
    // (scale invariance + integer-exact sums); oracle replays scale,
    // clamp/floor codes and the code-space cosine per candidate
    "q212_int8_quant" -> ((s, dir) => {
      val q = Similarity.quantizeInt8(read(s, dir, "embeddings"),
        "vec_id", "embedding")
      Similarity.int8TopK(q, q.filter(col("vec_id") < 5), k = 10)
        .join(q.select(col("vec_id").as("query_id"),
          round(col("scale"), 6).as("q_scale")), Seq("query_id"))
        .select(col("query_id"), col("q_scale"), col("nbr_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- PII rate report (detection side of the redaction pass) ---------
    // synthetic docs carry no PII, so deterministic addresses/URLs/IPs are
    // injected keyed on doc_id and the per-language PII rate is reported;
    // the oracle replays injection, the redaction chain and the counts
    "q213_pii_stats" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val injected = docs.withColumn("text2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" see http://site"), col("doc_id"), lit(".example/page"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" from 10.0.0."), col("doc_id") % 255)).otherwise(lit(""))))
      injected
        .withColumn("p", graft.functions.TextClean.piiCounts(col("text2")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.n_urls")).as("n_urls"),
          sum(col("p.n_emails")).as("n_emails"),
          sum(col("p.n_ips")).as("n_ips"),
          sum(when(col("p.n_pii") > 0, 1L).otherwise(0L)).as("docs_with_pii"))
        .orderBy(col("lang"))
    }),

    // ---- persisted seen-bloom incremental exact admission (Dedup) -------
    // 10% of orders seed a persisted bloom sidecar over o_custkey (the
    // "100 TB history" stand-in); the remaining 90% arrive as the batch.
    // Bloom-negative rows are admitted with ZERO join work (no false
    // negatives); only the bloom-positive sliver pays the exact anti-join
    // — so the result provably equals `batch ANTI JOIN corpus`, which is
    // exactly what the oracle replays
    "q214_bloom_admit" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val corpus = orders.filter(col("o_orderkey") % 10 === 0)
      val batch = orders.filter(col("o_orderkey") % 10 =!= 0)
      // stable per-sf path (NOT a fresh createTempDirectory): the sidecar
      // publish is atomic-overwrite, so re-runs replace one directory
      // instead of accumulating temp dirs across bench/verify runs
      val path = {
        val d = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_seen_q214_" + Integer.toHexString(dir.hashCode))
        d.mkdirs(); d.toString
      }
      Dedup.writeSeenBloom(s, path, corpus, Seq("o_custkey"),
        expectedItems = 10000L, fpp = 0.03)
      Dedup.admitAgainstSeenBloom(batch, Seq("o_custkey"), path,
        corpus = Some(corpus))
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- BPE tokenizer merge training (CorpusStats) ---------------------
    // 6 merges over the [a-z]+ word-count table (hapax pruned): the
    // oracle replays every step in SQL — the weighted pair statistics,
    // the (count desc, left asc, right asc) argmax, and the literal
    // left-to-right non-overlapping replace — so the learned merge table
    // must agree row for row; integer counts, no floats anywhere
    "q215_bpe_train" -> ((s, dir) => {
      CorpusStats.bpeTrain(read(s, dir, "documents"), "text", merges = 6,
        minWordCount = 2L)
        .orderBy(col("step"))
    }),

    // ---- BPE fertility under the learned vocab (CorpusStats) ------------
    // train-then-apply composition: the 6 learned merges replayed over the
    // corpus as one codegen'd projection (no explode, no shuffle), rolled
    // up per language — the fertility report a tokenizer team reads.
    // Counts are integers; fertility is one double division rounded at 4dp
    "q216_bpe_fertility" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val merges = CorpusStats.bpeTrain(docs, "text", merges = 6,
        minWordCount = 2L)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // a lang whose docs contain no [a-z]+ word has no fertility (the
      // oracle unnests words first, so such a lang never reaches its
      // GROUP BY) — drop zero-word docs so both sides agree by shape
      CorpusStats.bpeEncode(docs, "text", merges)
        .filter(col("bpe_words") > 0)
        .groupBy(col("lang"))
        .agg(sum(col("bpe_words")).as("n_words"),
          sum(col("bpe_subwords")).as("n_subwords"))
        .withColumn("fertility",
          round(col("n_subwords") / col("n_words"), 4))
        .orderBy(col("lang"))
    }),

    // ---- shape alerts: skewed, imbalance, duplicate rows ----------------
    // engineered margins (checked at sf0.01): spiky g1 ≈ 30 (> 20), label
    // imbalance ≈ 0.82 (> 0.5), event_type ≈ 0 (< 0.5); 3 low-cardinality
    // columns over 10k rows → duplicate rows certainly exist
    "q211_shape_alerts" -> ((s, dir) => {
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
    }),

    // ---- IVF+PQ: residual-encoded lists, pruned ADC probe ---------------
    // the production ANN pairing (q188's partition pruning × q196's
    // codes-only scan): 8 L2 seed lists, residual codebooks from the
    // vec_id < 16 residuals, nProbe = 3. The oracle replays assignment,
    // residual encode, probe selection and the decimal ADC sums — every
    // distance is the same left-to-right double chain on both engines.
    "q207_ivfpq_stored" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      // centroids + codebooks load from the layout's sidecar (no-array
      // overload) — the oracle row pins the self-describing round-trip
      val (path, _, _) = stageIvfPq(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(path, queries, "qid", "qvec",
          k = 10, nProbe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- product quantization + asymmetric-distance search --------------
    // 64-dim floats → 8 subspace codes (seed-subvector codebooks, k=16);
    // queries build an 8×16 LUT once and every corpus row costs 8 lookups
    // — the compressed-domain ANN scan. Decimal-exact LUT-cell sums make
    // the ranking replayable bit-for-bit (see Similarity.pqTopK)
    "q194_pq_adc" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 16)
        .orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cbs = Similarity.pqCodebooksFromSeeds(seeds, numSubspaces = 8)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
      Similarity.pqTopK(enc,
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", cbs, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- MMR diversified re-rank over the dense top-20 ------------------
    // λ·rel − μ·max-sim-to-picked, greedy k=5 per query; relevance and
    // pairwise cosines rounded BEFORE the loop so the oracle replays the
    // greedy bit-for-bit (μ passed as the exact decimal 0.3 — see
    // Similarity.mmrRerank on why 1−λ in binary would diverge)
    "q198_mmr_rerank" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val cands = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 20)
      Similarity.mmrRerank(cands, emb, "vec_id", "embedding",
          k = 5, lambda = 0.7, mu = 0.3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- PQ search against the STORED codes table -----------------------
    // q194's pipeline split at the production seam: codes written once
    // (staged, cached per dir), the probe scans ONLY (id, codes) — the
    // embedding column never loads (PlanSpec pins ReadSchema). Same
    // codebooks ⇒ same ADC distances ⇒ q194's oracle verbatim
    "q196_pq_stored" -> ((s, dir) => {
      // codebooks load from the layout's sidecar (no-array overload)
      val (path, _) = stagePqCodes(s, dir)
      val emb = read(s, dir, "embeddings")
      Similarity.pqTopKStored(path,
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- archive staging: zip + 7z extraction feed real reads (S6) ------
    "q185_archive_extract" -> ((s, dir) => {
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
    }),

    // ---- profile report bundle: HTML/YAML/JSON rendering contract (C4) --
    "q186_report_bundle" -> ((s, dir) => {
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
    }),

    // ---- head(n): first n rows in FILE order (O2) -----------------------
    "q187_head" -> ((s, dir) => {
      // the reference's head() returns the file's LEADING rows, not a
      // top-k: staged single file is written in orderkey order, so file
      // order is deterministic and the oracle replays it with LIMIT
      val f = stageOrderedOrders(s, dir)
      graft.frame.LazyParquetFrame(s, f).head(7)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    // ---- sorted-neighborhood linkage (blocking complement) --------------
    "q183_sorted_neighborhood" -> ((s, dir) => {
      Linkage.sortedNeighborhoodPairs(read(s, dir, "customer"),
          "c_custkey", "c_name", window = 3, maxDistance = 1)
        .select(col("id_a"), col("id_b"), col("dist"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- events / streaming twin ----------------------------------------
    "q22_events_hourly" -> ((s, dir) => {
      EventStream.hourlyAggBatch(EventsSource.read(s, s"$dir/events.parquet"))
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n_events"), col("sum_value"), col("n_users"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // ---- schema ops / calculated columns (F3, P9) -----------------------
    "q23_schema_rename" -> ((s, dir) => {
      SchemaOps.rename(read(s, dir, "region"),
        Map("r_regionkey" -> "region_id", "r_name" -> "region_name"))
        .orderBy(col("region_id"))
    }),
    "q24_calc_columns" -> ((s, dir) => {
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
    }),

    // ---- non-SQL-expressible operators (rows-only checks) ---------------
    "q25_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLsh(read(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 32, numBands = 16, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q26_simhash_pairs" -> ((s, dir) => {
      // SimHash as candidate generation (8 chunks of 8 bits; pigeonhole
      // guarantees hamming ≤ 7, chunk-share catches the verified tail
      // above that — 0 misses at oracle scales) with exact shingle-Jaccard
      // verification: the output is a deterministic, metric-defined pair
      // set, so it has a DuckDB oracle (raw hamming pairs would need
      // simhash in SQL). No maxHamming pruning — it would cap recall.
      Dedup.simhashNearDup(read(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.8, numChunks = 8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),
    "q27_lang_quality" -> ((s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))
    }),
    "q28_fingerprint" -> ((s, dir) => {
      // md5-based fingerprints so DuckDB can recompute them bit-for-bit;
      // the xxhash64/rolling-kernel family stays spec-tested (KernelSpec).
      val d = read(s, dir, "documents")
      d.select(col("doc_id"),
        TextFunctions.md5Fingerprint(col("text")).as("fp"),
        TextFunctions.minShingleMd5(col("text"), 3).as("min_shingle_fp"),
        // arithmetic, not size(shingles(...)): building the shingle-string
        // array just to count it costs interpreted O(tokens²) per row
        greatest(TextFunctions.tokenCount(col("text")) - lit(2), lit(0)).as("n_shingles"))
        .gateOrdered(col("doc_id"))
    }),
    "q29_lsh_ann" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        dim = 64, k = 5, numBits = 32, numBands = 16)
        .select(col("query_id"), col("nbr_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q30_multimodal_features" -> ((s, dir) => {
      // REAL media round-trip: synthesize a tiny PNG per doc (dimensions +
      // gray level are pure functions of doc_id), decode with javax.imageio,
      // emit what the decoder recovered — DuckDB re-derives the expectation
      // from doc_id alone, so the oracle checks actual decode output.
      val d = read(s, dir, "documents").select(col("doc_id"))
      val media = Multimodal.withGeneratedPng(d, "doc_id",
        pmod(col("doc_id"), lit(13)) + lit(4),
        pmod(col("doc_id"), lit(7)) + lit(3),
        pmod(col("doc_id"), lit(256)))
      Multimodal.decodeImages(media, "media_bytes", "doc_id", featureDim = 16)
        .select(col("id"), col("width"), col("height"),
          round(element_at(col("features"), 1) * 255).cast("int").as("gray"),
          col("decoded"))
        .gateOrdered(col("id"))
    }),
    "q31_embedding_neardup" -> ((s, dir) => {
      // 16 bands of 2 bits: per-pair miss probability (1−p_band)^16 ≈ 3e-4
      // at cosine 0.4 — this corpus's "near" pairs sit at cosine 0.40-0.51
      // (no planted high-cosine dups), so recall needs short bands. At a
      // production threshold (≥0.9) use fewer, longer bands (8×8 bits) for
      // real pruning; at 0.4 sign-LSH degrades toward verify-most-pairs.
      Dedup.embeddingNearDup(read(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.4, numBits = 32, numBands = 16)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),
    "q32_memory_report" -> ((s, dir) => {
      val report = MemoryOps.memoryUsage(s, s"$dir/lineitem.parquet")
      import s.implicits._
      report.columns.map(c => (c.column, c.numValues))
        .toDF("column_name", "num_values")
        .orderBy(col("column_name"))
    }),
    "q33_demo_blockmodel" -> ((s, _) => {
      graft.sources.DemoBlockModel.create(s,
        shape = (20, 10, 5), blockSize = (2.0, 1.0, 0.5), corner = (100.0, 200.0, 300.0))
        .orderBy(col("c_order_xyz"))
    }),
    "q34_profile_compare" -> ((s, dir) => {
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
    }),

    // ---- frame API surface (P7, P8, P4, A3, S2) -------------------------
    "q35_tuple_filter" -> ((s, dir) => {
      // P7 contract: conjunctive tuples, output = predicate columns only
      graft.frame.LazyParquetFrame(s, s"$dir/lineitem.parquet")
        .filter(("l_quantity", ">", 49.0), ("l_orderkey", "<", 10000L))
        .orderBy(col("l_orderkey"), col("l_quantity"))
    }),
    "q36_describe" -> ((s, dir) => {
      // describe() emits strings (Spark summary contract); cast back and
      // round so the driver hashes doubles, not engine-formatted text
      graft.frame.LazyParquetFrame(s, s"$dir/lineitem.parquet")
        .describe("count", "mean", "stddev", "min", "max")
        .select(col("summary"),
          round(col("l_quantity").cast("double"), 4).as("l_quantity"),
          round(col("l_discount").cast("double"), 4).as("l_discount"))
        .orderBy(col("summary"))
    }),
    "q37_query_passthrough" -> ((s, dir) => {
      graft.frame.LazyParquetFrame(s, s"$dir/orders.parquet")
        .query("o_totalprice >= 400000.0 and o_orderstatus == 'F'")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("total_price"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),
    "q38_referenced_columns" -> ((s, _) => {
      import s.implicits._
      graft.expr.FilterParser
        .referencedColumns(
          "l_quantity > 45.0 and (l_discount <= 0.02 or l_returnflag in ['R', 'A'])")
        .toSeq.sorted.toDF("col_name")
        .orderBy(col("col_name"))
    }),
    "q39_footer_schema" -> ((s, dir) => {
      // S2: schema facts straight from the footer, no data read — physical
      // type names and value counts are engine-independent file facts
      val info = graft.io.ParquetIO.footer(s, s"$dir/part.parquet")
      import s.implicits._
      info.columns.toSeq.map { case (name, c) => (name, c.physicalType, c.numValues) }
        .toDF("column_name", "physical_type", "num_values")
        .orderBy(col("column_name"))
    }),

    // ---- similarity: IVF under an exact oracle --------------------------
    "q40_ivf_ann" -> ((s, dir) => {
      // nProbe = numLists ⇒ IVF degenerates to exact search, so the whole
      // IVF machinery (driver-side k-means train, codegen'd list
      // assignment, broadcast probe join, windowed re-rank) runs under the
      // exact brute-force oracle. The recall-trading nProbe < numLists path
      // is spec-tested (recall on near-random vectors has no SQL oracle).
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 5, numLists = 16, nProbe = 16)
        .select(col("query_id"), col("nbr_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- sessionization (batch twin of sessionizeStream) ----------------
    "q41_sessionize" -> ((s, dir) => {
      EventStream.sessionize(EventsSource.read(s, s"$dir/events.parquet"), gapMinutes = 30)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("session_value"))
        .gateOrdered(col("user_id"), col("session_start"))
    }),

    // ---- training-data sampling (Sampling extensions) -------------------
    "q42_hash_split" -> ((s, dir) => {
      Sampling.hashSplit(read(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),
    "q43_domain_quota" -> ((s, dir) => {
      Sampling.quotaPerGroup(read(s, dir, "documents"), Seq("source"),
        Seq(col("n_chars").desc, col("doc_id").asc), k = 3)
        .select(col("source"), col("doc_id"), col("n_chars"), col("quota_rank"))
        .orderBy(col("source"), col("quota_rank"))
    }),
    "q44_data_mixture" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Sampling.weightedMixture(Seq(
        docs.filter(col("lang") === "en") -> 0.5,
        docs.filter(col("lang") =!= "en") -> 0.25), "doc_id", salt = "mix:")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // ---- temporal joins (Temporal extensions) ---------------------------
    "q45_asof_join" -> ((s, dir) => {
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
    }),
    "q46_range_join" -> ((s, dir) => {
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
    }),

    // ---- sequence packing (Packing extension) ---------------------------
    "q47_pack_sequences" -> ((s, dir) => {
      // small blockSize so the hierarchical (block-level) prefix-sum path
      // actually exercises multiple blocks at verify scale
      Packing.packByBudget(
          read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 65536, blockSize = 512)
        .select(col("doc_id"), col("n_chars"), col("start_offset"), col("pack_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- decontamination (Decontaminate extension) ----------------------
    "q48_decontaminate" -> ((s, dir) => {
      // held-out "eval set" = every 20th doc; flag train docs sharing
      // word-3-grams with it (test-set leakage detection)
      val docs = read(s, dir, "documents")
      Decontaminate.ngramOverlap(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "text",
          shingleSize = 3)
        .select(col("id").as("train_id"), col("n_ngrams"), col("n_hit"),
          round(col("contam_frac"), 4).as("contam_frac"), col("contaminated"))
        .orderBy(col("train_id"))
    }),

    // ---- intra-doc repetition (Repetition extension) --------------------
    "q49_repetition" -> ((s, dir) => {
      Repetition.stats(read(s, dir, "documents"), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("type_token_ratio"), 4).as("type_token_ratio"),
          round(col("dup_ngram_frac"), 4).as("dup_ngram_frac"),
          round(col("top_ngram_share"), 4).as("top_ngram_share"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- bloom-prefiltered selective join (ScaleOps) --------------------
    "q50_bloom_join" -> ((s, dir) => {
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
    }),

    // ---- Z-order clustering key (LayoutOps) -----------------------------
    "q51_zorder_key" -> ((s, dir) => {
      // fixed bucketization ranges so the z-value is scale-independent and
      // cross-engine reproducible (writeZOrdered derives them from data)
      read(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          LayoutOps.zValue(Seq(
            col("doc_id") -> (0.0, 100000.0),
            col("n_chars") -> (0.0, 2000.0)), bits = 8).as("zval"))
        .orderBy(col("doc_id"))
    }),

    // ---- flagship composition: the full training-corpus pipeline --------
    "q52_corpus_pipeline" -> ((s, dir) => {
      // quality gate → decontaminate vs held-out eval split → per-source
      // quota cap → sequence packing: every stage is one of the library's
      // oracle-checked operators, composed end-to-end
      val docs = read(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 20 === 0)
      val train = docs.filter(col("doc_id") % 20 =!= 0)
      val quality = train.filter(
        Repetition.typeTokenRatio(col("text")) >= 0.40 &&
        Repetition.topNgramShare(col("text"), 3) <= 0.05)
      val clean = Decontaminate.removeContaminated(quality, "doc_id", "text",
        evalSet, "text", shingleSize = 3, minOverlap = 10)
      val capped = Sampling.quotaPerGroup(
        clean.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), Seq(col("n_chars").desc, col("doc_id").asc), k = 20)
      Packing.packByBudget(capped, "doc_id", "n_chars",
          budget = 16384, blockSize = 256)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("quota_rank"), col("pack_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- stratified sampling (Sampling extension) -----------------------
    "q53_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedSample(read(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25),
        defaultFraction = 0.1)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- attribution-window join (batch twin of the stream-stream join) --
    "q54_attribution_join" -> ((s, dir) => {
      EventStream.attributionJoinBatch(
          EventsSource.read(s, s"$dir/events.parquet"), maxLagMinutes = 30)
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("purchase_ts")).as("purchase_ts_us"),
          col("view_id"),
          unix_micros(col("view_ts")).as("view_ts_us"))
        .orderBy(col("purchase_id"), col("view_id"))
    }),

    // ---- epoch mixture (upsampling; Sampling extension) -----------------
    "q55_epoch_mixture" -> ((s, dir) => {
      // curated (en) docs repeated 1.5 epochs, the rest downsampled to 0.5
      val docs = read(s, dir, "documents")
      Sampling.epochMixture(Seq(
          docs.filter(col("lang") === "en") -> 1.5,
          docs.filter(col("lang") =!= "en") -> 0.5), "doc_id")
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // ---- real image resize (Multimodal) ---------------------------------
    "q56_image_resize" -> ((s, dir) => {
      // real PNGs with row-determined dimensions, resized through the real
      // decoder — the post-resize dimensions are pure arithmetic, so the
      // oracle can verify the whole generate→decode→resize loop
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 200)
      val media = Multimodal.withGeneratedPng(
        docs.select(col("doc_id")), "doc_id",
        lit(20) + col("doc_id") % 80, lit(10) + col("doc_id") % 40,
        col("doc_id") % 256)
      Multimodal.resizeImages(media, "media_bytes", "doc_id", maxSide = 32)
        .select(col("id").as("doc_id"), col("width"), col("height"), col("resized"))
        .orderBy(col("doc_id"))
    }),

    // ---- real audio decode (Multimodal) ---------------------------------
    "q57_audio_decode" -> ((s, dir) => {
      // real PCM WAV sine tones with row-determined frequency/duration/
      // amplitude, decoded back through javax.sound.sampled; the oracle
      // recomputes the exact quantized samples and their RMS in SQL
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 200)
      val media = Multimodal.withGeneratedWav(
        docs.select(col("doc_id")), "doc_id",
        lit(100.0) + (col("doc_id") % 20) * lit(50.0),
        lit(50) + (col("doc_id") % 10) * lit(10),
        lit(0.1) + (col("doc_id") % 9) * lit(0.1))
      Multimodal.decodeAudio(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
          col("duration_ms"), round(col("rms"), 4).as("rms"), col("decoded"))
        .orderBy(col("doc_id"))
    }),

    // ---- real multi-frame extraction (Multimodal "video") ---------------
    "q58_video_frames" -> ((s, dir) => {
      // animated GIFs (real multi-frame containers) with row+frame-
      // determined gray levels, decoded frame by frame; the recovered gray
      // level is integer-exact, so the oracle is pure modular arithmetic
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 100)
      val media = Multimodal.withGeneratedGif(
        docs.select(col("doc_id")), "doc_id", frames = 4)
      Multimodal.sampleFramesReal(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("frame_index"),
          col("width"), col("height"),
          round(col("mean_luminance") * 255).cast("long").as("gray"))
        .orderBy(col("doc_id"), col("frame_index"))
    }),

    // ---- text cleaning (TextClean) --------------------------------------
    "q59_text_clean" -> ((s, dir) => {
      // synthesize PII + decomposed-unicode text deterministically from row
      // values, then run the full hygiene pass; the oracle rebuilds the
      // same strings and cleans them with DuckDB's RE2 + nfc_normalize
      val synth = concat(
        substring(col("text"), 1, 40),
        lit(" caf"), lit("\u0065\u0301"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://site"), (col("doc_id") % 7).cast("string"),
        lit(".io at 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
      read(s, dir, "documents")
        .select(col("doc_id"), TextClean.clean(synth).as("cleaned"))
        .orderBy(col("doc_id"))
    }),

    // ---- char-level n-gram overlap (Dedup extension) --------------------
    "q60_char_ngram" -> ((s, dir) => {
      // capped production plan, same argument as q20 (max char-window df
      // is 6 at sf0.01, 57 at sf0.1 — the cap never binds here)
      Dedup.charNgramJaccard(read(s, dir, "documents"), "doc_id", "text",
        windowChars = 20, threshold = 0.5, maxDocFreq = Some(1000L))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- uniform per-group sampling (Sampling extension) ----------------
    "q61_uniform_per_group" -> ((s, dir) => {
      Sampling.uniformPerGroup(read(s, dir, "documents"), Seq("source"),
        "doc_id", k = 5)
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy(col("source"), col("sample_rank"))
    }),

    // ---- end-to-end near-dup removal (Dedup convenience) ----------------
    "q62_drop_near_dups" -> ((s, dir) => {
      // LSH candidate net is 100%-recall on this corpus at oracle scale
      // (same argument as q25), so the kept set equals the exact-pair
      // computation the oracle runs
      Dedup.dropNearDuplicates(read(s, dir, "documents"), "doc_id", "text",
        threshold = 0.7)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- transitive near-dup clusters (iterative connected components) --
    "q63_neardup_clusters" -> ((s, dir) => {
      // exact transitive clustering over the LSH pair graph (100%-recall
      // net at oracle scale, same argument as q25/q62); the oracle
      // recomputes components with a recursive CTE
      Dedup.nearDupClusters(read(s, dir, "documents"), "doc_id", "text",
        threshold = 0.7, materialize = true)
        .select(col("id").as("doc_id"), col("component"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- capped n-gram Jaccard (the 100 TB production mode) -------------
    "q64_ngram_capped" -> ((s, dir) => {
      // maxDocFreq bounds the df^2 self-join blowup; the oracle mirrors the
      // cap semantics exactly (df over distinct per-doc shingles, inter
      // over kept shingles, jaccard against FULL set sizes), so this checks
      // the capped path bit-for-bit — including the documented jaccard
      // underestimate on hot-shingle pairs.
      Dedup.ngramJaccard(read(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.7, maxDocFreq = Some(5L))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- streaming execution paths under the oracle ---------------------
    // Each stages the events table to micros parquet (what an ingestion
    // layer lands — the streaming source rejects TIMESTAMP(NANOS)), runs
    // the REAL streaming query to completion on it (memory sink), and
    // returns the sink table; the oracle recomputes the closed-set result
    // in SQL. These check the stream execution path itself, not a twin.
    "q65_sessionize_stream" -> ((s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val sessions = runToCompletion(s, "q65_sess",
        EventStream.sessionizeStream(s, staged, schema, gapMinutes = 30), parquetRows(s, staged))
      // emitted ⟺ the final watermark (max ts, ms-floored, minus the gap
      // delay) is strictly past session_end + gap — watermark-complete
      sessions.select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start"))
    }),
    "q66_dedup_stream" -> ((s, dir) => {
      // duplicate every event, then streaming-dedup on event_id: the
      // closed-set result is each event exactly once
      val staged = stageEventsMicros(s, dir, duplicate = true)
      val schema = ParquetIO.schema(s, staged)
      val out = runToCompletion(s, "q66_dedup",
        EventStream.dedupStream(s, staged, schema, Seq("event_id")), parquetRows(s, staged))
      out.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy(col("event_id"))
    }),
    // ---- real MP4 container decode (IsoBmff demux + per-sample PNG) -----
    "q68_mp4_frames" -> ((s, dir) => {
      // real ISO BMFF files (ftyp/mdat/moov with full sample tables),
      // video track in the QuickTime png codec; the demuxer walks the
      // actual stsd/stsz/stsc/stco boxes and the recovered gray level is
      // integer-exact, so the oracle is pure modular arithmetic
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 100)
      val media = Multimodal.withGeneratedMp4(
        docs.select(col("doc_id")), "doc_id", frames = 4)
      Multimodal.sampleFramesMp4(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("codec"), col("frame_index"),
          col("width"), col("height"),
          round(col("mean_luminance") * 255).cast("long").as("gray"))
        .orderBy(col("doc_id"), col("frame_index"))
    }),
    // ---- messy-lake read: schema evolution + corrupt-file tolerance -----
    // A lake directory written at two schema versions (v2 adds n_chars)
    // with a truncated junk file dropped in: mergeSchema unifies the
    // footers (v1 rows read n_chars as NULL), ignoreCorruptFiles skips the
    // junk instead of failing the scan. Oracle recomputes the per-lang
    // rollup from the flat table with the same v1/v2 boundary.
    "q175_evolving_read" -> ((s, dir) => {
      val tmp = stageEvolvingLake(s, dir)
      ParquetIO.readLake(s, s"$tmp/{v1,v2}")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_chars")).as("n_v2"),
          sum("n_chars").as("sum_chars"))
        .gateOrdered(col("lang"))
    }),

    // ---- pairwise interaction density grid (report scatter section) -----
    // exact 2-D bin counts per numeric column pair — the distributed form
    // of the profiling report's scatter plots; output bounded by
    // pairs × bins² regardless of row count
    "q174_interaction_grid" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      ColumnProfiler.interactionGrid(
          ev.select(col("event_id"), col("user_id"), col("value")), bins = 24)
        .gateOrdered(col("col_a"), col("col_b"), col("bin_x"), col("bin_y"))
    }),

    // ---- Motion-JPEG MP4 decode (real lossy-codec samples) --------------
    "q173_mjpeg_frames" -> ((s, dir) => {
      // same container + demux as q68 but the samples are REAL JPEG
      // bitstreams (QuickTime Motion-JPEG): uniform-gray frames survive
      // the lossy codec exactly (DC-only blocks; verified for all 256
      // levels in MultimodalSpec), so the oracle stays modular arithmetic
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 100)
      val media = Multimodal.withGeneratedMjpegMp4(
        docs.select(col("doc_id")), "doc_id", frames = 4)
      Multimodal.sampleFramesMp4(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("codec"), col("frame_index"),
          col("width"), col("height"),
          round(col("mean_luminance") * 255).cast("long").as("gray"))
        .orderBy(col("doc_id"), col("frame_index"))
    }),

    // Hourly windowed agg through the real stream: append mode emits only
    // windows the final watermark (max ts, ms-floored, minus the 1-hour
    // delay) has sealed
    // ---- streaming PSI drift monitor ------------------------------------
    // per-hour PSI of `value` against the table's own overall bin rates
    // (the baseline a deployed monitor would carry as literals); binning
    // is pure literal comparisons, psi a fixed left-to-right fold — both
    // engines replay it bit-identically before the 6-dp round
    "q221_psi_drift_stream" -> ((s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val edges = psiStreamEdges
      val ev = ParquetIO.read(s, staged).filter(col("value").isNotNull)
      val bin = edges.foldLeft(lit(0)) { (a, e) =>
        a + when(col("value").cast("double") > e, 1).otherwise(0) }
      val counts = (0 to edges.length).map(b =>
        sum(when(col("__b") === b, 1L).otherwise(0L)).as(s"c$b"))
      val base = ev.select(bin.as("__b"))
        .agg(count(lit(1)).as("n"), counts: _*).head()
      val n = base.getLong(0)
      val rates = (0 to edges.length).map(b => base.getLong(b + 1).toDouble / n)
      val out = runToCompletion(s, "q221_psi",
        EventStream.psiDriftStream(s, staged, schema, "value", edges,
          rates.toArray), parquetRows(s, staged))
      out.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"), col("psi"))
        .orderBy(col("hour"))
    }),

    "q81_hourly_stream" -> ((s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val agg = runToCompletion(s, "q81_hourly",
        EventStream.hourlyAggStream(s, staged, schema), parquetRows(s, staged))
      agg.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }),
    "q67_attribution_stream" -> ((s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val pairs = runToCompletion(s, "q67_attr",
        EventStream.attributionJoinStream(s, staged, schema, maxLagMinutes = 30), parquetRows(s, staged))
      // stream-stream inner join with both-sided watermarks emits every
      // matched pair on a closed input — same oracle as the batch twin q54
      pairs.select(col("purchase_id"), col("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"),
        col("view_id"),
        unix_micros(col("view_ts")).as("view_ts_us"))
        .orderBy(col("purchase_id"), col("view_id"))
    }),

    // ---- stream-stream LEFT-OUTER attribution (null-emit semantics) -----
    "q176_attribution_left_stream" -> ((s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val pairs = runToCompletion(s, "q176_attr_left",
        EventStream.attributionJoinLeftStream(s, staged, schema, maxLagMinutes = 30), parquetRows(s, staged))
      // matched rows emit like the inner join; unmatched purchases emit
      // null view columns once the final watermark (max ts, ms-floored,
      // minus the 1-hour delay) passes their timestamp — purchases inside
      // the horizon stay in state and are absent, which the oracle models
      pairs.select(col("purchase_id"), col("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"),
        col("view_id"),
        unix_micros(col("view_ts")).as("view_ts_us"))
        .orderBy(col("purchase_id"), col("view_id"))
    }),

    // ---- line-level exact dedup (CCNet boilerplate pass) ----------------
    "q69_line_dedup" -> ((s, dir) => {
      // the corpus has no newlines, so the fixture derives a multi-line
      // twin: lines = 8-token windows at stride 8 (compiled kernel) plus a
      // boilerplate line shared by every doc; the oracle mirrors the
      // construction with list_transform windows. Cap 2 strikes the
      // boilerplate (df=500) and the handful of content windows shared by
      // 3 docs, keeping doc-unique prose.
      val ml = read(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", concat(
          graft.functions.kernels.TextKernelFunctions.shingleStrings(col("text"), 8, 8),
          array(lit("subscribe to our newsletter today")))).as("text_ml"))
      Dedup.dedupLines(ml, "doc_id", "text_ml", maxLineDocFreq = 2)
        .select(col("id").as("doc_id"), col("text_dedup"),
          col("n_lines_kept"), col("n_lines_dropped"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- incremental near-dup: new batch vs existing corpus -------------
    "q70_neardup_incremental" -> ((s, dir) => {
      // odd doc_ids play the incoming batch, even the historical corpus.
      // Banding is a pure per-row projection, so each doc's band buckets
      // are identical to its q25 full-corpus run — any true cross-parity
      // pair at ≥ 0.7 was caught by q25's net (verified 100%-recall at
      // oracle scale) and still collides here; the oracle recomputes exact
      // cross-parity Jaccard.
      val docs = read(s, dir, "documents")
      Dedup.minhashLshAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", threshold = 0.7)
        .select(col("new_id"), col("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // ---- corpus boilerplate mining: top n-grams -------------------------
    "q71_top_ngrams" -> ((s, dir) => {
      CorpusStats.topNgrams(read(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 50)
        .gateOrdered(col("total_count").desc, col("ngram"))
    }),

    // ---- BM25 keyword search (lexical retrieval) ------------------------
    "q72_bm25_search" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, "spark table join"),
        (1L, "slow hash batch"),
        (2L, "vector stream window value")).toDF("query_id", "qtext")
      Search.bm25TopK(read(s, dir, "documents"), "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id"),
          round(col("score"), 4).as("score"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- per-document TF-IDF keywords -----------------------------------
    // top-3 terms per doc by tf·ln(N/df) over the corpus's own df table;
    // minDf=5 drops hapax noise; ranked on the 6-dp-rounded score with
    // term-asc tie-break (a total order — deterministic across engines)
    "q218_tfidf_keywords" -> ((s, dir) => {
      Search.tfidfKeywords(read(s, dir, "documents"), "doc_id", "text",
        k = 3, minDf = 5L)
        .gateOrdered(col("doc_id"), col("rank"))
    }),

    // ---- cross-source duplicate-overlap matrix --------------------------
    // distinct md5 content fingerprints per source (the q28 convention),
    // pair overlap counts + content-set jaccard — the pre-merge
    // contamination report between crawl snapshots. The synthetic corpus
    // has no NATURAL cross-source dups, so a partial "re-crawl" overlay
    // (every 5th doc, relabeled re:<source>) stands in for the second
    // snapshot — each re:X row must share exactly its docs' content with X
    "q220_source_overlap" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val recrawl = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("source", concat(lit("re:"), col("source")))
      Dedup.crossSourceOverlap(docs.unionByName(recrawl), "doc_id", "text",
        "source")
        .gateOrdered(col("source_a"), col("source_b"))
    }),

    // ---- seeded Rademacher random projection (JL, 64 -> 8) --------------
    // the projection matrix is md5-derived from the seed string on BOTH
    // engines — no storage, no RNG state; per-dim sums are sequential
    // left-to-right doubles (≡ DuckDB's list_dot_product), so values are
    // bit-identical before the shared 6-dp round
    "q219_random_projection" -> ((s, dir) => {
      Similarity.randomProjection(read(s, dir, "embeddings"), "vec_id",
        "embedding", inDims = 64, outDims = 8)
        .gateOrdered(col("vec_id"), col("dim"))
    }),

    // ---- hybrid retrieval: BM25 ⊕ dense ANN via reciprocal-rank fusion --
    // the q72 lexical queries and the matching dense query vectors
    // (query_id ≡ vec_id — the synthetic tables share one id space) each
    // produce a top-20; RRF fuses rank-wise (no score calibration) into
    // the final top-10. Both upstream rankings are independently
    // oracle-proven (q72 / q21), so the fusion layer is what this checks
    "q190_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, "spark table join"),
        (1L, "slow hash batch"),
        (2L, "vector stream window value")).toDF("query_id", "qtext")
      val sparse = Search.bm25TopK(read(s, dir, "documents"), "doc_id", "text",
          queries, "query_id", "qtext", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = read(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 20)
        .select(col("query_id"), col("nbr_id").as("doc_id"), col("rank"))
      Search.rrfFuse(Seq("bm25" -> sparse, "dense" -> dense), k = 10)
        .select(col("query_id"), col("doc_id"), col("rank_bm25"),
          col("rank_dense"), col("rrf_score"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- DSIR importance weights toward a target domain -----------------
    // target = the English slice; every document scored by the smoothed
    // log-likelihood ratio of its hashed token features (engine-portable
    // bucket hash; decimal-exact per-doc sums — see Sampling.dsirWeights)
    "q191_dsir_weights" -> ((s, dir) => {
      Sampling.dsirWeights(read(s, dir, "documents"), "doc_id", "text",
          isTarget = col("lang") === "en", numBuckets = 64)
        .select(col("id").as("doc_id"), col("n_toks"), col("dsir_weight"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- distributed logistic-regression training (driver-sequenced) ----
    // a linear classifier trained by 4 full-batch gradient steps over
    // hashed token features: decimal-exact margins and gradients, 12-dp
    // inter-iteration weight rounding — the kmeansLloyd architecture
    // applied to model training (see operators.LinearModel). The label is
    // keyword DISTILLATION (does the doc contain 'spark') — the one
    // text-derivable signal in the synthetic corpus (the lang column is
    // metadata unrelated to the text, so no text model can learn it);
    // rank-AUC ≈ 0.79 at sf0.01 against a hash-collision ceiling ≈ 0.83
    "q200_logreg_train" -> ((s, dir) => {
      LinearModel.logregTrainHashed(read(s, dir, "documents"), "doc_id", "text",
          label = col("text").contains("spark"), numBuckets = 64,
          lr = 100.0, iterations = 4)
        .gateOrdered(col("bucket"))
    }),
    // the trained model applied as the admission signal (same weights,
    // one broadcast join + sigmoid per doc)
    "q201_logreg_score" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      LinearModel.logregScoreHashed(docs, "doc_id", "text",
          label = col("text").contains("spark"), weights = w, numBuckets = 64)
        .select(col("id").as("doc_id"), col("label"), col("score"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- classifier evaluation: exact rank-AUC + confusion --------------
    // threshold at the positive base rate (0.77) — the operating point
    // for an UNCALIBRATED model whose scores center on the class prior
    "q202_model_eval" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.evalScores(scored, threshold = 0.77)
    }),

    // ---- full PR/ROC curve: one operating point per distinct score ------
    // riding the shared two-phase cumsum (both running counts in one
    // pass, no global window); integer-exact counts, 4-dp rates
    "q217_pr_curve" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.prCurve(scored)
        .gateOrdered(col("threshold").desc)
    }),

    // ---- calibration curve: decile reliability bins ---------------------
    "q203_reliability" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.reliabilityBins(scored, bins = 10)
        .gateOrdered(col("bin"))
    }),

    // ---- deterministic word-dropout augmentation ------------------------
    "q204_word_dropout" -> ((s, dir) => {
      Sampling.wordDropout(read(s, dir, "documents"), "doc_id", "text",
          p = 0.1, salt = "wd:")
        .select(col("id").as("doc_id"), col("n_orig"), col("n_kept"),
          col("text_aug"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- gate operationalization: threshold at a target keep-rate -------
    "q205_score_gate" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.thresholdAtKeepRate(scored, keepRate = 0.5)
    }),

    // ---- per-source curation scorecard ----------------------------------
    "q199_source_scorecard" -> ((s, dir) => {
      CorpusStats.sourceScorecard(read(s, dir, "documents"), "text",
          sourceCol = "source", langCol = "lang", targetLang = "en")
        .gateOrdered(col("source"))
    }),

    // ---- DSIR selection: Gumbel-top-k over the importance logits --------
    // the resampling endpoint the weights exist for: draw 100 docs with
    // probability ∝ exp(weight) — Gumbel-max keys (log-domain E–S), the
    // right construction for logits that are legitimately negative
    "q197_dsir_select" -> ((s, dir) => {
      val w = Sampling.dsirWeights(read(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", numBuckets = 64)
      Sampling.gumbelTopK(w, "id", "dsir_weight", k = 100, salt = "dsir:")
        .select(col("id").as("doc_id"), col("dsir_weight"),
          round(col("sample_key"), 6).as("sample_key"))
        .orderBy(col("doc_id"))
    }),

    // ---- cross-doc duplicated spans (suffix-array-style, n-gram anchors) -
    "q192_duplicate_spans" -> ((s, dir) => {
      Dedup.duplicateSpans(read(s, dir, "documents"), "doc_id", "text",
          shingleSize = 8, maxDocFreq = 20, minShared = 3)
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- leakage-safe split (near-dups share a side) --------------------
    "q83_leakage_safe_split" -> ((s, dir) => {
      Sampling.leakageSafeSplit(read(s, dir, "documents"), "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), threshold = 0.7)
        .select(col("doc_id"), col("component"), col("split"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- per-label embedding centroids ----------------------------------
    "q82_group_centroids" -> ((s, dir) => {
      Similarity.groupCentroids(read(s, dir, "embeddings"), "label", "embedding")
        .select(col("group").as("label"), col("n_vectors"),
          posexplode(col("centroid")).as(Seq("dim", "value")))
        .select(col("label"), col("dim"),
          // + 0.0 folds IEEE −0.0 into +0.0 (DuckDB prints 0; a zero mean
          // of negative values would otherwise hash-mismatch)
          (round(col("value"), 4) + lit(0.0)).as("value"),
          col("n_vectors"))
        .orderBy(col("label"), col("dim"))
    }),

    // ---- ordered funnel analysis ----------------------------------------
    "q98_funnel" -> ((s, dir) => {
      Behavior.funnel(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy(col("stage"))
    }),

    // ---- weekly retention cohorts ---------------------------------------
    "q99_retention_cohorts" -> ((s, dir) => {
      Behavior.retentionCohorts(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts")
        .select(col("cohort_week"), col("week_offset"), col("n_active"),
          col("cohort_size"), col("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // ---- overlapping-interval coalescing --------------------------------
    "q100_interval_merge" -> ((s, dir) => {
      // intervals: [ts, ts + value minutes) in epoch-micros space (micros
      // match EventsSource's nanos→micros floor; DuckDB's epoch_us mirrors)
      val iv = EventsSource.read(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts"))
            + floor(col("value") * lit(60000000.0)).cast("long")).as("end_us"))
      Behavior.mergeIntervals(iv, Seq("user_id"), "start_us", "end_us")
        .select(col("user_id"), col("island"), col("interval_start"),
          col("interval_end"), col("n_rows"))
        .gateOrdered(col("user_id"), col("island"))
    }),

    // ---- PSI distribution drift -----------------------------------------
    "q101_psi_drift" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val cut = lit("1998-01-01").cast("timestamp")
      Drift.psiBins(li.filter(col("l_shipdate") < cut),
          li.filter(col("l_shipdate") >= cut),
          Seq("l_extendedprice", "l_discount"))
        .select(col("column_name"), col("bin"), col("n_a"), col("n_b"),
          round(col("psi_term"), 6).as("psi_term"))
        .gateOrdered(col("column_name"), col("bin"))
    }),

    // ---- weighted sampling without replacement --------------------------
    "q102_weighted_sample" -> ((s, dir) => {
      Sampling.weightedSample(read(s, dir, "documents"), "doc_id", "n_chars",
          k = 100, salt = "ws:")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- rolling active users (DAU/WAU/stickiness) ----------------------
    "q103_rolling_active" -> ((s, dir) => {
      Behavior.rollingActiveUsers(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", windowDays = 7)
        .select(col("day").cast("long").as("day"), col("dau"), col("wau"),
          col("stickiness"))
        .gateOrdered(col("day"))
    }),

    // ---- per-key skew diagnostic ----------------------------------------
    "q104_key_skew" -> ((s, dir) => {
      ScaleOps.keySkewReport(read(s, dir, "lineitem"), Seq("l_partkey"))
        .select(col("n_keys"), col("n_rows"), col("max_count"), col("mean_count"),
          round(col("p50_count"), 4).as("p50_count"),
          round(col("p90_count"), 4).as("p90_count"),
          round(col("p99_count"), 4).as("p99_count"), col("skew"))
    }),

    // ---- join fanout estimate (self-join worst case) --------------------
    "q105_join_fanout" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      ScaleOps.joinFanoutReport(li, li, Seq("l_partkey"))
    }),

    // ---- scale-safe global row numbering --------------------------------
    "q106_stable_rownum" -> ((s, dir) => {
      IndexOps.stableRowNumber(
          read(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
          Seq("o_custkey", "o_orderkey"))
        .select(col("o_orderkey"), col("row_num"))
        .gateOrdered(col("o_orderkey"))
    }),

    // ---- event-rate anomaly scores --------------------------------------
    "q107_rate_anomaly" -> ((s, dir) => {
      Behavior.rateAnomaly(EventsSource.read(s, s"$dir/events.parquet"),
        "ts", window = 24)
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_events"), col("z"))
        .orderBy(col("bucket"))
    }),

    // ---- declarative constraint validation -------------------------------
    "q108_validate" -> ((s, dir) => {
      import QualityOps._
      QualityOps.validate(read(s, dir, "lineitem"), Seq(
          NotNull("l_orderkey"),
          InRange("l_discount", 0.0, 0.05),
          InSet("l_returnflag", Seq("A", "N", "R")),
          Matches("l_linestatus", "^[OF]$"),
          Unique(Seq("l_orderkey", "l_linenumber"))))
        .gateOrdered(col("rule"))
    }),

    // ---- referential integrity check ------------------------------------
    "q109_referential" -> ((s, dir) => {
      // dim missing ~10% of keys (q91's fixture style) so orphans exist
      QualityOps.referentialIntegrity(
        read(s, dir, "lineitem"), "l_orderkey",
        read(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 3), "o_orderkey")
    }),

    // ---- k-anonymity release gate ---------------------------------------
    // quasi-identifiers (nation, market segment) over customers: class
    // counts → achieved k, at-risk rows, pass flag at k=5
    "q222_k_anonymity" -> ((s, dir) => {
      QualityOps.kAnonymity(read(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 5L)
    }),

    // ---- l-diversity release gate (QualityOps) -----------------------------
    // k-anonymity's companion: min distinct sensitive values per
    // quasi-class; l_linenumber spans 1..7, so l = 5 gives a real margin
    "q226_l_diversity" -> ((s, dir) => {
      QualityOps.lDiversity(read(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), "l_linenumber", l = 5L)
    }),

    // ---- Benford first-digit test (QualityOps) -----------------------------
    // synthetic-data smell test on order totals; the off-by-one log10
    // corrections make the digit exact under either engine's rounding
    "q227_benford" -> ((s, dir) => {
      QualityOps.benfordTest(read(s, dir, "orders"), "o_totalprice")
        .select(col("digit"), col("n"),
          round(col("share"), 6).as("share"),
          round(col("expected_share"), 6).as("expected_share"),
          round(col("chi2"), 4).as("chi2"))
        .orderBy(col("digit"))
    }),

    // ---- lang × source association (Association) -------------------------
    // χ² / Cramér's V / mutual information from ONE cell-bounded
    // contingency shuffle; the empty-cell χ² mass folds in closed form
    "q223_lang_source_assoc" -> ((s, dir) => {
      graft.profile.Association
        .categoricalAssociation(read(s, dir, "documents"), "lang", "source")
        .select(col("n"), col("k_a"), col("k_b"),
          // + 0.0 folds IEEE −0.0 (near-independent data rounds the tiny
          // mixed-sign MI sum — and a clamped χ² — to zero)
          (round(col("chi2"), 4) + lit(0.0)).as("chi2"),
          (round(col("cramers_v"), 6) + lit(0.0)).as("cramers_v"),
          (round(col("mutual_info"), 6) + lit(0.0)).as("mutual_info"))
    }),

    // ---- all-pairs association matrix (Association) -----------------------
    // the pre-training leakage scan: every column pair's chi2/V/MI row
    // over (lang, source, 500-char length bucket)
    "q228_assoc_matrix" -> ((s, dir) => {
      val d = read(s, dir, "documents")
        .withColumn("len_bucket", floor(col("n_chars") / 500).cast("long"))
      graft.profile.Association
        .associationMatrix(d, Seq("lang", "source", "len_bucket"))
        .select(col("col_a"), col("col_b"), col("n"), col("k_a"), col("k_b"),
          (round(col("chi2"), 4) + lit(0.0)).as("chi2"),
          (round(col("cramers_v"), 6) + lit(0.0)).as("cramers_v"),
          (round(col("mutual_info"), 6) + lit(0.0)).as("mutual_info"))
        .orderBy(col("col_a"), col("col_b"))
    }),

    // ---- ingestion novelty curve (CorpusStats) ----------------------------
    // new-fingerprint rate per doc_id batch; the cumulative distinct count
    // rides the deterministic-bucket cumsum (no global window at any scale)
    "q224_novelty_curve" -> ((s, dir) => {
      CorpusStats.noveltyCurve(read(s, dir, "documents"), "doc_id", "text",
          batchSize = 100L)
        .orderBy(col("batch"))
    }),

    // ---- embedding mislabel candidates (Similarity) -----------------------
    // k farthest-from-own-centroid vectors per label with within-label
    // z-score; top-k is the bounded-heap aggregate (map-side combining),
    // NOT a per-label sort window
    "q225_mislabel_candidates" -> ((s, dir) => {
      Similarity.mislabelCandidates(read(s, dir, "embeddings"),
          "vec_id", "embedding", "label", k = 5)
        .select(col("label"), col("id"),
          (round(col("dist"), 4) + lit(0.0)).as("dist"),
          (round(col("z"), 4) + lit(0.0)).as("z"), col("rank"))
        .orderBy(col("label"), col("rank"))
    }),

    // ---- Mann-Whitney U location drift (Drift) ---------------------------
    // rank-sum test between the two order-status slices' price
    // distributions; the rank sum is EXACT on both engines (half-integer
    // double sums below 2^52 never round), so u values are bit-stable
    "q229_mann_whitney" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      StatTests.mannWhitneyU(
          orders.filter(col("o_orderstatus") === "F"),
          orders.filter(col("o_orderstatus") === "O"), "o_totalprice")
        .select(col("n_a"), col("n_b"),
          (round(col("u_a"), 2) + lit(0.0)).as("u_a"),
          (round(col("u_b"), 2) + lit(0.0)).as("u_b"),
          (round(col("u"), 2) + lit(0.0)).as("u"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    }),

    // ---- Jensen-Shannon divergence (Drift) -------------------------------
    // event-type mix shift between the first week and the rest of the
    // corpus — symmetric, finite, bounded at ln 2 (PSI's eps-free cousin)
    "q230_js_divergence" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val cut = lit("2024-01-08").cast("date")
      Drift.jsDivergence(
          ev.filter(to_date(col("ts")) < cut),
          ev.filter(to_date(col("ts")) >= cut), "event_type")
        .select(col("n_a"), col("n_b"), col("k"),
          (round(col("jsd_nats"), 8) + lit(0.0)).as("jsd_nats"),
          (round(col("jsd_bits"), 8) + lit(0.0)).as("jsd_bits"))
    }),

    // ---- correlation ratio eta (Association) -----------------------------
    // cat->num leakage scan: share of n_chars variance explained by lang
    // (the third leg beside Cramer's V for cat-cat and Pearson num-num)
    "q231_correlation_ratio" -> ((s, dir) => {
      graft.profile.Association
        .correlationRatio(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("eta2"), 6) + lit(0.0)).as("eta2"),
          (round(col("eta"), 6) + lit(0.0)).as("eta"))
    }),

    // ---- Spearman rank correlation (Association) -------------------------
    // monotone association on the raw columns; average ranks come from
    // the shared per-distinct-value cumsum, never a global sort window
    "q232_spearman" -> ((s, dir) => {
      graft.profile.Association
        .spearmanCorrelation(read(s, dir, "lineitem"),
          "l_quantity", "l_extendedprice")
        .select(col("n"),
          (round(col("rho"), 6) + lit(0.0)).as("rho"))
    }),

    // ---- source/lang concentration report (CorpusStats) ------------------
    // Gini + HHI + top-share of docs per language — the diversity gate a
    // mixture designer reads before trusting per-source weights
    "q233_concentration" -> ((s, dir) => {
      CorpusStats.concentrationReport(read(s, dir, "documents"), "lang")
        .select(col("n_rows"), col("n_keys"),
          (round(col("gini"), 6) + lit(0.0)).as("gini"),
          (round(col("hhi"), 6) + lit(0.0)).as("hhi"),
          (round(col("top_share"), 6) + lit(0.0)).as("top_share"))
    }),

    // ---- rank-biased overlap of two term rankings (Search) ---------------
    // top-20 tf rankings of the even/odd document halves, compared with
    // the top-weighted RBO measure; everything after the term counts is
    // k-bounded by construction
    "q234_rbo" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      def topTerms(half: Int): DataFrame = {
        val w = Window.orderBy(col("cnt").desc, col("term").asc)
        docs.filter(col("doc_id") % 2 === half)
          .select(explode(TextFunctions.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term").asc).limit(20)
          .withColumn("rank", row_number().over(w))
      }
      Search.rbo(topTerms(0), topTerms(1), "term", "rank", p = 0.9, k = 20)
        .select(col("depth"), col("n_common"),
          (round(col("rbo"), 6) + lit(0.0)).as("rbo"),
          (round(col("rbo_ext"), 6) + lit(0.0)).as("rbo_ext"))
    }),

    // ---- Kaplan-Meier time-to-first-purchase survival (Behavior) ---------
    // right-censored: a user with no purchase by corpus end contributes a
    // lower-bound duration (first event -> horizon). Hour granularity; the
    // survival product is exp of a fixed-point prefix sum, identical on
    // both engines (no float product-order ambiguity)
    "q235_km_survival" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
      val horizon = ev.agg(max(col("ts")).as("h_ts"))
      val durations = perUser.crossJoin(broadcast(horizon)).select(
        floor((unix_timestamp(coalesce(col("p_ts"), col("h_ts"))) -
          unix_timestamp(col("first_ts"))) / 3600).cast("long").as("dur_h"),
        col("p_ts").isNull.as("cens"))
      Behavior.kmCurve(durations, "dur_h", "cens")
        .select(col("duration").as("hours"), col("n_risk"), col("n_churned")
            .as("n_events"), col("n_censored"),
          (round(col("survival"), 6) + lit(0.0)).as("survival"))
        .gateOrdered(col("hours"))
    }),

    // ---- KM curve with Greenwood log(-log) confidence bands ---------------
    // the q235 curve nobody should ship bare: the Greenwood term rides
    // the SAME fixed-point cumsum pass as the ln-survival prefix; the
    // exponential-Greenwood band stays inside [0,1]
    "q366_km_ci" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
      val horizon = ev.agg(max(col("ts")).as("h_ts"))
      val durations = perUser.crossJoin(broadcast(horizon)).select(
        floor((unix_timestamp(coalesce(col("p_ts"), col("h_ts"))) -
          unix_timestamp(col("first_ts"))) / 3600).cast("long").as("dur_h"),
        col("p_ts").isNull.as("cens"))
      Behavior.kmCurveCI(durations, "dur_h", "cens")
        .select(col("duration").as("hours"), col("n_risk"), col("n_events"),
          (round(col("survival"), 6) + lit(0.0)).as("survival"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
        .gateOrdered(col("hours"))
    }),

    // ---- Unicode anomaly scan (QualityOps) --------------------------------
    // encoding-health gate per language: U+FFFD replacement chars, stray
    // C0 controls, Latin+Cyrillic homoglyph mixing, non-ASCII share —
    // shared \x-escape character classes on both engines (the q213 lesson)
    "q236_unicode_anomaly" -> ((s, dir) => {
      QualityOps.unicodeAnomalies(read(s, dir, "documents"), "text", "lang")
        .select(col("lang"), col("n_docs"), col("n_docs_replacement"),
          col("n_docs_control"), col("n_docs_mixed_script"),
          (round(col("nonascii_share"), 6) + lit(0.0)).as("nonascii_share"))
        .orderBy(col("lang"))
    }),

    // ---- per-source boilerplate heads (CorpusStats) -----------------------
    // scraper-template detector: the share of a source one normalized
    // 40-char document head dominates; keyed window only, never global
    "q237_boilerplate" -> ((s, dir) => {
      CorpusStats.boilerplateHeads(read(s, dir, "documents"),
          "text", "source", headChars = 40)
        .orderBy(col("source"))
    }),

    // ---- per-source KS battery with BH-FDR gate (Drift) -------------------
    // one KS test per source (price distribution, first half vs second
    // half of the order keys), asymptotic p from the 100-term Kolmogorov
    // series (identical truncation both engines), BH step-up at 10%
    "q238_ks_fdr" -> ((s, dir) => {
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
    }),

    // ---- two-proportion z-test with Wilson intervals (Drift) --------------
    // error-rate shift between the first week of events and the rest
    "q239_proportion_z" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("is_err", col("event_type") === "error")
      val cut = lit("2024-01-08").cast("date")
      StatTests.proportionZTest(
          ev.filter(to_date(col("ts")) < cut),
          ev.filter(to_date(col("ts")) >= cut), "is_err")
        .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
          (round(col("rate_a"), 6) + lit(0.0)).as("rate_a"),
          (round(col("rate_b"), 6) + lit(0.0)).as("rate_b"),
          (round(col("diff"), 6) + lit(0.0)).as("diff"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("wilson_lo_a"), 6) + lit(0.0)).as("wilson_lo_a"),
          (round(col("wilson_hi_a"), 6) + lit(0.0)).as("wilson_hi_a"),
          (round(col("wilson_lo_b"), 6) + lit(0.0)).as("wilson_lo_b"),
          (round(col("wilson_hi_b"), 6) + lit(0.0)).as("wilson_hi_b"))
    }),

    // ---- empirical-Bayes shrunken per-source rates (QualityOps) -----------
    // per-source "mentions spark" rate shrunk toward the beta-binomial
    // MoM prior — small sources pull to the corpus mean
    "q240_eb_shrink" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("hit", col("text").contains("spark"))
      QualityOps.ebShrinkRates(docs, "source", "hit")
        .select(col("key").as("source"), col("n"), col("k"),
          (round(col("raw_rate"), 6) + lit(0.0)).as("raw_rate"),
          (round(col("shrunk_rate"), 6) + lit(0.0)).as("shrunk_rate"),
          (round(col("alpha"), 4) + lit(0.0)).as("alpha"),
          (round(col("beta"), 4) + lit(0.0)).as("beta"))
        .orderBy(col("source"))
    }),

    // ---- md5-seeded permutation test (Drift) ------------------------------
    // randomization test for the es-vs-de mean n_chars gap: 200
    // deterministic relabelings; n_chars is integer-valued so every
    // permutation mean is a bit-exact dyadic ratio on both engines
    "q242_permutation_test" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.permutationTestMeanDiff(
          docs.filter(col("lang") === "es"),
          docs.filter(col("lang") === "de"),
          "doc_id", "n_chars", nPerms = 200, seed = "pt")
        .select(col("n_a"), col("n_b"),
          (round(col("observed"), 6) + lit(0.0)).as("observed"),
          col("n_perms"), col("n_ge"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- per-source lexical KL vs the corpus (CorpusStats) ----------------
    // token-distribution distinctiveness over the global top-200 vocab +
    // OTHER bucket; one corpus scan, |sources|x(V+1)-bounded aggregation
    "q245_source_divergence" -> ((s, dir) => {
      CorpusStats.sourceDivergence(read(s, dir, "documents"),
          "text", "source", topV = 200)
        .select(col("source"), col("n_tokens"),
          (round(col("kl_nats"), 6) + lit(0.0)).as("kl_nats"))
        .orderBy(col("source"))
    }),

    // ---- hot-block-capped fuzzy self-linkage (Linkage.maxBlock) ----------
    // the oracle-pinned member of the hot-cap family: the 6-char p_name
    // prefix gives naturally skewed blocks (21..269 members at sf0.01) and
    // maxBlock=64 drops the five hottest WHOLE — DuckDB replays the block-
    // size filter itself, so drop-whole-blocks-only is hash-checked, not
    // just spec-asserted. (simhashNearDup's maxBucket shares this exact
    // code shape but its xxhash64 chunk buckets are not computable in SQL;
    // DedupSpec pins that variant at unit level.)
    "q246_linkage_capped" -> ((s, dir) => {
      Linkage.fuzzyDedupPairs(read(s, dir, "part"), "p_partkey", "p_name",
          blocker = Linkage.prefixBlocker(6), maxDistance = 1,
          maxBlock = Some(64L))
        .select(col("id_a"), col("id_b"), col("dist"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- Welch two-sample t (Drift) ---------------------------------------
    // unequal-variance mean comparison of en vs de doc lengths; exact
    // integer moments -> identical closed-form t/df/d on both engines
    "q247_welch_ttest" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.welchTTest(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("mean_a"), 6) + lit(0.0)).as("mean_a"),
          (round(col("mean_b"), 6) + lit(0.0)).as("mean_b"),
          (round(col("t"), 6) + lit(0.0)).as("t"),
          (round(col("df"), 6) + lit(0.0)).as("df"),
          (round(col("cohens_d"), 6) + lit(0.0)).as("cohens_d"))
    }),

    // ---- one-way ANOVA F across languages (Drift) -------------------------
    // k-group mean comparison of doc lengths by lang; moment-identity sums
    // of squares (ss rounded at 2dp: the 1e10-magnitude sums carry ~1e-5
    // cross-engine summation-order noise)
    "q248_anova" -> ((s, dir) => {
      StatTests.anovaF(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("ss_between"), 2) + lit(0.0)).as("ss_between"),
          (round(col("ss_within"), 2) + lit(0.0)).as("ss_within"),
          (round(col("f"), 6) + lit(0.0)).as("f"))
    }),

    // ---- Kruskal-Wallis H across languages (Drift) -------------------------
    // the rank-based ANOVA sibling; avg ranks via the shared cumsum, H at
    // 4dp (rank-sum squares cross 2^53, the division noise sits ~1e-7)
    "q249_kruskal" -> ((s, dir) => {
      StatTests.kruskalWallis(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("h"), 4) + lit(0.0)).as("h"),
          (round(col("tie_correction"), 9) + lit(0.0)).as("tie_correction"))
    }),

    // ---- Theil's uncertainty coefficient lang<->source (Association) ------
    // the ASYMMETRIC association: how much of lang does source explain,
    // and vice versa — directions differ, unlike q223's Cramer's V
    "q250_uncertainty" -> ((s, dir) => {
      graft.profile.Association
        .uncertaintyCoefficient(read(s, dir, "documents"), "lang", "source")
        .select(col("n"),
          (round(col("h_a"), 6) + lit(0.0)).as("h_a"),
          (round(col("h_b"), 6) + lit(0.0)).as("h_b"),
          (round(col("mi"), 6) + lit(0.0)).as("mi"),
          (round(col("u_a_given_b"), 6) + lit(0.0)).as("u_a_given_b"),
          (round(col("u_b_given_a"), 6) + lit(0.0)).as("u_b_given_a"))
    }),

    // ---- Cohen's kappa: stored lang vs heuristic lang-id (Association) ----
    // chance-corrected agreement between the corpus label and the q27
    // stopword-share predictor — the labeler-audit primitive; both engines
    // replay the identical argmax (ties break to the max language code)
    "q251_kappa" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), TextFunctions.langId(col("text")).as("pred"))
      graft.profile.Association.cohenKappa(docs, "lang", "pred")
        .select(col("n"),
          (round(col("po"), 6) + lit(0.0)).as("po"),
          (round(col("pe"), 6) + lit(0.0)).as("pe"),
          (round(col("kappa"), 6) + lit(0.0)).as("kappa"))
    }),

    // ---- Chao1 + Good-Turing vocabulary richness (CorpusStats) ------------
    // unseen-vocabulary estimators from the term frequency-of-frequencies
    "q252_vocab_richness" -> ((s, dir) => {
      CorpusStats.vocabRichness(read(s, dir, "documents"), "text")
        .select(col("n_tokens"), col("n_types"), col("f1"), col("f2"),
          (round(col("chao1"), 4) + lit(0.0)).as("chao1"),
          (round(col("gt_unseen_mass"), 6) + lit(0.0)).as("gt_unseen_mass"))
    }),

    // ---- Hill tail-index of the term-frequency law (CorpusStats) ----------
    // the heavy-tail exponent from the top-50 order statistics
    "q253_hill_tail" -> ((s, dir) => {
      // k = 20: the synthetic corpus draws from a ~31-term pool, so the
      // estimator needs k + 1 <= vocabulary
      CorpusStats.hillTailIndex(read(s, dir, "documents"), "text", k = 20)
        .select(col("k"), col("x_tail"),
          (round(col("alpha"), 6) + lit(0.0)).as("alpha"))
    }),

    // ---- CUSUM changepoint in daily event rate (Drift) --------------------
    // the at-most-one-change level-shift estimator; integer-exact scaled
    // CUSUM so the argmax day can never flip on float noise
    "q254_cusum" -> ((s, dir) => {
      StatTests.cusumChangepoint(EventsSource.read(s, s"$dir/events.parquet"), "ts")
        .select(col("n_days"), col("change_day"),
          (round(col("cusum_max"), 6) + lit(0.0)).as("cusum_max"),
          (round(col("rate_before"), 6) + lit(0.0)).as("rate_before"),
          (round(col("rate_after"), 6) + lit(0.0)).as("rate_after"))
    }),

    // ---- TV / Hellinger / chi2 distance battery (Drift) -------------------
    // event-type mix shift between the first week and the rest — the
    // metrics panel sibling of q230's JS divergence
    "q255_dist_distance" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val cut = lit("2024-01-08").cast("date")
      Drift.distributionDistances(
          ev.filter(to_date(col("ts")) < cut),
          ev.filter(to_date(col("ts")) >= cut), "event_type")
        .select(col("n_a"), col("n_b"), col("k"),
          (round(col("tv"), 6) + lit(0.0)).as("tv"),
          (round(col("hellinger"), 6) + lit(0.0)).as("hellinger"),
          (round(col("chi2_sym"), 6) + lit(0.0)).as("chi2_sym"))
    }),

    // ---- gains/lift decile table for the trained classifier (LinearModel) -
    // rank-ordered positive capture per decile; tie blocks never split, so
    // the bin assignment is integer-exact on both engines
    "q256_lift_table" -> ((s, dir) => {
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
    }),

    // ---- per-source lexical diversity: TTR + hapax share (CorpusStats) ----
    "q257_lexical_diversity" -> ((s, dir) => {
      CorpusStats.lexicalDiversity(read(s, dir, "documents"), "text", "source")
        .select(col("group").as("source"), col("n_tokens"), col("n_types"),
          (round(col("ttr"), 6) + lit(0.0)).as("ttr"),
          (round(col("hapax_rate"), 6) + lit(0.0)).as("hapax_rate"))
        .orderBy(col("source"))
    }),

    // ---- term burstiness: Fisher dispersion of top terms (CorpusStats) ----
    // variance-to-mean of per-doc counts, zeros in closed form
    "q258_burstiness" -> ((s, dir) => {
      CorpusStats.termBurstiness(read(s, dir, "documents"), "doc_id", "text",
          k = 20)
        .select(col("term"), col("total"), col("doc_freq"),
          (round(col("vmr"), 6) + lit(0.0)).as("vmr"))
        .gateOrdered(col("total").desc, col("term"))
    }),

    // ---- exact ROC AUC of the trained classifier (LinearModel) -------------
    // rank-based (Mann-Whitney) AUC with average ranks over tied scores;
    // rank sums are half-integer-exact on both engines
    "q259_auc" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val w = trainedKeywordWeights(s, dir)
      val scored = LinearModel.logregScoreHashed(docs, "doc_id", "text",
        label = col("text").contains("spark"), weights = w, numBuckets = 64)
      LinearModel.aucRoc(scored)
        .select(col("n"), col("n_pos"),
          (round(col("auc"), 6) + lit(0.0)).as("auc"),
          (round(col("gini"), 6) + lit(0.0)).as("gini"))
    }),

    // ---- McNemar's paired test: stored lang vs lang-id on 'en' (Assoc) ----
    // do the two 'is English' labelers disagree symmetrically? only the
    // discordant pairs carry signal
    "q260_mcnemar" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select((col("lang") === "en").as("a"),
          (TextFunctions.langId(col("text")) === "en").as("b"))
      graft.profile.Association.mcnemar(docs, "a", "b")
        .select(col("n"), col("n10"), col("n01"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          (round(col("chi2_cc"), 6) + lit(0.0)).as("chi2_cc"))
    }),

    // ---- Q-Q drift of event value, week 1 vs rest (Drift) ------------------
    // per-decile shift table: WHERE the distribution moved, not just
    // whether; exact quantiles, Spark-percentile interpolation
    "q261_qq_drift" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val cut = lit("2024-01-08").cast("date")
      Drift.qqDrift(ev.filter(to_date(col("ts")) < cut),
          ev.filter(to_date(col("ts")) >= cut), "value")
        .select((round(col("p"), 2) + lit(0.0)).as("p"),
          (round(col("q_a"), 4) + lit(0.0)).as("q_a"),
          (round(col("q_b"), 4) + lit(0.0)).as("q_b"),
          (round(col("shift"), 4) + lit(0.0)).as("shift"))
        .orderBy(col("p"))
    }),

    // ---- Murphy decomposition of the Brier score (LinearModel) ------------
    // reliability / resolution / uncertainty over the q203 decile bins
    "q262_brier" -> ((s, dir) => {
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
    }),

    // ---- top-k bigram collocations by PMI (CorpusStats) --------------------
    // adjacent-pair pointwise mutual information — linear in corpus size,
    // never a co-occurrence pair explosion
    "q263_pmi" -> ((s, dir) => {
      CorpusStats.pmiCollocations(read(s, dir, "documents"), "text",
          k = 20, minCount = 5)
        .select(col("w1"), col("w2"), col("count"),
          (round(col("pmi"), 6) + lit(0.0)).as("pmi"),
          (round(col("npmi"), 6) + lit(0.0)).as("npmi"))
        .gateOrdered(col("count").desc, col("w1"), col("w2"))
    }),

    // ---- Wald SPRT quality gate on the error rate (QualityOps) ------------
    // H0: error rate <= 2% vs H1: >= 5% at alpha = beta = 0.05 — the
    // sequential gate that knows when it has seen enough
    "q264_sprt" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("is_err", col("event_type") === "error")
      QualityOps.sprtGate(ev, "is_err", p0 = 0.02, p1 = 0.05)
        .select(col("n"), col("k"),
          (round(col("llr"), 4) + lit(0.0)).as("llr"),
          (round(col("lower"), 6) + lit(0.0)).as("lower"),
          (round(col("upper"), 6) + lit(0.0)).as("upper"),
          col("decision"))
    }),

    // ---- Theil-Sen robust trend of the daily event rate (Drift) -----------
    // median of pairwise slopes over the calendar-bounded day table
    "q265_theil_sen" -> ((s, dir) => {
      StatTests.theilSenTrend(EventsSource.read(s, s"$dir/events.parquet"), "ts")
        .select(col("n_days"), col("n_pairs"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 4) + lit(0.0)).as("intercept"))
    }),

    // ---- per-event-type CUSUM changepoint (Drift) --------------------------
    // one level-shift estimate per slice; keyed windows, nothing global
    "q266_cusum_by_type" -> ((s, dir) => {
      StatTests.cusumChangepointByKey(
          EventsSource.read(s, s"$dir/events.parquet"), "ts", "event_type")
        .select(col("key").as("event_type"), col("n_days"), col("change_day"),
          (round(col("cusum_max"), 6) + lit(0.0)).as("cusum_max"),
          (round(col("rate_before"), 6) + lit(0.0)).as("rate_before"),
          (round(col("rate_after"), 6) + lit(0.0)).as("rate_after"))
        .orderBy(col("event_type"))
    }),

    // ---- weekday seasonality strength: ANOVA F over day-of-week (Drift) ---
    // does the daily event rate depend on the weekday? anovaF composed on
    // the calendar-bounded per-day count table (group labels differ across
    // engines — Spark 1..7, DuckDB 0..6 — but the PARTITION is identical
    // and only n/k/ss/f leave the operator)
    "q267_seasonality" -> ((s, dir) => {
      val daily = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
        .withColumn("dow", dayofweek(col("day")))
      StatTests.anovaF(daily, "dow", "c")
        .select(col("n"), col("k"),
          (round(col("ss_between"), 4) + lit(0.0)).as("ss_between"),
          (round(col("ss_within"), 4) + lit(0.0)).as("ss_within"),
          (round(col("f"), 6) + lit(0.0)).as("f"))
    }),

    // ---- Fellegi-Sunter EM: per-field match weights (Linkage) -------------
    // unsupervised m/u probabilities + log-likelihood weights from
    // customer-block candidate pairs with 3 agreement indicators; EM runs
    // on the driver over the <= 8-row pattern table
    "q268_fs_weights" -> ((s, dir) => {
      Linkage.fellegiSunterWeights(fsPairs(read(s, dir, "customer")),
          Seq("nation_agree", "segment_agree", "balance_agree"))
        .select(col("field"),
          (round(col("m"), 6) + lit(0.0)).as("m"),
          (round(col("u"), 6) + lit(0.0)).as("u"),
          (round(col("w_agree"), 6) + lit(0.0)).as("w_agree"),
          (round(col("w_disagree"), 6) + lit(0.0)).as("w_disagree"),
          (round(col("lambda"), 6) + lit(0.0)).as("lambda"))
        .orderBy(col("field"))
    }),

    // ---- t-closeness release gate (QualityOps) ----------------------------
    // ordered-EMD of each (returnflag, linestatus) class's quantity
    // distribution vs the global one — the third privacy gate beside
    // q222 k-anonymity and q226 l-diversity
    "q270_t_closeness" -> ((s, dir) => {
      QualityOps.tCloseness(read(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"), "l_quantity", t = 0.05)
        .select(col("n_rows"), col("n_classes"),
          (round(col("t_closeness"), 6) + lit(0.0)).as("t_closeness"),
          col("n_classes_above_t"), col("n_rows_at_risk"),
          col("risk_share"), col("pass"))
    }),

    // ---- confident-learning label-noise estimate (LinearModel) ------------
    // per-class self-confidence thresholds partition the confident rows
    // into a joint count whose off-diagonals are the estimated mislabels
    "q271_label_noise" -> ((s, dir) => {
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
    }),

    // ---- Brown-Forsythe variance homogeneity across languages (Drift) -----
    // the assumption check beside q248's ANOVA: F on |x - median_g|;
    // integer values make medians and deviation moments engine-exact
    "q275_brown_forsythe" -> ((s, dir) => {
      StatTests.brownForsythe(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("ss_between"), 2) + lit(0.0)).as("ss_between"),
          (round(col("ss_within"), 2) + lit(0.0)).as("ss_within"),
          (round(col("f"), 6) + lit(0.0)).as("f"))
    }),

    // ---- ranked-retrieval eval: per-query NDCG@10 / AP / RR (Search) ------
    // brand recommendations from first-half spend, judged against
    // second-half purchases: ranks on the ROUNDED H1 revenue (brand-asc
    // tiebreak — the repo's deterministic-ranking pattern), graded
    // relevance = H2 purchase count capped at 4
    "q276_ndcg" -> ((s, dir) => {
      val (res, rel) = brandRecEval(s, dir)
      Search.rankingMetrics(res, rel, "c", "b", "r", "rel", k = 10)
        .select(col("c").as("custkey"), col("n_ranked"), col("n_rel"),
          (round(col("dcg"), 6) + lit(0.0)).as("dcg"),
          (round(col("idcg"), 6) + lit(0.0)).as("idcg"),
          (round(col("ndcg"), 6) + lit(0.0)).as("ndcg"),
          (round(col("ap"), 6) + lit(0.0)).as("ap"),
          (round(col("rr"), 6) + lit(0.0)).as("rr"))
        .gateOrdered(col("custkey"))
    }),

    // ---- Kendall tau-b on quantity vs price bucket (Association) ----------
    // pair counting via the densified distinct-cell grid + two chained
    // PARTITIONED prefix sums — C/D/tie masses are integer-exact, only
    // tau/z round
    "q278_kendall_tau" -> ((s, dir) => {
      val li = read(s, dir, "lineitem").select(col("l_quantity").as("x"),
        floor(col("l_extendedprice") / 5000).as("y"))
      graft.profile.Association.kendallTau(li, "x", "y")
        .select(col("n"), col("n_cells"), col("concordant"), col("discordant"),
          col("ties_x"), col("ties_y"),
          (round(col("tau_b"), 6) + lit(0.0)).as("tau_b"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    }),

    // ---- Somers' D: does quantity PREDICT the price bucket? ----------------
    // the asymmetric concordance (d_{Y|X} excludes predictor ties from the
    // denominator; = 2*AUC-1 for binary Y) over the q278 machinery
    "q363_somers_d" -> ((s, dir) => {
      val li = read(s, dir, "lineitem").select(col("l_quantity").as("x"),
        floor(col("l_extendedprice") / 5000).as("y"))
      graft.profile.Association.somersD(li, "x", "y")
        .select(col("n"), col("n_cells"), col("concordant"),
          col("discordant"), col("ties_x"), col("ties_y"),
          (round(col("d_y_given_x"), 6) + lit(0.0)).as("d_y_given_x"),
          (round(col("d_x_given_y"), 6) + lit(0.0)).as("d_x_given_y"))
    }),

    // ---- Cliff's delta effect size en vs de doc lengths (Drift) -----------
    // the ordinal effect-size companion of q229's Mann-Whitney U: exact
    // cross-pair counts from the distinct-value cumsum, delta and the
    // probability of superiority
    "q279_cliffs_delta" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.cliffsDelta(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"), col("gt"), col("lt"),
          col("ties").as("tie_pairs"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("p_superiority"), 6) + lit(0.0)).as("p_superiority"))
    }),

    // ---- exact 1-D Wasserstein distance en vs de doc lengths (Drift) ------
    // the drift metric with units: mass-transport distance over the merged
    // distinct-value CDF, neighbor gaps via a rank+1 equi-join (no global
    // window)
    "q280_wasserstein" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.wasserstein1(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"), col("n_values"),
          (round(col("w1"), 6) + lit(0.0)).as("w1"),
          (round(col("w1_norm"), 6) + lit(0.0)).as("w1_norm"))
    }),

    // ---- D'Agostino-Pearson K2 normality test on doc lengths (Drift) ------
    // one moment pass -> skew/kurtosis z transforms; chi2(2) survival is
    // the closed form exp(-K2/2), engine-identical
    "q281_dagostino" -> ((s, dir) => {
      StatTests.dagostinoK2(read(s, dir, "documents"), "n_chars")
        .select(col("n"),
          (round(col("g1"), 6) + lit(0.0)).as("g1"),
          (round(col("b2"), 6) + lit(0.0)).as("b2"),
          (round(col("z_skew"), 6) + lit(0.0)).as("z_skew"),
          (round(col("z_kurt"), 6) + lit(0.0)).as("z_kurt"),
          (round(col("k2"), 6) + lit(0.0)).as("k2"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- single mean-shift changepoint on the hourly purchase rate --------
    // "WHERE did the level change": argmax of the scaled CUSUM over the
    // zero-filled spine; integer counts keep every prefix exact, earliest
    // hour wins ties; TakeOrdered(1), no global sort
    "q364_changepoint" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("y"))
      StatTests.changepointMean(series, "h", "y")
        .select(col("n"), col("change_at"), col("k"),
          (round(col("stat"), 6) + lit(0.0)).as("stat"),
          (round(col("mean_before"), 6) + lit(0.0)).as("mean_before"),
          (round(col("mean_after"), 6) + lit(0.0)).as("mean_after"))
    }),

    // ---- Granger causality: do views LEAD purchases hour-to-hour? ---------
    // lag-1 F-test of "x_{t-1} adds forecast power over y's own lag" on
    // the zero-filled hourly view/purchase rates; all ten OLS moments
    // long-exact; 3.8415 = the F(1,inf) 5% point
    "q357_granger" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("x", "y"))
      StatTests.grangerLag1(series, "h", "x", "y")
        .select(col("n"),
          (round(col("beta_own"), 6) + lit(0.0)).as("beta_own"),
          (round(col("beta_cross"), 6) + lit(0.0)).as("beta_cross"),
          (round(col("f"), 6) + lit(0.0)).as("f"),
          col("df2"), col("granger_5pct"))
    }),

    // ---- Dickey-Fuller unit root on the hourly event rate (Drift) ---------
    // "does the rate mean-revert or wander": OLS of the hourly delta on
    // the lagged level over the q282 zero-filled series; integer counts
    // keep every OLS moment long-exact; -2.86 = the 5% constant-only
    // Fuller critical value
    "q355_dickey_fuller" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(count(lit(1)).as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("y"))
      StatTests.dickeyFuller(series, "h", "y")
        .select(col("n"),
          (round(col("gamma"), 6) + lit(0.0)).as("gamma"),
          (round(col("se_gamma"), 6) + lit(0.0)).as("se_gamma"),
          (round(col("df_stat"), 6) + lit(0.0)).as("df_stat"),
          col("stationary_5pct"))
    }),

    // ---- Ljung-Box white-noise test on the hourly event rate (Drift) ------
    // zero-filled calendar-hour series; lag products via a shifted-index
    // equi-join, chi2(10) survival in the closed even-dof form
    "q282_ljung_box" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0.0, Seq("y"))
      StatTests.ljungBox(series, "h", "y", maxLag = 10)
        .select(col("n"), col("lags"),
          (round(col("r1"), 6) + lit(0.0)).as("r1"),
          (round(col("q_stat"), 6) + lit(0.0)).as("q_stat"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Fisher exact test: German docs vs long docs (Association) --------
    // exact hypergeometric tails over the margin-bounded support, log-space
    // binomials via the lgamma kernel
    "q283_fisher_exact" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "de").as("a"), (col("n_chars") > 900).as("b"))
      graft.profile.Association.fisherExact(docs, "a", "b")
        .select(col("a11"), col("a10"), col("a01"), col("a00"),
          (round(col("odds_ratio"), 6) + lit(0.0)).as("odds_ratio"),
          (round(col("p_two_sided"), 6) + lit(0.0)).as("p_two_sided"),
          (round(col("p_greater"), 6) + lit(0.0)).as("p_greater"),
          (round(col("p_less"), 6) + lit(0.0)).as("p_less"))
    }),

    // ---- KMV distinct-count sketch vs exact (ScaleOps) --------------------
    // the replayable cardinality estimator: md5-prefix hashes, k-bounded
    // minima aggregate, closed-form (k-1)/u_(k) — DuckDB lands on the
    // bit-identical estimate
    "q284_kmv_distinct" -> ((s, dir) => {
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
    }),

    // ---- Heaps'-law vocabulary growth fit (CorpusStats) -------------------
    // first-occurrence curve over the doc_id-ordered token stream at 10
    // checkpoints + the closed-form log-log OLS. The synthetic corpus's
    // 31-token vocabulary saturates before the first checkpoint (flat
    // curve, fit undefined), so the query appends one per-doc unique
    // token — the id-minting corpus shape the operator exists to flag
    "q285_heaps_law" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" uid"), col("doc_id")))
      CorpusStats.heapsLaw(docs, "doc_id", "text", checkpoints = 10)
        .select(col("i"), col("n_prefix"), col("v_types"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("log_k"), 6) + lit(0.0)).as("log_k"),
          (round(col("r2"), 6) + lit(0.0)).as("r2"))
        .gateOrdered(col("i"))
    }),

    // ---- Jaro-Winkler name-similarity pairs (Linkage) ----------------------
    // distinct part names, 2-char prefix blocks, jw >= 0.8 — the kernel
    // replays DuckDB's exact conventions (integer-half transpositions,
    // 0.7 boost threshold), so the oracle recomputes identical scores
    "q286_jaro_winkler" -> ((s, dir) => {
      val names = read(s, dir, "part")
        .select(col("p_name").as("id"), col("p_name").as("nm")).distinct()
      Linkage.jaroWinklerPairs(names, "id", "nm",
          blocker = Linkage.prefixBlocker(2), threshold = 0.8)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
          (round(col("jw"), 6) + lit(0.0)).as("jw"))
        .gateOrdered(col("name_a"), col("name_b"))
    }),

    // ---- split-conformal prediction interval (LinearModel) ----------------
    // predict n_chars from token count: md5 40/30/30 split, OLS on train,
    // exact conformal order statistic on calibration, empirical coverage
    // on test
    "q287_conformal" -> ((s, dir) => {
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
    }),

    // ---- Cramer-von Mises two-sample test en vs de (Drift) ----------------
    // the integrated-CDF companion of q171's KS: same distinct-value
    // cumsum, squared gaps summed with multiplicity, exact null moments
    "q288_cvm" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.cramerVonMises(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("t"), 6) + lit(0.0)).as("t"),
          (round(col("t_expected"), 6) + lit(0.0)).as("t_expected"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    }),

    // ---- proportion effect-size panel: even vs odd users (Drift) ----------
    // the size companion of q239's z test: risk ratio / odds ratio / risk
    // difference with their Wald/Woolf CIs, Cohen's h
    "q289_risk_ratio" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .select((col("user_id") % 2 === 0).as("even"),
          (col("event_type") === "error").as("is_err"))
      StatTests.proportionEffects(ev.filter(col("even")),
          ev.filter(!col("even")), "is_err")
        .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
          (round(col("p_a"), 6) + lit(0.0)).as("p_a"),
          (round(col("p_b"), 6) + lit(0.0)).as("p_b"),
          (round(col("risk_ratio"), 6) + lit(0.0)).as("risk_ratio"),
          (round(col("rr_lo"), 6) + lit(0.0)).as("rr_lo"),
          (round(col("rr_hi"), 6) + lit(0.0)).as("rr_hi"),
          (round(col("odds_ratio"), 6) + lit(0.0)).as("odds_ratio"),
          (round(col("or_lo"), 6) + lit(0.0)).as("or_lo"),
          (round(col("or_hi"), 6) + lit(0.0)).as("or_hi"),
          (round(col("risk_diff"), 6) + lit(0.0)).as("risk_diff"),
          (round(col("rd_lo"), 6) + lit(0.0)).as("rd_lo"),
          (round(col("rd_hi"), 6) + lit(0.0)).as("rd_hi"),
          (round(col("cohens_h"), 6) + lit(0.0)).as("cohens_h"))
    }),

    // ---- Nelson-Aalen cumulative hazard (Behavior) -------------------------
    // q235's additive companion on the same censored durations; hazard and
    // variance ride one two-column fixed-point cumsum
    "q290_nelson_aalen" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
      val horizon = ev.agg(max(col("ts")).as("h_ts"))
      val durations = perUser.crossJoin(broadcast(horizon)).select(
        floor((unix_timestamp(coalesce(col("p_ts"), col("h_ts"))) -
          unix_timestamp(col("first_ts"))) / 3600).cast("long").as("dur_h"),
        col("p_ts").isNull.as("cens"))
      Behavior.naCurve(durations, "dur_h", "cens")
        .select(col("duration").as("hours"), col("n_risk"),
          col("n_churned").as("n_events"), col("n_censored"),
          (round(col("cum_hazard"), 6) + lit(0.0)).as("cum_hazard"),
          (round(col("var_hazard"), 8) + lit(0.0)).as("var_hazard"),
          (round(col("survival_na"), 6) + lit(0.0)).as("survival_na"))
        .gateOrdered(col("hours"))
    }),

    // ---- Count-Min sketch vs exact counts (ScaleOps) -----------------------
    // 4x64 cells over the supplier key (100 keys force collisions): the
    // one-sided guarantee audited key by key, summarized
    "q291_count_min" -> ((s, dir) => {
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
    }),

    // ---- Cochran-Armitage trend: error rate across day quarters -----------
    // one linear-trend degree of freedom over the ordered 6-hour bins
    "q292_cochran_armitage" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select((hour(col("ts")) / 6).cast("int").cast("double").as("w"),
          (col("event_type") === "error").as("s"))
      graft.profile.Association.cochranArmitage(ev, "w", "s")
        .select(col("n"), col("k_groups"),
          (round(col("slope_num"), 6) + lit(0.0)).as("slope_num"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("chi2_trend"), 6) + lit(0.0)).as("chi2_trend"))
    }),

    // ---- DeLong AUC confidence interval (LinearModel) ----------------------
    // q259's AUC with its error bar: placement variances from the same
    // distinct-score cumsum
    "q293_auc_delong" -> ((s, dir) => {
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
    }),

    // ---- periodogram power at the daily/weekly lines (Drift) --------------
    // DFT power at caller-named periods over the zero-filled hourly series;
    // the hour index is REBASED to 0..n-1 so cos/sin arguments stay small
    // (large-argument reduction is where libm implementations drift)
    "q303_periodogram" -> ((s, dir) => {
      val series = rebasedHourlySeries(s, dir)
      StatTests.periodogramPower(series, "t", "y", Seq(24, 168))
        .select(col("period"), col("n"),
          (round(col("c"), 4) + lit(0.0)).as("c"),
          (round(col("s"), 4) + lit(0.0)).as("s"),
          (round(col("power"), 2) + lit(0.0)).as("power"),
          (round(col("frac"), 6) + lit(0.0)).as("frac"))
        .gateOrdered(col("period"))
    }),

    // ---- Hurst exponent (R/S) of the hourly load (Drift) ------------------
    // long-memory diagnostic: block-partitioned rescaled ranges at four
    // scales, log-log fit
    "q304_hurst" -> ((s, dir) => {
      val series = rebasedHourlySeries(s, dir)
      StatTests.hurstRS(series, "t", "y", Seq(8, 16, 32, 64))
        .select(col("b"), col("n_blocks"),
          (round(col("mean_rs"), 6) + lit(0.0)).as("mean_rs"),
          (round(col("hurst"), 6) + lit(0.0)).as("hurst"),
          (round(col("r2"), 6) + lit(0.0)).as("r2"))
        .gateOrdered(col("b"))
    }),

    // ---- Poisson overdispersion of per-user event counts (Drift) ----------
    // Fisher's index-of-dispersion test: is per-user load Poisson or
    // bursty? closed-form normal approximation on both engines
    "q302_overdispersion" -> ((s, dir) => {
      val perUser = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      StatTests.overdispersionTest(perUser, "c")
        .select(col("n"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("variance"), 6) + lit(0.0)).as("variance"),
          (round(col("dispersion"), 6) + lit(0.0)).as("dispersion"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    }),

    // ---- Jarque-Bera normality on doc lengths (Drift) ---------------------
    // one power-sum scan; chi2(2) survival is the exact exp(-jb/2)
    "q303_jarque_bera" -> ((s, dir) => {
      StatTests.jarqueBera(read(s, dir, "documents"), "n_chars")
        .select(col("n"),
          (round(col("g1"), 6) + lit(0.0)).as("g1"),
          (round(col("b2"), 6) + lit(0.0)).as("b2"),
          (round(col("jb"), 6) + lit(0.0)).as("jb"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Bartlett variance homogeneity across langs (Drift) ---------------
    // normal-theory companion of q275 brown_forsythe; per-group moments
    // only; df = 4 (even) so the survival is closed-form on both engines
    "q304_bartlett" -> ((s, dir) => {
      StatTests.bartlettTest(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("pooled_var"), 6) + lit(0.0)).as("pooled_var"),
          (round(col("statistic"), 6) + lit(0.0)).as("statistic"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- standardized effect sizes en vs de doc lengths (Drift) -----------
    // the d / g / glass panel from one moment pass per slice
    "q305_effect_sizes" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.effectSizes(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("mean_a"), 6) + lit(0.0)).as("mean_a"),
          (round(col("mean_b"), 6) + lit(0.0)).as("mean_b"),
          (round(col("diff"), 6) + lit(0.0)).as("diff"),
          (round(col("cohens_d"), 6) + lit(0.0)).as("cohens_d"),
          (round(col("hedges_g"), 6) + lit(0.0)).as("hedges_g"),
          (round(col("glass_delta"), 6) + lit(0.0)).as("glass_delta"),
          (round(col("var_ratio"), 6) + lit(0.0)).as("var_ratio"))
    }),

    // ---- Mood's median test on doc lengths across langs (Drift) -----------
    // rank-exact lower grand median + a 2xk contingency chi2; df = 4 even
    "q307_mood_median" -> ((s, dir) => {
      StatTests.moodMedianTest(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("grand_median"), 6) + lit(0.0)).as("grand_median"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Cochran's Q: per-user high-value success across types (Assoc) ----
    // matched binary design: every user rated by all five event types,
    // success = any value > 50 event in the cell
    "q308_cochran_q" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_type"),
          (col("value") > 50.0).cast("int").as("succ"))
      graft.profile.Association.cochranQ(ev, "user_id", "event_type", "succ")
        .select(col("n_items"), col("k"),
          (round(col("q"), 6) + lit(0.0)).as("q"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Wald-Wolfowitz runs test per event type (Drift) ------------------
    // keyed windows only; above/below the key mean over (ts, event_id)
    "q309_runs_test" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      StatTests.runsTestByKey(ev, "event_type", Seq("ts", "event_id"), "value")
        .select(col("key"), col("n1"), col("n2"), col("runs"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
        .gateOrdered(col("key"))
    }),

    // ---- Durbin-Watson per event type: value vs hour trend (Drift) --------
    // x centered at the 2024-01-01 epoch so the OLS denominator never
    // cancels; keyed windows over (ts, event_id)
    "q310_durbin_watson" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("event_id").isNotNull)
        .withColumn("xh",
          (floor(unix_timestamp(col("ts")) / 3600) - lit(473702L)).cast("double"))
        .withColumn("yc", col("value") - 35.0)
      StatTests.durbinWatson(ev, "event_type", Seq("ts", "event_id"), "xh", "yc")
        .select(col("key"), col("n"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("dw"), 6) + lit(0.0)).as("dw"))
        .gateOrdered(col("key"))
    }),

    // ---- Breusch-Pagan heteroscedasticity: value vs hour (Drift) ----------
    // two moment passes; chi2(1) survival via the shared A&S polynomial
    "q311_breusch_pagan" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .withColumn("xh",
          (floor(unix_timestamp(col("ts")) / 3600) - lit(473702L)).cast("double"))
        .withColumn("yc", col("value") - 35.0)
      StatTests.breuschPagan(ev, "xh", "yc")
        .select(col("n"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("lm"), 6) + lit(0.0)).as("lm"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- classical seasonal decomposition of daily volume (Temporal) ------
    // period-7 centered MA trend + zero-mean weekday indices on the
    // zero-filled day spine
    "q312_seasonal_decompose" -> ((s, dir) => {
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
    }),

    // ---- Adamic-Adar supplier pairs sharing parts (GraphFeatures) ---------
    // bipartite co-occurrence: keyed self-join over parts, never
    // all-pairs; jaccard over full supplier part-sets
    "q313_adamic_adar" -> ((s, dir) => {
      val edges = read(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"), col("l_partkey").as("part"))
      graft.operators.GraphFeatures
        .coOccurrencePairs(edges, "supp", "part", minCommon = 140)
        .select(col("a"), col("b"), col("common"),
          (round(col("adamic_adar"), 6) + lit(0.0)).as("adamic_adar"),
          (round(col("jaccard"), 6) + lit(0.0)).as("jaccard"))
        .gateOrdered(col("a"), col("b"))
    }),

    // ---- degree assortativity of the supplier-part graph (GraphFeatures) --
    // integer-exact endpoint-degree correlation over the distinct edges
    "q314_assortativity" -> ((s, dir) => {
      val edges = read(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"), col("l_partkey").as("part"))
      graft.operators.GraphFeatures
        .degreeAssortativity(edges, "supp", "part", directed = true)
        .select(col("n_edges"), col("n_src"), col("n_dst"),
          (round(col("assortativity"), 6) + lit(0.0)).as("assortativity"))
    }),

    // ---- embedding covariance via the one-pass moments kernel (Similarity)
    // upper-triangle cells from ONE VectorMomentsAgg scan
    "q315_embedding_cov" -> ((s, dir) => {
      Similarity.embeddingCovariance(read(s, dir, "embeddings"), "embedding")
        .select(col("i"), col("j"),
          (round(col("mean_i"), 6) + lit(0.0)).as("mean_i"),
          (round(col("mean_j"), 6) + lit(0.0)).as("mean_j"),
          (round(col("cov"), 6) + lit(0.0)).as("cov"))
        .gateOrdered(col("i"), col("j"))
    }),

    // ---- PCA top-4: the eigen CONTRACT verified in DuckDB -----------------
    // eigendecomposition itself is not SQL, but its invariants are: unit
    // norms, pairwise orthogonality and C·v = λ·v residuals (against the
    // SAME covariance the operator consumed) pin to literal 0/1 at Jacobi
    // precision; the trace is independently recomputed by the oracle from
    // the parquet (Σ var_samp over dims); descending eigenvalue order is a
    // boolean. The component VALUES are pinned by q345's closed-form 2-d
    // replay and the SimilaritySpec spectrum test.
    "q316_pca_components" -> ((s, dir) => {
      import s.implicits._
      val emb = read(s, dir, "embeddings")
      val kTop = 4
      val comps = Similarity.pcaComponents(emb, "embedding", kTop).collect()
      val d = comps.map(_.getInt(1)).max + 1
      val v = Array.ofDim[Double](kTop, d)
      val lam = new Array[Double](kTop)
      comps.foreach { r =>
        v(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        lam(r.getInt(0)) = r.getDouble(3)
      }
      val cm = Array.ofDim[Double](d, d)
      Similarity.embeddingCovariance(emb, "embedding").collect().foreach { r =>
        cm(r.getInt(0))(r.getInt(1)) = r.getDouble(4)
        cm(r.getInt(1))(r.getInt(0)) = r.getDouble(4)
      }
      val trace = (0 until d).map(i => cm(i)(i)).sum
      val eigDesc = (1 until kTop).forall(i => lam(i) <= lam(i - 1))
      (0 until kTop).map { comp =>
        val cv = (0 until d).map(i =>
          (0 until d).map(j => cm(i)(j) * v(comp)(j)).sum)
        val res = math.sqrt((0 until d).map(i =>
          math.pow(cv(i) - lam(comp) * v(comp)(i), 2)).sum)
        val nrm = math.sqrt(v(comp).map(x => x * x).sum)
        val ortho = if (comp == 0) 0.0
          else (0 until comp).map(j =>
            math.abs(v(comp).zip(v(j)).map(t => t._1 * t._2).sum)).max
        (comp, nrm, ortho, res / lam(comp), trace, eigDesc)
      }.toDF("component", "norm", "max_ortho", "rel_residual", "trace",
          "eig_descending")
        .select(col("component"),
          (round(col("norm"), 6) + lit(0.0)).as("norm"),
          (round(col("max_ortho"), 6) + lit(0.0)).as("max_ortho"),
          (round(col("rel_residual"), 6) + lit(0.0)).as("rel_residual"),
          (round(col("trace"), 6) + lit(0.0)).as("trace"),
          col("eig_descending"))
        .gateOrdered(col("component"))
    }),

    // ---- PCA whitening closes the loop: unit variance, zero cross-cov -----
    // project + whiten on top-2 components, then verify the moments of
    // the projected coordinates (rows-only check; the variance ~ 1 /
    // cov ~ 0 structure is the self-certifying part)
    "q317_pca_whiten" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val comps = Similarity.pcaComponents(emb, "embedding", k = 2)
        .collect()
      val d = comps.map(_.getInt(1)).max + 1
      val w = Array.ofDim[Double](2, d)
      val lam = new Array[Double](2)
      comps.foreach { r =>
        w(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        lam(r.getInt(0)) = r.getDouble(3)
      }
      val mRow = Similarity.embeddingCovariance(emb, "embedding")
        .filter(col("i") === col("j")).select(col("i"), col("mean_i"))
        .collect()
      val means = new Array[Double](d)
      mRow.foreach(r => means(r.getInt(0)) = r.getDouble(1))
      val proj = Similarity.pcaProject(emb, "embedding", means, w,
        eigenvalues = lam, eps = 0.0)
      proj.select(col("projection")(0).as("z0"), col("projection")(1).as("z1"))
        .agg(count(lit(1)).as("n"),
          (round(var_samp(col("z0")), 4) + lit(0.0)).as("var_z0"),
          (round(var_samp(col("z1")), 4) + lit(0.0)).as("var_z1"),
          // the embeddings' spectrum is near-degenerate, so the exact
          // cross-covariance rotates with fp summation order — assert
          // the decorrelation CONTRACT, not the unstable digits
          (abs(covar_samp(col("z0"), col("z1"))) < 0.05).as("decorrelated"))
    }),

    // ---- Bayesian A/B: is click's high-value rate above view's? (Drift) ---
    // Beta-posterior overlap by the same 4000-cell midpoint quadrature
    // on both engines (lgamma is the only engine-native function)
    "q318_bayesian_ab" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("hv", (col("value") > 50.0).cast("int"))
      StatTests.bayesianAB(ev, "event_type", "hv", armA = "view", armB = "click")
        .select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
          (round(col("mean_a"), 6) + lit(0.0)).as("mean_a"),
          (round(col("mean_b"), 6) + lit(0.0)).as("mean_b"),
          (round(col("prob_b_gt_a"), 6) + lit(0.0)).as("prob_b_gt_a"))
    }),

    // ---- Gopher quality-rule panel: per-rule pass counts (Curation) -------
    // the published MassiveText thresholds as codegen'd projections; one
    // summary row of per-rule pass counts
    "q319_gopher_rules" -> ((s, dir) => {
      graft.operators.Curation
        .gopherQualityFlags(read(s, dir, "documents")
          .filter(col("text").isNotNull), "doc_id", "text")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pass_words").cast("int")).as("pass_words"),
          sum(col("pass_mean_word").cast("int")).as("pass_mean_word"),
          sum(col("pass_symbol").cast("int")).as("pass_symbol"),
          sum(col("pass_bullet").cast("int")).as("pass_bullet"),
          sum(col("pass_ellipsis").cast("int")).as("pass_ellipsis"),
          sum(col("pass_alpha").cast("int")).as("pass_alpha"),
          sum(col("pass_stopwords").cast("int")).as("pass_stopwords"),
          sum(col("pass").cast("int")).as("pass_all"),
          (round(avg(col("mean_word_len")), 6) + lit(0.0))
            .as("avg_mean_word_len"))
    }),

    // ---- C4 line filter over synthesized line structure (Curation) --------
    // the corpus has no newlines, so the query manufactures them with a
    // deterministic replace; the operator's keep/drop rules do the rest
    "q320_c4_filter" -> ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("text2", replace(col("text"), lit(" table "), lit(".\n")))
      graft.operators.Curation.c4LineFilter(docs, "doc_id", "text2")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text_clean")).as("clean_md5"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- embedding isotropy: exact mean pairwise cosine (Similarity) ------
    // the no-pair-join identity (|sum u|^2 - n)/(n(n-1))
    "q321_isotropy" -> ((s, dir) => {
      Similarity.isotropyScore(read(s, dir, "embeddings"), "embedding")
        .select(col("n"),
          (round(col("mean_pairwise_cos"), 6) + lit(0.0))
            .as("mean_pairwise_cos"))
    }),

    // ---- EWMA one-step backtest on daily volume (Drift) -------------------
    // the scaled-prefix closed form of exponential smoothing on the
    // q301 day spine; scores vs naive-1
    "q322_ewma_backtest" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val daily = ev.groupBy(floor(unix_timestamp(col("ts")) / 86400).as("t"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("t"))
      val series = spine.join(daily, Seq("t"), "left").na.fill(0.0, Seq("y"))
      StatTests.ewmaBacktest(series, "t", "y", alpha = 0.3)
        .select(col("n"), col("n_scored"),
          (round(col("mae_ewma"), 6) + lit(0.0)).as("mae_ewma"),
          (round(col("mae_naive1"), 6) + lit(0.0)).as("mae_naive1"),
          (round(col("rel_mae"), 6) + lit(0.0)).as("rel_mae"))
    }),

    // ---- chi-square GoF: weekday uniformity of events (Drift) -------------
    // pure-arithmetic day-of-epoch categories (engine-neutral); df = 6
    "q323_chisq_gof" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .select((floor(unix_timestamp(col("ts")) / 86400) % 7)
          .cast("string").as("dow"))
      StatTests.chiSquareGof(ev, "dow",
          (0 to 6).map(i => (i.toString, 1.0 / 7.0)))
        .select(col("n"), col("k"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- G-test of independence: lang x source (Association) --------------
    // the likelihood-ratio companion of q228's chi2; df = 76 (even)
    "q324_g_test" -> ((s, dir) => {
      graft.profile.Association.gTest(read(s, dir, "documents"),
          "lang", "source")
        .select(col("n"), col("k_a"), col("k_b"),
          (round(col("g"), 6) + lit(0.0)).as("g"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Cronbach's alpha over per-user event-type counts (Association) ---
    // are the five activity counters one "activity" construct?
    "q325_cronbach" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map(t => sum(when(col("event_type") === t, 1)
        .otherwise(0)).cast("double").as(s"n_$t"))
      val wide = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(aggs.head, aggs.tail: _*)
      graft.profile.Association.cronbachAlpha(wide, types.map(t => s"n_$t"))
        .select(col("n"), col("k"),
          (round(col("sum_item_var"), 6) + lit(0.0)).as("sum_item_var"),
          (round(col("total_var"), 6) + lit(0.0)).as("total_var"),
          (round(col("alpha"), 6) + lit(0.0)).as("alpha"))
    }),

    // ---- Hosmer-Lemeshow calibration of a deterministic score (Model) -----
    // pseudo-model: logistic of n_chars vs the is-english label; decile
    // cutpoints rank-exact from the distinct-score cumsum; df = 8
    "q326_hosmer_lemeshow" -> ((s, dir) => {
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
    }),

    // ---- isotonic calibration of the q326 pseudo-score (LinearModel) ------
    // the recalibrator the reliability gaps call for: 20 quantile bins
    // from the distinct-score cumsum, then the minimax (= PAVA) monotone
    // fit on exact long block sums — driver does O(bins^2) arithmetic
    "q354_isotonic_calibration" -> ((s, dir) => {
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
    }),

    // ---- Yuen trimmed-means test: en vs de doc lengths (Drift) ------------
    // the robust twin of q247's Welch t: 10%-trimmed means, winsorized
    // variances, Welch-Satterthwaite df; rank-exact overlap algebra on
    // the shared two-sided cumsum (integer n_chars keep the sums exact)
    "q361_yuen_trimmed" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.yuenTrimmedTest(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars", trimFrac = 0.1)
        .select(col("n_a"), col("n_b"), col("h_a"), col("h_b"),
          (round(col("trimmed_mean_a"), 6) + lit(0.0)).as("trimmed_mean_a"),
          (round(col("trimmed_mean_b"), 6) + lit(0.0)).as("trimmed_mean_b"),
          (round(col("t_stat"), 6) + lit(0.0)).as("t_stat"),
          (round(col("df"), 4) + lit(0.0)).as("df"))
    }),

    // ---- robust location panel on doc lengths (Drift) ---------------------
    // rank-exact trimmed/winsorized means from the distinct-value cumsum
    "q327_robust_location" -> ((s, dir) => {
      StatTests.robustLocation(read(s, dir, "documents"), "n_chars",
          trimFrac = 0.1)
        .select(col("n"), col("n_trim_each"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("trimmed_mean"), 6) + lit(0.0)).as("trimmed_mean"),
          (round(col("winsorized_mean"), 6) + lit(0.0)).as("winsorized_mean"),
          (round(col("median"), 6) + lit(0.0)).as("median"))
    }),

    // ---- Kuiper two-sample test: en vs de doc lengths (Drift) -------------
    // the KS distributed-cumsum plan with directional maxima; identical
    // 100-term asymptotic series on both engines
    "q328_kuiper" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.kuiperTest(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("d_plus"), 6) + lit(0.0)).as("d_plus"),
          (round(col("d_minus"), 6) + lit(0.0)).as("d_minus"),
          (round(col("v"), 6) + lit(0.0)).as("v"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Holm adjustment over the runs-test battery (Drift) ---------------
    // per-type runs-test z -> two-sided A&S p -> Holm step-down; the
    // battery is 5 rows, so its sort windows are bounded by construction
    "q329_p_adjust" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      val battery = StatTests.runsTestByKey(ev, "event_type",
          Seq("ts", "event_id"), "value")
        .withColumn("_az", abs(col("z")) / math.sqrt(2.0))
        .withColumn("_t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("_az")))
        .withColumn("p", col("_t") * (lit(0.254829592) + col("_t") *
          (lit(-0.284496736) + col("_t") * (lit(1.421413741) + col("_t") *
            (lit(-1.453152027) + col("_t") * 1.061405429)))) *
          exp(-col("_az") * col("_az")))
        .select(col("key"), col("p"))
      StatTests.pAdjust(battery, "p", method = "holm")
        .select(col("key"),
          (round(col("p"), 6) + lit(0.0)).as("p"),
          (round(col("p_adjusted"), 6) + lit(0.0)).as("p_adjusted"))
        .gateOrdered(col("key"))
    }),

    // ---- expected calibration error of the q326 pseudo-model (Model) ------
    "q330_calibration_error" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "en").cast("int").as("y"),
          (lit(1.0) / (lit(1.0) +
            exp((lit(400.0) - col("n_chars")) / 100.0))).as("s"))
      LinearModel.calibrationError(docs, "y", "s", bins = 10)
        .select(col("n"), col("n_bins"),
          (round(col("ece"), 6) + lit(0.0)).as("ece"),
          (round(col("mce"), 6) + lit(0.0)).as("mce"))
    }),

    // ---- inequality panel over per-user event loads (CorpusStats) ---------
    // Theil/Atkinson/CV2 from one moment pass on the keyed count table
    "q331_inequality" -> ((s, dir) => {
      val perUser = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      CorpusStats.inequalityPanel(perUser, "c")
        .select(col("n"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("theil_t"), 6) + lit(0.0)).as("theil_t"),
          (round(col("atkinson_1"), 6) + lit(0.0)).as("atkinson_1"),
          (round(col("cv2"), 6) + lit(0.0)).as("cv2"))
    }),

    // ---- two-sample Anderson-Darling: en vs de doc lengths (Drift) --------
    // tie-adjusted A2akN on the shared distributed cumsum; sigma from
    // the two O(N) harmonic loops
    "q332_anderson_darling" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.andersonDarling2(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("a2"), 6) + lit(0.0)).as("a2"),
          (round(col("sigma"), 6) + lit(0.0)).as("sigma"),
          (round(col("t_stat"), 6) + lit(0.0)).as("t_stat"))
    }),

    // ---- count-model fit of per-user-day event loads (Drift) --------------
    // zero-filled user x day grid; Poisson vs NB-MoM zero-mass diagnosis
    "q333_count_model" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      val counts = ev
        .groupBy(col("user_id"), floor(unix_timestamp(col("ts")) / 86400).as("d"))
        .agg(count(lit(1)).cast("double").as("c"))
      val users = ev.select(col("user_id")).distinct()
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts")))  / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("d"))
      val grid = users.crossJoin(broadcast(spine))
        .join(counts, Seq("user_id", "d"), "left").na.fill(0.0, Seq("c"))
      StatTests.countModelFit(grid, "c")
        .select(col("n"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("variance"), 6) + lit(0.0)).as("variance"),
          (round(col("zero_frac_obs"), 6) + lit(0.0)).as("zero_frac_obs"),
          (round(col("zero_frac_poisson"), 6) + lit(0.0))
            .as("zero_frac_poisson"),
          (round(col("nb_r"), 6) + lit(0.0)).as("nb_r"),
          (round(col("zero_frac_nb"), 6) + lit(0.0)).as("zero_frac_nb"))
    }),

    // ---- multiclass confusion report for a pseudo lang-ID (Model) ---------
    // deterministic 80%-ish predictor (every 5th doc mislabeled 'en');
    // per-class precision/recall/F1
    "q334_confusion" -> ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("lang").isNotNull)
        .withColumn("pred",
          when(col("doc_id") % 5 === 0, lit("en")).otherwise(col("lang")))
      LinearModel.confusionMatrix(docs, "lang", "pred")
        .select(col("class"), col("n_actual"), col("n_pred"), col("tp"),
          (round(col("precision"), 6) + lit(0.0)).as("precision"),
          (round(col("recall"), 6) + lit(0.0)).as("recall"),
          (round(col("f1"), 6) + lit(0.0)).as("f1"))
        .gateOrdered(col("class"))
    }),

    // ---- one-row multiclass summary of the same predictor (Model) ---------
    "q335_classification_summary" -> ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("lang").isNotNull)
        .withColumn("pred",
          when(col("doc_id") % 5 === 0, lit("en")).otherwise(col("lang")))
      LinearModel.classificationSummary(docs, "lang", "pred")
        .select(col("n"), col("n_classes"),
          (round(col("accuracy"), 6) + lit(0.0)).as("accuracy"),
          (round(col("macro_precision"), 6) + lit(0.0)).as("macro_precision"),
          (round(col("macro_recall"), 6) + lit(0.0)).as("macro_recall"),
          (round(col("macro_f1"), 6) + lit(0.0)).as("macro_f1"))
    }),

    // ---- Mahalanobis outlier scores: FULL per-row oracle replay at d=2 ----
    // the 2×2 inverse is closed-form SQL, so every score the Cholesky
    // whitening path emits is independently recomputed by DuckDB (means,
    // sample covariance, per-row d²) — a value-level pin of the whole
    // pipeline; the 64-d run of the SAME code path keeps its trace
    // identity Σd² = (n−1)·dim in SimilaritySpec. ridge = 0 for exact
    // parity (the 1e-9 default shifts d² by ~1e-6, visible at round 6).
    "q336_mahalanobis" -> ((s, dir) => {
      val e2 = read(s, dir, "embeddings").select(col("vec_id"),
        array(element_at(col("embedding"), 1),
          element_at(col("embedding"), 2)).as("v2"))
      Similarity.mahalanobisScores(e2, "v2", ridge = 0.0)
        .select(col("vec_id"),
          (round(col("mahalanobis_sq"), 6) + lit(0.0)).as("md2"))
        .gateOrdered(col("vec_id"))
    }),

    // ---- weighted kappa: quantized view-vs-click value ratings (Assoc) ----
    // ordinal 0..4 ratings per user from two event types; quadratic
    // penalties over the k-level index
    "q337_weighted_kappa" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("value").isNotNull && col("user_id").isNotNull)
      def rating(t: String, out: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id"))
        .agg(least(floor(avg(col("value")) / 25), lit(4.0)).as(out))
      val paired = rating("view", "ra").join(rating("click", "rb"), Seq("user_id"))
      graft.profile.Association.weightedKappa(paired, "ra", "rb")
        .select(col("n"), col("k"),
          (round(col("obs_penalty"), 6) + lit(0.0)).as("obs_penalty"),
          (round(col("exp_penalty"), 6) + lit(0.0)).as("exp_penalty"),
          (round(col("kappa_w"), 6) + lit(0.0)).as("kappa_w"))
    }),

    // ---- binary diagnostics of the is-english pseudo-gate (Model) ---------
    // MCC / balanced accuracy / Youden beside the confusion counts
    "q338_binary_diagnostics" -> ((s, dir) => {
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
    }),

    // ---- linear CKA: embedding vs its 16-dim truncation (Similarity) ------
    // one concatenated moments pass; Frobenius block algebra on the
    // driver; the oracle rebuilds the blocks from raw pair moments
    "q339_linear_cka" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
        .withColumn("head16", slice(col("embedding"), 1, 16))
      Similarity.linearCka(emb, "embedding", "head16")
        .select(col("n"), col("dim_a"), col("dim_b"),
          (round(col("cka"), 6) + lit(0.0)).as("cka"))
    }),

    // ---- balanced class downsampling by md5 rank (Sampling) ---------------
    // every lang kept at the smallest lang's count; id-sum pins the
    // exact kept SET, not just its size
    "q340_balanced_downsample" -> ((s, dir) => {
      val bal = Sampling.downsampleToBalance(
        read(s, dir, "documents").filter(col("lang").isNotNull),
        "lang", "doc_id")
      bal.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .gateOrdered(col("lang"))
    }),

    // ---- hive-partitioned write + pruned read (LayoutOps) -----------------
    // writePartitioned routes one writer per value; the read back
    // filters on the partition column (PlanSpec pins PartitionFilters)
    "q341_partition_pruning" -> ((s, dir) => {
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
    }),

    // ---- numeric MI: doc chars vs token count (Association) ---------------
    // rank-exact decile bins on both axes; plug-in MI + NMI
    "q342_numeric_mi" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("n_chars").isNotNull && col("text").isNotNull)
        .withColumn("tok", TextFunctions.tokenCount(col("text")).cast("double"))
      graft.profile.Association.numericMutualInfo(docs, "n_chars", "tok")
        .select(col("n"), col("bins_a"), col("bins_b"),
          (round(col("mi_nats"), 6) + lit(0.0)).as("mi_nats"),
          (round(col("nmi"), 6) + lit(0.0)).as("nmi"))
    }),

    // ---- seasonal Mann-Kendall on daily volume, period 7 (Drift) ----------
    // within-weekday pairs only; combined S and variance across phases
    "q343_seasonal_mk" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      StatTests.seasonalMannKendall(ev, "ts", period = 7)
        .select(col("n_days"), col("period"), col("s"),
          (round(col("var_s"), 6) + lit(0.0)).as("var_s"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          col("trend"))
    }),

    // ---- quantile-bin PSI: first-week vs rest event values (Drift) --------
    // decile-of-reference bins (rank-exact cutpoints); the production
    // PSI scale
    "q344_psi_quantile" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull)
      val ref = ev.filter(to_date(col("ts")) < lit("2024-01-08"))
      val cur = ev.filter(to_date(col("ts")) >= lit("2024-01-08"))
      Drift.psiQuantile(ref, cur, "value", bins = 10)
        .select(col("n_a"), col("n_b"), col("n_bins"),
          (round(col("psi"), 6) + lit(0.0)).as("psi"))
    }),

    // ---- PCA at d=2: closed-form FULL-value oracle replay (Similarity) ----
    // the 2×2 eigenproblem is closed-form SQL (λ = (t ± √(t²−4·det))/2,
    // v₁ ∝ (c_xy, λ₁−c_xx), v₂ = v₁⊥), so every value pcaComponents
    // emits — vectors, eigenvalues, explained ratios, the sign
    // convention — replays verbatim in DuckDB; the companion of q316's
    // invariant panel at full dimensionality
    "q345_pca2_closed_form" -> ((s, dir) => {
      val e2 = read(s, dir, "embeddings").select(col("vec_id"),
        array(element_at(col("embedding"), 1),
          element_at(col("embedding"), 2)).as("v2"))
      Similarity.pcaComponents(e2, "v2", k = 2)
        .select(col("component"), col("dim"),
          (round(col("value"), 6) + lit(0.0)).as("value"),
          (round(col("eigenvalue"), 6) + lit(0.0)).as("eigenvalue"),
          (round(col("explained_var_ratio"), 6) + lit(0.0))
            .as("explained_var_ratio"))
        .gateOrdered(col("component"), col("dim"))
    }),

    // ---- simhash near-dup with the hot-bucket cap ORACLE-PINNED -----------
    // q26 runs the production (compiled-simhash) path uncapped; this twin
    // swaps in the md5-derived 48-bit simhash (DuckDB recomputes md5 hex
    // bit-for-bit) so the oracle replays the ENTIRE capped pipeline: token
    // hashes → per-bit majority → 8-bit chunks → bucket sizes → the
    // maxBucket=50 drop (binds: the two all-zero top chunks carry every
    // doc, and the boilerplate near-dup clusters bucket at 61-128) → pair
    // join → exact shingle-Jaccard ≥ 0.8. The cap's recall semantics are
    // value-pinned, not just spec-asserted.
    "q346_simhash_capped" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val withSh = docs.join(md5Simhash48(docs, "doc_id", "text"),
        col("doc_id") === col("__sid")).drop("__sid")
      Dedup.simhashNearDup(withSh, "doc_id", "text", shingleSize = 3,
        threshold = 0.8, numChunks = 8, maxBucket = Some(50L),
        hashExpr = Some(col("__sh48")))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- embedding near-dup with the hot-bucket cap ORACLE-PINNED ---------
    // q31 runs the production (seeded random-projection) path uncapped;
    // this twin derives the LSH bits from axis-aligned signs (DuckDB
    // recomputes them from the embedding column), 8 bands × 4 bits, so the
    // oracle replays band buckets → the maxBucket=40 drop (binds: measured
    // max bucket 48, mean 31) → candidate pairs → exact cosine ≥ 0.4.
    "q347_embedding_neardup_capped" -> ((s, dir) => {
      val axisBits = transform(slice(col("embedding"), 1, 32),
        x => when(x >= 0, 1).otherwise(0))
      Dedup.embeddingNearDup(read(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.4, numBits = 32, numBands = 8,
        maxBucket = Some(40L), bitsExpr = Some(axisBits))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- Dunn's post-hoc: WHICH language pairs differ in length (Drift) ---
    // the pairwise follow-up to q249's Kruskal-Wallis, same rank plan;
    // Holm across the pair family
    "q348_dunn_posthoc" -> ((s, dir) => {
      StatTests.dunnTest(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
          (round(col("mean_rank_a"), 4) + lit(0.0)).as("mean_rank_a"),
          (round(col("mean_rank_b"), 4) + lit(0.0)).as("mean_rank_b"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"),
          (round(col("p_holm"), 6) + lit(0.0)).as("p_holm"))
        .gateOrdered(col("group_a"), col("group_b"))
    }),

    // ---- Benjamini-Yekutieli over the q329 battery (Drift) ----------------
    // FDR under arbitrary dependence: the harmonic penalty c(m) = H_m
    // accumulates as sum(1/rank) over the battery itself, so both engines
    // replay it exactly
    "q349_p_adjust_by" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      val battery = StatTests.runsTestByKey(ev, "event_type",
          Seq("ts", "event_id"), "value")
        .withColumn("_az", abs(col("z")) / math.sqrt(2.0))
        .withColumn("_t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("_az")))
        .withColumn("p", col("_t") * (lit(0.254829592) + col("_t") *
          (lit(-0.284496736) + col("_t") * (lit(1.421413741) + col("_t") *
            (lit(-1.453152027) + col("_t") * 1.061405429)))) *
          exp(-col("_az") * col("_az")))
        .select(col("key"), col("p"))
      StatTests.pAdjust(battery, "p", method = "by")
        .select(col("key"),
          (round(col("p"), 6) + lit(0.0)).as("p"),
          (round(col("p_adjusted"), 6) + lit(0.0)).as("p_adjusted"))
        .gateOrdered(col("key"))
    }),

    // ---- Restricted mean survival time: churn-free hours within 700 -------
    // the model-free companion of q352's Cox fit (no proportional-hazards
    // assumption): expected active hours within the first 700, per user-id
    // parity cohort, with the Klein variance; same churn-span durations
    "q353_rmst" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          when(col("user_id") % 2 === 0, "even").otherwise("odd").as("grp"))
      Behavior.rmst(durations, "duration", "censored", "grp", tau = 700L)
        .select(col("grp"), col("tau"), col("n"), col("events"),
          (round(col("rmst"), 6) + lit(0.0)).as("rmst"),
          (round(col("rmst_se"), 6) + lit(0.0)).as("rmst_se"))
        .gateOrdered(col("grp"))
    }),

    // ---- Qini uplift deciles: does activity TARGET the treatment? ---------
    // the targeting-score audit table: parity cohort as treatment,
    // high-value purchase as outcome, activity volume as the score;
    // rank-exact decile edges, every cumulative an exact long sum
    "q360_qini" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          count(lit(1)).as("score"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("int"))
      StatTests.qiniDeciles(perUser, "t", "y", "score")
        .select(col("decile"), col("n_bin"), col("cum_treated"),
          col("cum_control"), col("cum_y_treated"), col("cum_y_control"),
          (round(col("qini"), 6) + lit(0.0)).as("qini"))
        .gateOrdered(col("decile"))
    }),

    // ---- Raking: lang x source mixture weights via IPF (Sampling) ---------
    // hit TWO margins at once (40% en / 15% each other lang, uniform
    // sources): 5 alternating-scaling rounds on the cell table, masses
    // re-quantized to 12-dp decimals so both engines iterate identically
    "q358_rake_weights" -> ((s, dir) => {
      Sampling.rakeWeights(read(s, dir, "documents"), "lang", "source",
          Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
            "zh" -> 0.15), iterations = 5)
        .select(col("row_key"), col("col_key"), col("n"),
          (round(col("weight"), 6) + lit(0.0)).as("weight"),
          (round(col("cell_share"), 6) + lit(0.0)).as("cell_share"))
        .gateOrdered(col("row_key"), col("col_key"))
    }),

    // ---- Poisson GLM: purchases-per-user rate model (LinearModel) ---------
    // count regression with a log link: purchase volume vs feature-scaled
    // activity; 4 Newton steps on exact decimal moment sums (the q352
    // recipe without risk sets), closed-form 2x2 step replayed verbatim
    "q356_poisson_glm" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      LinearModel.poissonGlm(perUser, "y", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    }),

    // ---- leave-one-out target encoding of source -> P(en) -----------------
    // the leakage-free categorical feature: each doc's own label is
    // subtracted and rare sources shrink to the global prior (m = 10);
    // one broadcast agg + a codegen projection
    "q368_target_encoding" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull)
        .withColumn("y", (col("lang") === "en").cast("int"))
      LinearModel.targetEncodeLoo(docs, "doc_id", "source", "y")
        .select(col("id").as("doc_id"), col("category").as("source"),
          (round(col("encoded"), 6) + lit(0.0)).as("encoded"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- quasi-Poisson: the q356 fit with overdispersion-honest SEs -------
    // identical betas, standard errors scaled by sqrt(Pearson X^2/(n-p));
    // the correction q302's diagnostic calls for
    "q367_quasi_poisson" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      LinearModel.quasiPoissonGlm(perUser, "y", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("phi"), 6) + lit(0.0)).as("phi"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    }),

    // ---- Cox proportional hazards: covariate-adjusted time-to-churn -------
    // per-user active-span durations (hour-index granularity), censored
    // when still active within 24 hours of the horizon; two feature-scaled
    // integer covariates. Breslow ties, 4 Newton steps, the logreg
    // deterministic-decimal recipe — the oracle replays every iteration
    "q352_cox_ph" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"),
          ((sum(when(col("value") > 50, 1L).otherwise(0L)) - 24) / 10.0)
            .as("x_highval"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          col("x_events"), col("x_highval"))
      Behavior.coxPH(durations, "duration", "censored",
          Seq("x_events", "x_highval"))
        .select(col("covariate"), col("n"), col("n_events"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("covariate"))
    }),

    // ---- Logistic GLM: P(user ever buys high-value) ~ activity ------------
    // the plain inferential logistic fit (Wald SEs) the propensity/
    // calibration recipes start from; 4 Newton steps on exact decimal
    // moments with 12-dp means — the oracle replays every iteration
    "q370_logistic_glm" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      LinearModel.binomialGlm(perUser, "y", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    }),

    // ---- IPW ATE: parity-cohort effect on high-value purchase -------------
    // Hajek inverse-propensity estimate with the q370 logistic propensity
    // (T = even user ~ activity), influence-function SE; every weighted
    // sum decimal-exact, arm means re-rounded at 12 dp — full replay
    "q371_ipw_ate" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      LinearModel.ipwAte(perUser, "t", "y", Seq("x_events"))
        .select(col("n"), col("n_treated"),
          (round(col("mu_treated"), 6) + lit(0.0)).as("mu_treated"),
          (round(col("mu_control"), 6) + lit(0.0)).as("mu_control"),
          (round(col("ate"), 6) + lit(0.0)).as("ate"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Aalen-Johansen cumulative incidence: purchase vs error -----------
    // competing first events per user (earlier of first-purchase /
    // first-error, ties to purchase; neither = censored at the horizon):
    // what fraction converts vs breaks within 700 hours, honestly — the
    // 1-KM-per-type overstatement this estimator exists to avoid
    "q372_cumulative_incidence" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val hr = floor(unix_timestamp(col("ts")) / 3600)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(hr).as("__f"), max(hr).as("__l"),
          min(when(col("event_type") === "purchase", hr)).as("__p"),
          min(when(col("event_type") === "error", hr)).as("__e"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val etype = when(col("__p").isNotNull &&
          (col("__e").isNull || col("__p") <= col("__e")), "purchase")
        .when(col("__e").isNotNull, "error")
      val durations = perUser.crossJoin(broadcast(horizon))
        .select(
          when(etype === "purchase", col("__p") - col("__f"))
            .when(etype === "error", col("__e") - col("__f"))
            .otherwise(col("__hmax") - col("__f")).as("duration"),
          etype.as("first_event"))
      Behavior.cumulativeIncidence(durations, "duration", "first_event",
          tau = 700L)
        .select(col("event_type"), col("tau"), col("n"), col("events"),
          (round(col("cif"), 6) + lit(0.0)).as("cif"))
        .gateOrdered(col("event_type"))
    }),

    // ---- Gini / top-share concentration of document length mass ----------
    // how concentrated is the corpus' character mass across documents —
    // the inequality summary a mix audit quotes; rank-exact, integer-only
    "q373_gini_concentration" -> ((s, dir) => {
      StatTests.giniConcentration(read(s, dir, "documents"), "n_chars")
        .select(col("n"), col("total"),
          (round(col("gini"), 6) + lit(0.0)).as("gini"),
          (round(col("top1_share"), 6) + lit(0.0)).as("top1_share"),
          (round(col("top10_share"), 6) + lit(0.0)).as("top10_share"))
    }),

    // ---- jackknife SE for revenue-per-event (unit-bucketed) ---------------
    // the honest error bar for a ratio KPI: rows correlate within a user,
    // so 32 md5 user-buckets are deleted one at a time and the replicate
    // spread prices the SE — cluster-robust by construction
    "q374_jackknife_ratio" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          when(col("event_type") === "purchase",
            coalesce(col("value"), lit(0.0))).otherwise(lit(0.0)).as("rev"),
          lit(1.0).as("one"))
      StatTests.jackknifeRatio(ev, "user_id", "rev", "one")
        .select(col("n"), col("buckets"),
          (round(col("ratio"), 6) + lit(0.0)).as("ratio"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    }),

    // ---- Negative-binomial GLM: purchases with an honest variance law ----
    // quasi-Poisson (q367) patches the SEs; NB2 changes the MODEL
    // (Var = mu + alpha*mu^2): moment alpha from the q356 Poisson fit,
    // then Fisher scoring at fixed alpha from the Poisson beta
    "q375_negative_binomial" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      LinearModel.negativeBinomialGlm(perUser, "y", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("alpha"), 6) + lit(0.0)).as("alpha"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    }),

    // ---- Hodges-Lehmann: HOW MUCH do click values exceed view values? -----
    // the robust shift estimate (median of all pairwise differences) +
    // Lehmann rank CI; cells quantized to 0.1 so the pair multiset is a
    // bounded cell cross join, never row-wise
    "q376_hodges_lehmann" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("value").isNotNull)
      val av = ev.filter(col("event_type") === "view")
        .select((round(col("value"), 1) + lit(0.0)).as("v"))
      val bv = ev.filter(col("event_type") === "click")
        .select((round(col("value"), 1) + lit(0.0)).as("v"))
      StatTests.hodgesLehmann(av, bv, "v")
        .select(col("n_a"), col("n_b"), col("n_pairs"),
          (round(col("hl_shift"), 6) + lit(0.0)).as("hl_shift"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    }),

    // ---- canonical per near-dup bucket: keep the longest, count drops -----
    // the KEEP decision after dedup: bottom-1 MinHash buckets (q28's
    // cross-engine min-shingle), canonical = highest n_chars, tie to the
    // smallest doc_id; one keyed window, no global sort
    "q377_canonical_dedup" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("mk",
          graft.functions.TextFunctions.minShingleMd5(col("text"), 3))
      graft.operators.Dedup.canonicalByKey(docs, "doc_id", "mk", "n_chars")
        .select(col("cluster_key"), col("n_docs"), col("canonical_id"),
          col("canonical_quality"), col("n_dropped"))
        .gateOrdered(col("cluster_key"))
    }),

    // ---- Neyman allocation: spend a 1000-doc budget across languages ------
    // n_h ~ N_h * s_h(n_chars): big AND internally-variable strata get
    // more; the design table a stratified corpus sampler starts from
    "q378_neyman_allocation" -> ((s, dir) => {
      Sampling.neymanAllocation(read(s, dir, "documents"), "lang",
          "n_chars", budget = 1000L)
        .select(col("stratum"), col("n_rows"),
          (round(col("stddev"), 6) + lit(0.0)).as("stddev"),
          (round(col("weight_share"), 6) + lit(0.0)).as("weight_share"),
          col("alloc"),
          (round(col("rate"), 6) + lit(0.0)).as("rate"))
        .gateOrdered(col("stratum"))
    }),

    // ---- regression-adjusted ATE: parity effect on purchases, x absorbs ---
    // the ANCOVA estimator: y = a + tau*t + b*x by closed-form OLS from
    // exact moment sums; the covariate tightens the CI, never the point
    "q379_regression_ate" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"),
          ((sum(when(col("value") > 50, 1L).otherwise(0L)) - 24) / 10.0)
            .as("x_highval"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.regressionAdjustedAte(perUser, "t", "y", "x_highval")
        .select(col("n"),
          (round(col("ate"), 6) + lit(0.0)).as("ate"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"),
          (round(col("beta_covariate"), 6) + lit(0.0)).as("beta_covariate"))
    }),

    // ---- mSPRT: always-valid p for the parity conversion difference -------
    // the anytime-peeking A/B p-value (N(0, tau) mixing prior); parity is
    // a true null, so p_always should sit near 1 — and stay valid there
    "q380_msprt" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.msprtProportions(perUser, "t", "y", tau = 0.0001)
        .select(col("n_a"), col("n_b"),
          (round(col("p_a"), 6) + lit(0.0)).as("p_a"),
          (round(col("p_b"), 6) + lit(0.0)).as("p_b"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("lambda_stat"), 6) + lit(0.0)).as("lambda_stat"),
          (round(col("p_always"), 6) + lit(0.0)).as("p_always"),
          col("reject_05"))
    }),

    // ---- empirical-Bayes shrinkage: per-source English rate ---------------
    // the honest per-source leaderboard: moment prior, small sources
    // shrink hard toward the grand rate, big ones keep their evidence
    "q381_eb_rates" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("is_en", (col("lang") === "en").cast("long"))
      StatTests.ebShrinkRates(docs, "source", "is_en")
        .select(col("group"), col("n"), col("successes"),
          (round(col("raw_rate"), 6) + lit(0.0)).as("raw_rate"),
          (round(col("shrinkage"), 6) + lit(0.0)).as("shrinkage"),
          (round(col("shrunk_rate"), 6) + lit(0.0)).as("shrunk_rate"))
        .gateOrdered(col("group"))
    }),

    // ---- Chapman capture-recapture: how big is the content universe? ------
    // two crawl snapshots (src0, src1) over min-shingle content keys:
    // overlap sizes the unseen mass; coverage = observed / N-hat
    "q382_chapman" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("mk",
          graft.functions.TextFunctions.minShingleMd5(col("text"), 3))
      graft.operators.Dedup.chapmanEstimate(docs, "source", "mk",
          "src0", "src1")
        .select(col("n_a"), col("n_b"), col("overlap"), col("observed"),
          (round(col("n_hat"), 6) + lit(0.0)).as("n_hat"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("coverage"), 6) + lit(0.0)).as("coverage"))
    }),

    // ---- quantile treatment effects: parity's effect across the deciles ---
    // where in the activity distribution the "treatment" acts — rank-
    // exact per-arm deciles, differenced; flat ATE + loud tail = QTE's job
    "q383_qte" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("activity"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.quantileTreatmentEffects(perUser, "t", "activity")
        .select((round(col("quantile"), 1) + lit(0.0)).as("quantile"),
          col("n_treated"), col("n_control"),
          (round(col("q_treated"), 6) + lit(0.0)).as("q_treated"),
          (round(col("q_control"), 6) + lit(0.0)).as("q_control"),
          (round(col("qte"), 6) + lit(0.0)).as("qte"))
        .gateOrdered(col("quantile"))
    }),

    // ---- Cox PH at d = 3: the Newton fixed point as a CONTRACT ------------
    // the Gaussian-elimination path (d > 2) cannot be replayed as closed
    // 2x2 CTEs, but its fixed point CAN be verified (the q316 eigen
    // pattern): the partial-likelihood score at the reported beta-hat —
    // computed from the SAME per-duration decimal sums by the trailing
    // no-step pass — must vanish, and the information inverse must yield
    // positive SEs. The oracle recomputes the anchors (n, n_events) from
    // the parquet and pins the booleans
    "q369_cox_d3_contract" -> ((s, dir) => {
      import s.implicits._
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"),
          ((sum(when(col("value") > 50, 1L).otherwise(0L)) - 24) / 10.0)
            .as("x_highval"),
          ((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            - 13) / 5.0).as("x_purch"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          col("x_events"), col("x_highval"), col("x_purch"))
      val rows = Behavior.coxPHWithGradient(durations, "duration",
        "censored", Seq("x_events", "x_highval", "x_purch"),
        iterations = 6).collect()
      rows.map { r =>
        val nEv = r.getLong(2)
        val converged = !r.isNullAt(r.fieldIndex("grad")) && nEv > 0 &&
          math.abs(r.getAs[Double]("grad")) / nEv < 1e-6
        val sePos = !r.isNullAt(r.fieldIndex("se")) &&
          r.getAs[Double]("se") > 0
        val betaFin = !r.isNullAt(r.fieldIndex("beta")) &&
          java.lang.Double.isFinite(r.getAs[Double]("beta"))
        (r.getString(0), r.getLong(1), nEv, converged, sePos, betaFin)
      }.toSeq
        .toDF("covariate", "n", "n_events", "converged", "se_positive",
          "beta_finite")
        .gateOrdered(col("covariate"))
    }),

    // ---- difference-in-differences: parity lift net of the common drift ---
    // per-user purchases before/after the calendar midpoint; DiD removes
    // both the arm level gap and the shared time shock — parity is a
    // true null, so did should sit near 0 with an honest Welch SE
    "q384_did" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("hr", floor(unix_timestamp(col("ts")) / 3600))
      val mid = ev.agg(floor((min(col("hr")) + max(col("hr"))) / 2)
        .as("__mid"))
      val perUser = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase" &&
            col("hr") <= col("__mid"), 1L).otherwise(0L)).as("y_pre"),
          sum(when(col("event_type") === "purchase" &&
            col("hr") > col("__mid"), 1L).otherwise(0L)).as("y_post"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.diffInDiff(perUser, "t", "y_pre", "y_post")
        .select(col("n_treated"), col("n_control"),
          (round(col("pre_treated"), 6) + lit(0.0)).as("pre_treated"),
          (round(col("post_treated"), 6) + lit(0.0)).as("post_treated"),
          (round(col("pre_control"), 6) + lit(0.0)).as("pre_control"),
          (round(col("post_control"), 6) + lit(0.0)).as("post_control"),
          (round(col("did"), 6) + lit(0.0)).as("did"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- power / MDE: how long must the next conversion test run? ---------
    // the design table from the observed arms: detectable effect at the
    // current n, required n per arm for the observed delta, achieved power
    "q385_power_mde" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.powerTwoProportions(perUser, "t", "y")
        .select(col("n_a"), col("n_b"),
          (round(col("p_a"), 6) + lit(0.0)).as("p_a"),
          (round(col("p_b"), 6) + lit(0.0)).as("p_b"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("mde"), 6) + lit(0.0)).as("mde"),
          col("n_required_per_arm"),
          (round(col("power_at_n"), 6) + lit(0.0)).as("power_at_n"))
    }),

    // ---- SRM: is the parity "assignment" actually 50/50? ------------------
    // the assignment-health gate before any metric read; chi-square vs
    // the design shares with the platform-standard p < 0.001 red flag
    "q386_srm" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id")).agg(count(lit(1)).as("__n"))
        .withColumn("arm", (col("user_id") % 2).cast("string"))
      StatTests.srmCheck(perUser, "arm", Seq("0" -> 0.5, "1" -> 0.5))
        .select(col("arm"), col("n"),
          (round(col("expected"), 6) + lit(0.0)).as("expected"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"), col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"),
          col("srm_flag"))
        .gateOrdered(col("arm"))
    }),

    // ---- O'Brien-Fleming sequential looks over enrollment quintiles -------
    // the 5-look interim-analysis table: cumulative pooled z per look vs
    // the 2.0401*sqrt(5/k) boundary — early looks need overwhelming
    // evidence, the final look spends the full level
    "q387_obf_sequential" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("hr", floor(unix_timestamp(col("ts")) / 3600))
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(col("hr")).as("__f"),
          max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      val span = perUser.agg(min(col("__f")).as("__lo"),
        max(col("__f")).as("__hi"))
      val looked = perUser.crossJoin(broadcast(span))
        .withColumn("look", least(lit(5L), lit(1L) +
          floor((col("__f") - col("__lo")) * 5 /
            (col("__hi") - col("__lo") + 1))))
      StatTests.groupSequentialObf(looked, "look", "t", "y")
        .select(col("look"), col("n_a"), col("n_b"), col("x_a"), col("x_b"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("boundary"), 6) + lit(0.0)).as("boundary"),
          col("crossed"))
        .gateOrdered(col("look"))
    }),

    // ---- gamma GLM: per-user spend with the constant-CV variance law ------
    // spend is positive and right-skewed with sd ~ mean — Gamma's home
    // turf; log link, Fisher scoring with the constant XtX information,
    // Pearson dispersion at the reported beta
    "q388_gamma_glm" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase" && col("value") > 0,
            round(col("value"), 2).cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)"))).as("spend"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
        .filter(col("spend") > 0)
      LinearModel.gammaGlm(perUser, "spend", Seq("x_events"))
        .select(col("term"), col("n"),
          (round(col("phi"), 6) + lit(0.0)).as("phi"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    }),

    // ---- AIPW doubly-robust ATE: the efficient influence function --------
    // q371's IPW leans on the propensity alone; AIPW adds per-arm
    // outcome regressions and reweights only their residuals — right
    // if EITHER model is right
    "q389_aipw_ate" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      LinearModel.aipwAte(perUser, "t", "y", "x_events")
        .select(col("n"), col("n_treated"),
          (round(col("ate"), 6) + lit(0.0)).as("ate"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- propensity stratification: compare like with like, then average --
    // the transparent third leg of the causal shelf (q371 IPW, q389
    // AIPW): rank-exact propensity quintiles, per-stratum arm-mean
    // differences, treated-share weights
    "q390_propensity_strata" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      LinearModel.propensityStratifiedAtt(perUser, "t", "y", "x_events")
        .select(col("n"), col("n_treated"), col("k_strata"), col("k_used"),
          (round(col("att"), 6) + lit(0.0)).as("att"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Kish design effect: what the q358 raking weights cost ------------
    // deff = 1 + cv^2 of the unit weights; n_eff is what the weighted
    // corpus is WORTH for any weighted mean — the honest price tag every
    // reweighting scheme should publish next to its margins
    "q391_design_effect" -> ((s, dir) => {
      val rake = Sampling.rakeWeights(read(s, dir, "documents"), "lang",
        "source", Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
          "fr" -> 0.15, "zh" -> 0.15), iterations = 5)
      Sampling.designEffect(rake, "weight", Some("n"))
        .select(col("n_units"),
          (round(col("sum_w"), 6) + lit(0.0)).as("sum_w"),
          (round(col("deff"), 6) + lit(0.0)).as("deff"),
          (round(col("n_eff"), 6) + lit(0.0)).as("n_eff"),
          (round(col("cv_weights"), 6) + lit(0.0)).as("cv_weights"))
    }),

    // ---- exponential survival regression: the parametric Cox baseline -----
    // constant-hazard AFT on the q352 duration table via the censored-
    // exponential = Poisson-with-exposure identity: one whole-table
    // reduce per Newton step, no risk sets — the cheap first-pass twin
    "q392_exponential_aft" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          col("x_events"))
      Behavior.exponentialAft(durations, "duration", "censored",
          Seq("x_events"))
        .select(col("term"), col("n"), col("n_events"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
        .gateOrdered(col("term"))
    }),

    // ---- Oaxaca-Blinder: how much of the src0-src1 length gap is tokens? --
    // twofold decomposition of the mean n_chars gap with token count as
    // the composition covariate — explained (composition) vs
    // unexplained (structure) from per-group closed-form OLS
    "q393_oaxaca" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("n_tok",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))))
      StatTests.oaxacaBlinder(docs, "source", "src0", "src1",
          "n_chars", "n_tok")
        .select(col("n_a"), col("n_b"),
          (round(col("mean_a"), 6) + lit(0.0)).as("mean_a"),
          (round(col("mean_b"), 6) + lit(0.0)).as("mean_b"),
          (round(col("gap"), 6) + lit(0.0)).as("gap"),
          (round(col("explained"), 6) + lit(0.0)).as("explained"),
          (round(col("unexplained"), 6) + lit(0.0)).as("unexplained"),
          (round(col("pct_explained"), 6) + lit(0.0)).as("pct_explained"))
    }),

    // ---- E-value: how strong a confounder could kill the parity RR? -------
    // the sensitivity headline next to any observational risk ratio;
    // parity is a true null, so the CI should cross 1 and e_value_ci = 1
    "q394_e_value" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.eValueRR(perUser, "t", "y")
        .select(col("n_exposed"), col("n_unexposed"),
          (round(col("rr"), 6) + lit(0.0)).as("rr"),
          (round(col("rr_lo"), 6) + lit(0.0)).as("rr_lo"),
          (round(col("rr_hi"), 6) + lit(0.0)).as("rr_hi"),
          (round(col("e_value"), 6) + lit(0.0)).as("e_value"),
          (round(col("e_value_ci"), 6) + lit(0.0)).as("e_value_ci"))
    }),

    // ---- 32-core of the supplier-part graph: the dense trading nucleus ----
    // iterative peeling on the prefixed bipartite graph; the fringe
    // (thin parts) strips away and drags weakly-attached rounds with it
    // until every survivor keeps >= 32 in-core connections
    "q395_kcore" -> ((s, dir) => {
      val edges = read(s, dir, "lineitem")
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
      graft.operators.GraphFeatures.kCore(edges, "src", "dst", k = 32)
        .select(col("node"), col("degree"))
        .gateOrdered(col("node"))
    }),

    // ---- Deming regression: calibrate chars-per-doc against token count ---
    // both measures are noisy views of document size, so OLS would
    // attenuate the slope; lambda = 1 orthogonal regression is the
    // instrument-calibration convention
    "q396_deming" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("n_tok",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))))
      StatTests.demingRegression(docs, "n_tok", "n_chars")
        .select(col("n"),
          (round(col("mean_x"), 6) + lit(0.0)).as("mean_x"),
          (round(col("mean_y"), 6) + lit(0.0)).as("mean_y"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("pearson_r"), 6) + lit(0.0)).as("pearson_r"))
    }),

    // ---- method agreement: does 6*tokens actually measure n_chars? --------
    // Lin's CCC (penalizes scale AND location shift where Pearson
    // forgives both) + the Bland-Altman bias and 95% limits of agreement
    "q397_method_agreement" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("est6",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))) * 6)
      StatTests.methodAgreement(docs, "est6", "n_chars")
        .select(col("n"),
          (round(col("mean_x"), 6) + lit(0.0)).as("mean_x"),
          (round(col("mean_y"), 6) + lit(0.0)).as("mean_y"),
          (round(col("ccc"), 6) + lit(0.0)).as("ccc"),
          (round(col("pearson_r"), 6) + lit(0.0)).as("pearson_r"),
          (round(col("bias"), 6) + lit(0.0)).as("bias"),
          (round(col("loa_lo"), 6) + lit(0.0)).as("loa_lo"),
          (round(col("loa_hi"), 6) + lit(0.0)).as("loa_hi"))
    }),

    // ---- Page's trend: does per-user activity GROW week over week? --------
    // the ordered-alternative twin of Friedman on complete user-week
    // blocks; mid-ranks within each user, L weights late weeks more
    "q398_page_trend" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 604800).as("wk"),
          lit(1L).as("one"))
      StatTests.pageTrend(ev, "user_id", "wk", "one")
        .select(col("n_items"), col("k"),
          (round(col("l_stat"), 6) + lit(0.0)).as("l_stat"),
          (round(col("mean_l"), 6) + lit(0.0)).as("mean_l"),
          (round(col("var_l"), 6) + lit(0.0)).as("var_l"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Newcombe-Wilson CI for the parity conversion difference ----------
    // the proportion-difference interval that behaves at boundary rates
    // where Wald collapses; per-arm Wilson bounds squared into the diff
    "q399_newcombe_ci" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 80, 1L).otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2 === 0).cast("long"))
      StatTests.newcombeDiffCI(perUser, "t", "y")
        .select(col("n_a"), col("n_b"),
          (round(col("p_a"), 6) + lit(0.0)).as("p_a"),
          (round(col("p_b"), 6) + lit(0.0)).as("p_b"),
          (round(col("wilson_lo_a"), 6) + lit(0.0)).as("wilson_lo_a"),
          (round(col("wilson_hi_a"), 6) + lit(0.0)).as("wilson_hi_a"),
          (round(col("wilson_lo_b"), 6) + lit(0.0)).as("wilson_lo_b"),
          (round(col("wilson_hi_b"), 6) + lit(0.0)).as("wilson_hi_b"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    }),

    // ---- survey-weighted mean: what the raked corpus actually measures ----
    // the q358 weights put to work: Hajek mean of n_chars under the
    // lang-margin design with the Taylor-linearized SE
    "q400_weighted_mean" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val rake = Sampling.rakeWeights(docs, "lang", "source",
          Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
            "zh" -> 0.15), iterations = 5)
        .select(col("row_key"), col("col_key"), col("weight"))
      val joined = docs.join(rake,
        docs("lang") === rake("row_key") &&
          docs("source") === rake("col_key"))
      Sampling.weightedMeanSurvey(joined, "n_chars", "weight")
        .select(col("n"),
          (round(col("sum_w"), 6) + lit(0.0)).as("sum_w"),
          (round(col("wmean"), 6) + lit(0.0)).as("wmean"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    }),

    // ---- Weibull AFT: the non-constant-hazard contract (q369 pattern) -----
    // 3-parameter (mu, beta, ln sigma) Newton cannot replay as closed
    // CTEs, but its fixed point CAN be pinned: score-at-reported-theta
    // vanishes, SEs positive, theta finite; anchors recomputed
    "q401_weibull_aft" -> ((s, dir) => {
      import s.implicits._
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 3600)).as("__f"),
          max(floor(unix_timestamp(col("ts")) / 3600)).as("__l"),
          ((count(lit(1)) - 66) / 10.0).as("x_events"))
      val horizon = perUser.agg(max(col("__l")).as("__hmax"))
      val durations = perUser.crossJoin(broadcast(horizon))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__hmax") - col("__l") < 24).as("censored"),
          col("x_events"))
        .filter(col("duration") >= 1)
      val rows = Behavior.weibullAft(durations, "duration", "censored",
        Seq("x_events")).collect()
      rows.map { r =>
        val ne = r.getLong(2)
        // ne < 2 is the operator's DOCUMENTED degenerate path (weibullAft
        // returns all-NULL rows — one event cannot identify two shape
        // parameters); the contract booleans are vacuously true there so
        // the fixed-point assertion only bites where a fit is claimed
        val degenerate = ne < 2
        val converged = degenerate ||
          (!r.isNullAt(r.fieldIndex("grad")) && ne > 0 &&
            math.abs(r.getAs[Double]("grad")) / ne < 1e-6)
        val sePos = degenerate || (!r.isNullAt(r.fieldIndex("se")) &&
          r.getAs[Double]("se") > 0)
        val thetaFin = degenerate || (!r.isNullAt(r.fieldIndex("beta")) &&
          java.lang.Double.isFinite(r.getAs[Double]("beta")))
        (r.getString(0), r.getLong(1), ne, converged, sePos, thetaFin)
      }.toSeq
        .toDF("term", "n", "n_events", "converged", "se_positive",
          "theta_finite")
        .gateOrdered(col("term"))
    }),

    // ---- Welch's ANOVA: doc length across languages, unequal variances ----
    // the heteroscedastic twin of the plain one-way F (language slices
    // rarely share a variance); Welch-Satterthwaite df2
    "q351_welch_anova" -> ((s, dir) => {
      StatTests.welchAnova(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("f"), 6) + lit(0.0)).as("f"), col("df1"),
          (round(col("df2"), 4) + lit(0.0)).as("df2"))
    }),

    // ---- Jonckheere-Terpstra: do event values TREND across weeks? ---------
    // ordered-cohort trend test (KW asks "any difference", JT asks for a
    // monotone trend along the week order); integer-bucketed values keep
    // every J/tie ingredient half-integer-exact on both engines
    "q350_jonckheere" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(floor(unix_timestamp(col("ts")) / 604800).cast("string")
          .as("wk"), floor(col("value")).as("vb"))
      StatTests.jonckheereTerpstra(ev, "wk", "vb")
        .select(col("n"), col("k"),
          (round(col("j_stat"), 4) + lit(0.0)).as("j_stat"),
          (round(col("mean_j"), 4) + lit(0.0)).as("mean_j"),
          (round(col("var_j"), 4) + lit(0.0)).as("var_j"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- Fleiss' kappa: per-user agreement over event types (Association) -
    // multi-rater agreement treating each user as an item and each of
    // their events as one rating; items with < 2 ratings drop
    "q306_fleiss_kappa" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      graft.profile.Association.fleissKappa(ev, "user_id", "event_type")
        .select(col("n_items"), col("n_ratings"), col("k_categories"),
          (round(col("p_bar"), 6) + lit(0.0)).as("p_bar"),
          (round(col("p_e"), 6) + lit(0.0)).as("p_e"),
          (round(col("kappa"), 6) + lit(0.0)).as("kappa"))
    }),

    // ---- covariate balance: even vs odd doc cohorts (Drift) ---------------
    // the pre-analysis randomization check: per-covariate SMD + variance
    // ratio from one moment pass per cohort
    "q299_covariate_balance" -> ((s, dir) => {
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
    }),

    // ---- exact energy distance en vs de doc lengths (Drift) ---------------
    // Szekely's 1-D identity: 2 * integral of the squared CDF gap — the
    // wasserstein plan with squared gaps
    "q300_energy" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.energyDistance(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("e2"), 6) + lit(0.0)).as("e2"),
          (round(col("e"), 6) + lit(0.0)).as("e"))
    }),

    // ---- seasonal-naive MASE backtest on daily volume (Drift) -------------
    // MASE < 1 = weekly structure beats yesterday; zero-filled day spine
    "q301_mase" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val daily = ev.groupBy(floor(unix_timestamp(col("ts")) / 86400).as("t"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("t"))
      val series = spine.join(daily, Seq("t"), "left").na.fill(0.0, Seq("y"))
      StatTests.maseBacktest(series, "t", "y", season = 7)
        .select(col("n"), col("n_scored"),
          (round(col("mae_seasonal"), 6) + lit(0.0)).as("mae_seasonal"),
          (round(col("mae_naive1"), 6) + lit(0.0)).as("mae_naive1"),
          (round(col("mase"), 6) + lit(0.0)).as("mase"))
    }),

    // ---- Kneser-Ney bigram LM perplexity by language (CorpusStats) --------
    // train on even docs, score odd docs: the perplexity-filtering signal;
    // every probability is a ratio of exact counts, replayed bit-identically
    "q298_kn_bigram" -> ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("lang").isNotNull)
      CorpusStats.knBigramPerplexity(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", "lang")
        .select(col("lang"), col("n_docs"), col("n_bigrams"),
          (round(col("avg_nll"), 6) + lit(0.0)).as("avg_nll"),
          (round(col("ppl"), 4) + lit(0.0)).as("ppl"))
        .gateOrdered(col("lang"))
    }),

    // ---- Wilcoxon signed-rank: per-user H1 vs H2 activity (Drift) ---------
    // the PAIRED shift test (q229's MW assumes independent samples);
    // zero-difference users drop, ties get average ranks
    "q294_wilcoxon" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      val split = lit("2024-01-16").cast("date")
      val perUser = ev.groupBy(col("user_id")).agg(
        sum(when(to_date(col("ts")) < split, 1L).otherwise(0L))
          .cast("double").as("x"),
        sum(when(to_date(col("ts")) >= split, 1L).otherwise(0L))
          .cast("double").as("y"))
      StatTests.wilcoxonSignedRank(perUser, "x", "y")
        .select(col("n_pairs"), col("n_nonzero"),
          col("w_plus"), col("w_minus"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    }),

    // ---- Friedman test: event-type preference across users (Association) --
    // k=5 related treatments (event types) blocked by user; within-user
    // ranks cancel per-user activity scale
    "q295_friedman" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      graft.profile.Association.friedmanTest(ev, "user_id", "event_type", "cnt")
        .select(col("n_blocks"), col("k"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"), col("dof"))
    }),

    // ---- partial correlation: price vs line count given quantity ----------
    // does order value track line count once total quantity is held fixed?
    "q296_partial_corr" -> ((s, dir) => {
      val li = read(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).cast("double").as("n_lines"),
          sum(col("l_quantity")).as("sum_qty"))
      val ord = read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val base = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      graft.profile.Association.partialCorrelation(
          base, "o_totalprice", "n_lines", "sum_qty")
        .select(col("n"),
          (round(col("r_xy"), 6) + lit(0.0)).as("r_xy"),
          (round(col("r_xz"), 6) + lit(0.0)).as("r_xz"),
          (round(col("r_yz"), 6) + lit(0.0)).as("r_yz"),
          (round(col("r_xy_given_z"), 6) + lit(0.0)).as("r_xy_given_z"))
    }),

    // ---- ICC(1): doc-length clustering within sources (Drift) -------------
    // the design-effect number: how clone-like are same-source docs
    "q297_icc" -> ((s, dir) => {
      StatTests.icc1(read(s, dir, "documents"), "source", "n_chars")
        .select(col("n"), col("k"),
          (round(col("k0"), 6) + lit(0.0)).as("k0"),
          (round(col("ms_between"), 4) + lit(0.0)).as("ms_between"),
          (round(col("ms_within"), 4) + lit(0.0)).as("ms_within"),
          (round(col("icc1"), 6) + lit(0.0)).as("icc1"))
    }),

    // ---- corpus-level MAP / MRR / mean-NDCG over the same eval ------------
    // trec_eval convention: queries with no relevant documents are NULL
    // per-query and excluded from the means (avg ignores NULLs on both
    // engines)
    "q277_map_mrr" -> ((s, dir) => {
      val (res, rel) = brandRecEval(s, dir)
      Search.rankingMetrics(res, rel, "c", "b", "r", "rel", k = 10)
        .agg(count(lit(1)).as("n_queries"),
          count(col("ndcg")).as("n_judged"),
          (round(avg(col("ndcg")), 6) + lit(0.0)).as("mean_ndcg"),
          (round(avg(col("ap")), 6) + lit(0.0)).as("map"),
          (round(avg(col("rr")), 6) + lit(0.0)).as("mrr"))
    }),

    // ---- Cochran-Mantel-Haenszel stratified association (Association) -----
    // is the even-user vs odd-user error-rate gap consistent across
    // weekdays? pooled 2x2 per-stratum test + Mantel-Haenszel odds ratio
    "q273_cmh" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .select(dayofweek(to_date(col("ts"))).as("dow"),
          (col("user_id") % 2 === 0).as("even_user"),
          (col("event_type") === "error").as("is_err"))
      graft.profile.Association.cmhTest(ev, "dow", "even_user", "is_err")
        .select(col("n_strata"), col("n"), col("sum_a"),
          (round(col("sum_e_a"), 6) + lit(0.0)).as("sum_e_a"),
          (round(col("chi2_cmh"), 6) + lit(0.0)).as("chi2_cmh"),
          (round(col("or_mh"), 6) + lit(0.0)).as("or_mh"))
    }),

    // ---- Breslow-Day homogeneity of the q273 odds ratios -------------------
    // CMH's required companion: is the even/odd error-rate odds ratio the
    // SAME on every weekday? quadratic expected cells under the pooled OR,
    // per-stratum contributions quantized to 9-dp longs before the sum
    "q365_breslow_day" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .select(dayofweek(to_date(col("ts"))).as("dow"),
          (col("user_id") % 2 === 0).as("even_user"),
          (col("event_type") === "error").as("is_err"))
      graft.profile.Association.breslowDay(ev, "dow", "even_user", "is_err")
        .select(col("n_strata"), col("n"),
          (round(col("or_mh"), 6) + lit(0.0)).as("or_mh"),
          (round(col("bd_chi2"), 6) + lit(0.0)).as("bd_chi2"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),

    // ---- two-group log-rank survival test (Behavior) -----------------------
    // do even- and odd-user time-to-first-purchase curves differ? the
    // Mantel-Cox companion of q235's KM curve, same duration construction
    "q274_log_rank" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
      val horizon = ev.agg(max(col("ts")).as("h_ts"))
      val durations = perUser.crossJoin(broadcast(horizon)).select(
        floor((unix_timestamp(coalesce(col("p_ts"), col("h_ts"))) -
          unix_timestamp(col("first_ts"))) / 3600).cast("long").as("dur_h"),
        col("p_ts").isNull.as("cens"),
        when(col("user_id") % 2 === 0, "even").otherwise("odd").as("grp"))
      Behavior.logRankTest(durations, "dur_h", "cens", "grp")
        .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
          col("events_a"), col("events_b"),
          (round(col("expected_a"), 6) + lit(0.0)).as("expected_a"),
          (round(col("var_a"), 6) + lit(0.0)).as("var_a"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"))
    }),

    // ---- Mann-Kendall monotone-trend test on the daily rate (Drift) -------
    // the significance companion of q265's Theil-Sen slope; integer-exact
    // S and tie mass
    "q272_mann_kendall" -> ((s, dir) => {
      StatTests.mannKendall(EventsSource.read(s, s"$dir/events.parquet"), "ts")
        .select(col("n_days"), col("s"),
          (round(col("var_s"), 4) + lit(0.0)).as("var_s"),
          (round(col("z"), 6) + lit(0.0)).as("z"), col("trend"))
    }),

    // ---- Fellegi-Sunter EM: per-pattern posteriors (Linkage) --------------
    // the linkage decision table: every observed agreement pattern with
    // its pair count, additive FS log-likelihood ratio and posterior
    "q269_fs_posteriors" -> ((s, dir) => {
      Linkage.fellegiSunterPosteriors(fsPairs(read(s, dir, "customer")),
          Seq("nation_agree", "segment_agree", "balance_agree"))
        .select(col("nation_agree"), col("segment_agree"),
          col("balance_agree"), col("n_pairs"),
          (round(col("llr"), 6) + lit(0.0)).as("llr"),
          (round(col("posterior"), 6) + lit(0.0)).as("posterior"))
        .orderBy(col("nation_agree"), col("segment_agree"),
          col("balance_agree"))
    }),

    // ---- CUPED variance reduction (Drift) ---------------------------------
    // per-user week-1 activity as the pre-period covariate for the
    // rest-of-month activity metric; one co-moment aggregation pass
    "q244_cuped" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      val cut = lit("2024-01-08").cast("date")
      val perUser = ev.groupBy(col("user_id")).agg(
        sum(when(to_date(col("ts")) < cut, 1L).otherwise(0L)).as("pre"),
        sum(when(to_date(col("ts")) >= cut, 1L).otherwise(0L)).as("post"))
      StatTests.cuped(perUser, "pre", "post")
        .select(col("n"),
          (round(col("theta"), 6) + lit(0.0)).as("theta"),
          (round(col("mean_metric"), 6) + lit(0.0)).as("mean_metric"),
          (round(col("var_metric"), 6) + lit(0.0)).as("var_metric"),
          (round(col("var_adjusted"), 6) + lit(0.0)).as("var_adjusted"),
          (round(col("var_reduction"), 6) + lit(0.0)).as("var_reduction"))
    }),

    // ---- Poisson-bootstrap mean CI (Drift) --------------------------------
    // deterministic md5->Poisson(1) weights per (rep, id): streamable
    // bootstrap, bit-reproducible on both engines; 95% percentile CI over
    // 200 replicate means of en-doc n_chars
    "q243_bootstrap_ci" -> ((s, dir) => {
      StatTests.bootstrapMeanCI(
          read(s, dir, "documents").filter(col("lang") === "en"),
          "doc_id", "n_chars", reps = 200, level = 0.95, seed = "bs")
        .select(col("n"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          col("boot_reps"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    }),

    // ---- OOV rate vs a reference vocabulary (CorpusStats) -----------------
    // top-500 English terms as the vocab; per-language coverage gate
    "q241_oov_rate" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val ref = docs.filter(col("lang") === "en")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(500)
      CorpusStats.oovRate(docs, "text", "lang", ref, "term")
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          (round(col("oov_rate"), 6) + lit(0.0)).as("oov_rate"))
        .orderBy(col("lang"))
    }),

    // ---- SCD2 validity intervals from a change log ----------------------
    "q110_scd2_history" -> ((s, dir) => {
      MergeOps.scd2History(
          read(s, dir, "orders")
            .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          Seq("o_custkey"), "o_orderkey")
        .select(col("o_custkey"), col("valid_from"), col("valid_to"),
          col("is_current"), round(col("o_totalprice"), 2).as("price"))
        .gateOrdered(col("o_custkey"), col("valid_from"))
    }),

    // ---- per-user activity gaps -----------------------------------------
    "q111_activity_gaps" -> ((s, dir) => {
      Behavior.activityGaps(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts")
        .select(col("user").as("user_id"), col("gap_start_day"),
          col("gap_end_day"), col("n_missing"))
        .orderBy(col("user_id"), col("gap_start_day"))
    }),

    // ---- event-type transition matrix -----------------------------------
    "q112_event_transitions" -> ((s, dir) => {
      Behavior.eventTransitions(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type", "event_id")
        .gateOrdered(col("from_type"), col("to_type"))
    }),

    // ---- rollup subtotal report -----------------------------------------
    "q113_rollup" -> ((s, dir) => {
      AggOps.rollupReport(read(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(round(sum(col("l_quantity")), 2).as("sum_qty"),
            count(lit(1)).as("n")))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          col("n"), col("grp").cast("long").as("grp"))
        .gateOrdered(col("grp"), col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- pivot cross-tab (hour x event type) ----------------------------
    "q114_pivot" -> ((s, dir) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val p = AggOps.pivotTable(
        EventsSource.read(s, s"$dir/events.parquet")
          .withColumn("hour_of_day", hour(col("ts"))),
        "hour_of_day", "event_type", types, count(lit(1)))
      p.select(col("hour_of_day") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy(col("hour_of_day"))
    }),

    // ---- trending terms between snapshots --------------------------------
    "q115_trending_terms" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      CorpusStats.trendingTerms(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text", k = 50)
    }),

    // ---- equi-depth quantile bucketing ----------------------------------
    "q116_quantile_bins" -> ((s, dir) => {
      ColumnProfiler.quantileBins(read(s, dir, "lineitem"),
          "l_extendedprice", k = 4)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice_bucket"))
        .gateOrdered(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- per-group weighted sampling ------------------------------------
    "q117_weighted_group_sample" -> ((s, dir) => {
      Sampling.weightedSamplePerGroup(read(s, dir, "documents"),
          Seq("lang"), "doc_id", "n_chars", k = 10, salt = "wg:")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("quota_rank"))
        .orderBy(col("doc_id"))
    }),

    // ---- time-weighted average ------------------------------------------
    "q118_time_weighted" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("t_us", unix_micros(col("ts")))
      Temporal.timeWeightedAvg(ev, Seq("user_id"), "t_us", "value",
          tieCols = Seq("event_id"))
        .select(col("user_id"), round(col("twa"), 4).as("twa"),
          col("n_intervals"), col("total_duration"))
        .gateOrdered(col("user_id"))
    }),

    // ---- adoption curve (cumulative first-seen users) -------------------
    "q119_adoption_curve" -> ((s, dir) => {
      Behavior.adoptionCurve(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts")
        .orderBy(col("day"))
    }),

    // ---- per-group exact percentiles ------------------------------------
    "q120_group_percentiles" -> ((s, dir) => {
      ColumnProfiler.percentilesByGroup(
          EventsSource.read(s, s"$dir/events.parquet"), "event_type", "value",
          ps = Seq(0.5, 0.9, 0.99))
        .select(col("group").as("event_type"), col("p"),
          round(col("value"), 4).as("value"))
        .orderBy(col("event_type"), col("p"))
    }),

    // ---- market-basket lift over event types ----------------------------
    "q121_basket_lift" -> ((s, dir) => {
      Behavior.basketLift(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type")
        .gateOrdered(col("type_a"), col("type_b"))
    }),

    // ---- rolling median rate baseline -----------------------------------
    "q122_rolling_median" -> ((s, dir) => {
      Behavior.rollingMedian(EventsSource.read(s, s"$dir/events.parquet"),
        "ts", window = 24)
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_events"), round(col("med"), 4).as("med"))
        .orderBy(col("bucket"))
    }),

    // ---- funnel time-to-convert -----------------------------------------
    "q123_funnel_time" -> ((s, dir) => {
      Behavior.funnelConversionTime(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    }),

    // ---- percentile rank within group -----------------------------------
    "q124_percentile_rank" -> ((s, dir) => {
      ColumnProfiler.percentileRank(
          EventsSource.read(s, s"$dir/events.parquet"),
          Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"),
          round(col("value"), 2).as("value"),
          round(col("pct_rank"), 6).as("pct_rank"))
        .gateOrdered(col("event_id"))
    }),

    // ---- per-group min-max normalization --------------------------------
    "q125_minmax_scale" -> ((s, dir) => {
      ColumnProfiler.minMaxScale(read(s, dir, "lineitem"),
          Seq("l_returnflag"), Seq("l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity_scaled"), 6).as("q_scaled"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- per-group robust z-scores --------------------------------------
    "q126_group_robust_z" -> ((s, dir) => {
      ColumnProfiler.robustZByGroup(
          EventsSource.read(s, s"$dir/events.parquet"), "event_type", "value")
        .select(col("event_id"), col("event_type"),
          round(col("robust_z"), 4).as("robust_z"))
        .gateOrdered(col("event_id"))
    }),

    // ---- near-dup cluster representatives (composition) -----------------
    "q127_cluster_reps" -> ((s, dir) => {
      // canonical doc per near-dup cluster: largest n_chars, doc_id tiebreak
      val docs = read(s, dir, "documents")
      val clusters = Dedup.nearDupClusters(docs, "doc_id", "text", threshold = 0.7,
        materialize = true)
        .select(col("id").as("doc_id"), col("component"))
      val joined = clusters.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      Sampling.quotaPerGroup(joined, Seq("component"),
          Seq(col("n_chars").desc, col("doc_id").asc), k = 1)
        .select(col("component"), col("doc_id"), col("n_chars"))
        .gateOrdered(col("component"))
    }),

    // ---- salted join ≡ plain join (the skew lever under the oracle) -----
    "q128_salted_join" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey")
      val cust = read(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      ScaleOps.saltedJoin(orders, cust, Seq("custkey"), saltFactor = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("total_price"))
        .gateOrdered(col("c_nationkey"))
    }),

    // ---- categorical diversity per source -------------------------------
    "q129_source_entropy" -> ((s, dir) => {
      CorpusStats.categoricalDiversity(read(s, dir, "documents"),
          "source", "lang")
        .select(col("group"), col("n_rows"), col("n_categories"),
          round(col("entropy"), 6).as("entropy"),
          round(col("gini"), 6).as("gini"))
        .orderBy(col("group"))
    }),

    // ---- corpus-level shingle overlap -----------------------------------
    "q130_corpus_overlap" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      CorpusStats.corpusOverlap(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text", shingleSize = 3)
    }),

    // ---- KS drift statistic ---------------------------------------------
    "q131_ks_drift" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Drift.ksStatistic(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "n_chars")
    }),

    // ---- JSON property extraction ----------------------------------------
    "q132_json_props" -> ((s, dir) => {
      EventsSource.read(s, s"$dir/events.parquet")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 4).as("avg_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .gateOrdered(col("event_type"))
    }),

    // ---- windowed (attribution) funnel ----------------------------------
    "q133_funnel_within" -> ((s, dir) => {
      // conversion window: 12h from the first view (anchored semantics)
      Behavior.funnelWithin(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        windowMicros = 12L * 3600 * 1000000)
        .gateOrdered(col("stage"))
    }),

    // ---- corpus publish gate (composition capstone) ---------------------
    "q134_publish_gate" -> ((s, dir) => {
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
    }),

    // ---- sentence segmentation stats ------------------------------------
    "q135_sentence_stats" -> ((s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.sentenceCount(col("text")).as("n_sentences"),
          TextFunctions.tokenCount(col("text")).as("n_words"))
        .withColumn("words_per_sentence",
          when(col("n_sentences") > 0,
            round(col("n_words").cast("double") / col("n_sentences"), 4)))
        .orderBy(col("doc_id"))
    }),

    // ---- readability scoring --------------------------------------------
    "q136_readability" -> ((s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          round(TextFunctions.readingEase(col("text")), 4).as("reading_ease"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- per-type rate anomaly ------------------------------------------
    "q137_rate_anomaly_by_type" -> ((s, dir) => {
      Behavior.rateAnomalyByKey(EventsSource.read(s, s"$dir/events.parquet"),
        "event_type", "ts", window = 24)
        .select(col("key").as("event_type"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_events"), col("z"))
        .gateOrdered(col("event_type"), col("bucket"))
    }),

    // ---- per-source KS drift --------------------------------------------
    "q138_ks_by_source" -> ((s, dir) => {
      // md5-hash halves (NOT doc_id parity: sources own contiguous id
      // blocks, so parity would make every group one-sided)
      val docs = read(s, dir, "documents")
      val inA = substring(md5(concat(lit("ks:"), col("doc_id").cast("string"))), 1, 1) < "8"
      Drift.ksByGroup(docs.filter(inA), docs.filter(!inA), "source", "n_chars")
        .gateOrdered(col("group"))
    }),

    // ---- in-session funnel conversion -----------------------------------
    "q139_session_funnel" -> ((s, dir) => {
      Behavior.sessionFunnel(EventsSource.read(s, s"$dir/events.parquet"),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), gapMinutes = 30)
        .gateOrdered(col("stage"))
    }),

    // ---- as-of join with staleness tolerance ----------------------------
    "q140_asof_tolerance" -> ((s, dir) => {
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
    }),

    // ---- salted two-phase aggregation (≡ plain groupBy) -----------------
    "q141_salted_agg" -> ((s, dir) => {
      // skew-safe aggregation must equal the unsalted result exactly
      ScaleOps.saltedCountSum(EventsSource.read(s, s"$dir/events.parquet"),
          Seq("event_type"), Seq("value"), saltFactor = 8)
        .select(col("event_type"), col("count_all"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // ---- blocked fuzzy (Levenshtein) record linkage ---------------------
    "q142_fuzzy_join" -> ((s, dir) => {
      Linkage.fuzzyDedupPairs(read(s, dir, "customer"), "c_custkey", "c_name",
          blocker = Linkage.prefixBlocker(16), maxDistance = 1)
        .select(col("id_a"), col("id_b"), col("dist"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- winnowed (MOSS) document signatures ----------------------------
    "q143_winnow" -> ((s, dir) => {
      // signature size + extremal fingerprints pin the selected-hash SET
      // per document cross-engine, not just its cardinality
      CorpusStats.winnowedFingerprints(read(s, dir, "documents"),
          "doc_id", "text", k = 3, window = 4)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- embedding-space decontamination --------------------------------
    "q144_embed_decontam" -> ((s, dir) => {
      // test = vec_id < 20; train side includes vec_id 10–19 verbatim, so
      // exactly those rows must flag at cosine ≈ 1 (threshold 0.8 sits in
      // the [0.50, 1.0] gap of the max-cosine distribution — boundary-safe)
      val emb = read(s, dir, "embeddings")
      Decontaminate.embeddingOverlap(
          emb.filter(col("vec_id") >= 10), "vec_id", "embedding",
          emb.filter(col("vec_id") < 20), "embedding",
          threshold = 0.8)
        .select(col("id"), round(col("max_cosine"), 4).as("max_cosine"),
          col("contaminated"))
        .gateOrdered(col("id"))
    }),

    // ---- char-LM perplexity quality scoring -----------------------------
    "q145_charlm_score" -> ((s, dir) => {
      // LM trained on the English slice, every document scored against it —
      // the CCNet-style perplexity filter; non-English docs score high nll
      val docs = read(s, dir, "documents")
      val lm = CorpusStats.charLmCounts(docs.filter(col("lang") === "en"), "text", n = 3)
      CorpusStats.charLmScore(docs, "doc_id", "text", lm, n = 3)
        .select(col("id").as("doc_id"), col("n_grams"),
          round(col("avg_nll"), 4).as("avg_nll"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- perceptual image hash (dHash) through the real decoder ---------
    "q146_image_dhash" -> ((s, dir) => {
      // 4-tone 16×8 PNGs: the pooled 9×8 grid and therefore every dHash
      // bit is closed-form in the tone ordering — the oracle recomputes
      // the exact 64-bit hash the decode→pool→compare→pack loop must emit
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 200)
        .select(col("doc_id"))
      val media = Multimodal.withGeneratedQuarterPng(docs, "doc_id", 16, 8,
        col("doc_id") % 256, (col("doc_id") * 3 + 17) % 256,
        (col("doc_id") * 5 + 89) % 256, (col("doc_id") * 11 + 201) % 256)
      Multimodal.dhashImages(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("dhash"), col("decoded"))
        .orderBy(col("doc_id"))
    }),

    // ---- multi-touch attribution (linear credit) ------------------------
    "q147_multitouch" -> ((s, dir) => {
      Behavior.multiTouchAttribution(
          EventsSource.read(s, s"$dir/events.parquet"),
          "user_id", "ts", "event_id", "event_type", "value",
          touchType = "view", convType = "purchase",
          windowMinutes = 120, model = "linear")
        .select(col("touch_event"), col("user_id"), col("n_convs"),
          round(col("credit"), 4).as("credit"))
        .orderBy(col("touch_event"))
    }),

    // ---- audio segment-energy hash through the real decoder -------------
    "q148_audio_dhash" -> ((s, dir) => {
      // step-amplitude sine WAVs: adjacent segment levels differ by 7 mod 9
      // (never equal), so every energy-comparison bit is closed-form in the
      // integer level sequence — the oracle recomputes the exact 63-bit hash
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 200)
        .select(col("doc_id"))
      val levels = transform(sequence(lit(0), lit(63)),
        j => (col("doc_id") + j * 7) % 9 + 1)
      val media = Multimodal.withGeneratedStepWav(docs, "doc_id", levels)
      Multimodal.dhashAudio(media, "media_bytes", "doc_id", segments = 64)
        .select(col("id").as("doc_id"), col("ahash"), col("decoded"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- per-key trend slope (drift direction) --------------------------
    "q149_trend_slope" -> ((s, dir) => {
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
    }),

    // ---- per-source duplication report ----------------------------------
    "q150_dedup_report" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("fp", TextFunctions.md5Fingerprint(col("text")))
      Dedup.dedupReport(docs, Seq("fp"), "source")
        .orderBy(col("source"))
    }),

    // ---- Space-Saving heavy-hitters sketch ------------------------------
    "q151_heavy_sketch" -> ((s, dir) => {
      // capacity 64 >> 5 distinct event types ⇒ the sketch never evicts,
      // counts are exact and the oracle is the plain GROUP BY top-k
      ScaleOps.heavyHittersSketch(
          EventsSource.read(s, s"$dir/events.parquet"), "event_type",
          k = 5, capacity = 64)
        .orderBy(col("rank"))
    }),

    // ---- per-dimension embedding statistics -----------------------------
    "q152_dim_stats" -> ((s, dir) => {
      Similarity.dimStats(read(s, dir, "embeddings"), "embedding")
        .select(col("dim"), col("n"), round(col("mean"), 4).as("mean"),
          round(col("std"), 4).as("std"),
          round(col("min"), 4).as("min"), round(col("max"), 4).as("max"))
        .orderBy(col("dim"))
    }),

    // ---- dimension-wise z-normalization ---------------------------------
    "q153_znorm_dims" -> ((s, dir) => {
      Similarity.zNormalizeDims(read(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id").as("vec_id"), posexplode(col("znorm")).as(Seq("dim", "z")))
        // + 0.0 canonicalizes IEEE −0.0 (a tiny negative z rounds to −0.0
        // here but to 0 in DuckDB's formatter)
        .select(col("vec_id"), col("dim"), (round(col("z"), 4) + lit(0.0)).as("z"))
        .gateOrdered(col("vec_id"), col("dim"))
    }),

    // ---- image near-dup end-to-end (decode → dHash → banded pairs) ------
    "q155_image_neardup" -> ((s, dir) => {
      // same 4-tone layout as q146; hamming 0 pairs = identical tone
      // orderings, so the oracle derives the pair set arithmetically
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 120)
        .select(col("doc_id"))
      val media = Multimodal.withGeneratedQuarterPng(docs, "doc_id", 16, 8,
        col("doc_id") % 256, (col("doc_id") * 3 + 17) % 256,
        (col("doc_id") * 5 + 89) % 256, (col("doc_id") * 11 + 201) % 256)
      val hashes = Multimodal.dhashImages(media, "media_bytes", "doc_id")
      Dedup.hamming64Pairs(hashes, "id", "dhash", maxHamming = 0, numChunks = 1)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- row-group pruning audit (footer stats vs the data) -------------
    "q156_rowgroup_stats" -> ((s, dir) => {
      // numeric footer min/max must equal the data's min/max — two
      // independent parquet readers agreeing; the [100, 200] quantity
      // predicate is provably skippable (column max is 50)
      ParquetIO.rowGroupStats(s, s"$dir/lineitem.parquet",
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          predicate = Some(("l_quantity", 100.0, 200.0)))
        .orderBy(col("column_name"), col("row_group"))
    }),

    // ---- hard-negative mining (contrastive training prep) ---------------
    "q157_hard_negatives" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label", k = 5)
        .select(col("anchor_id"), col("anchor_label"), col("nbr_id"),
          col("nbr_label"), round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("anchor_id"), col("rank"))
    }),

    // ---- sliding-window aggregation (overlapping windows) ---------------
    "q158_sliding_hours" -> ((s, dir) => {
      EventStream.slidingAggBatch(
          EventsSource.read(s, s"$dir/events.parquet"),
          windowHours = 2, slideHours = 1)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // ---- tokenizer fertility per language -------------------------------
    "q159_fertility" -> ((s, dir) => {
      CorpusStats.tokenizerFertility(read(s, dir, "documents"), "lang", "text")
        .orderBy(col("lang"))
    }),

    // ---- hourly-count autocorrelation (seasonality) ---------------------
    "q160_autocorr" -> ((s, dir) => {
      Behavior.lagAutocorrelation(
          EventsSource.read(s, s"$dir/events.parquet"), "event_type", "ts")
        .select(col("event_type"), col("n_pairs"),
          round(col("autocorr"), 4).as("autocorr"))
        .orderBy(col("event_type"))
    }),

    // ---- exponential-decay activity score -------------------------------
    "q161_decay_activity" -> ((s, dir) => {
      // reference instant 2024-02-01 UTC (after the fixture's last event),
      // 24h half-life
      Behavior.decayActivity(EventsSource.read(s, s"$dir/events.parquet"),
          "user_id", "ts", refTsUs = 1706745600000000L, halfLifeHours = 24.0)
        .select(col("user_id"), col("n_events"),
          round(col("decay_score"), 4).as("decay_score"))
        .orderBy(col("user_id"))
    }),

    // ---- calendar resample with forward fill ----------------------------
    "q162_resample" -> ((s, dir) => {
      Temporal.resample(EventsSource.read(s, s"$dir/events.parquet"),
          Seq("event_type"), "ts", "value", stepHours = 1, fill = "ffill")
        .select(col("event_type"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n_events"), round(col("value"), 4).as("avg_value"))
        .orderBy(col("event_type"), col("hour"))
    }),

    // ---- quantile normalization (cross-snapshot calibration) ------------
    "q163_quantile_norm" -> ((s, dir) => {
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
    }),

    // ---- audio near-dup end-to-end (decode → energy hash → pairs) -------
    "q164_audio_neardup" -> ((s, dir) => {
      // the q148 level pattern has period 9 in doc_id, and its 9 rotations
      // are distinct — so two clips collide iff doc_id ≡ doc_id (mod 9)
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 120)
        .select(col("doc_id"))
      val levels = transform(sequence(lit(0), lit(63)),
        j => (col("doc_id") + j * 7) % 9 + 1)
      val media = Multimodal.withGeneratedStepWav(docs, "doc_id", levels)
      val hashes = Multimodal.dhashAudio(media, "media_bytes", "doc_id", segments = 64)
      Dedup.hamming64Pairs(hashes, "id", "ahash", maxHamming = 0, numChunks = 1)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- sliding windows through the real stream ------------------------
    "q165_sliding_stream" -> ((s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val agg = runToCompletion(s, "q165_sliding",
        EventStream.slidingAggStream(s, staged, schema), parquetRows(s, staged))
      agg.select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // ---- native session_window sessionization (≡ q41) -------------------
    "q166_session_native" -> ((s, dir) => {
      // Spark's built-in gap-session operator must reproduce the
      // window-formulation sessionizer exactly (no exact-gap pairs exist
      // in the fixture, so the [ts, ts+gap) boundary nuance is moot)
      EventStream.sessionizeNative(
          EventsSource.read(s, s"$dir/events.parquet"), gapMinutes = 30)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---- winnow candidate pairs (MOSS overlap report) -------------------
    "q167_winnow_pairs" -> ((s, dir) => {
      CorpusStats.winnowCandidates(read(s, dir, "documents"),
          "doc_id", "text", k = 3, window = 4, minShared = 2)
        .select(col("id_a"), col("id_b"), col("n_shared"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- multimodal admission gate (image × audio, one pipeline) --------
    "q168_multimodal_gate" -> ((s, dir) => {
      // both media decode paths joined on the doc: admit documents whose
      // image has a rising first tone step (dhash bit 1) AND whose audio
      // opens on a rising energy step (ahash bit 0) — every predicate is
      // closed-form in the generator arithmetic, so the oracle re-derives
      // the admitted set exactly
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 120)
        .select(col("doc_id"))
      val img = Multimodal.dhashImages(
        Multimodal.withGeneratedQuarterPng(docs, "doc_id", 16, 8,
          col("doc_id") % 256, (col("doc_id") * 3 + 17) % 256,
          (col("doc_id") * 5 + 89) % 256, (col("doc_id") * 11 + 201) % 256),
        "media_bytes", "doc_id")
        .select(col("id"), col("dhash"))
      val levels = transform(sequence(lit(0), lit(63)),
        j => (col("doc_id") + j * 7) % 9 + 1)
      val aud = Multimodal.dhashAudio(
        Multimodal.withGeneratedStepWav(docs, "doc_id", levels),
        "media_bytes", "doc_id", segments = 64)
        .select(col("id"), col("ahash"))
      img.join(aud, Seq("id"))
        .filter((col("dhash").bitwiseAND(2L) =!= 0L) &&
          (col("ahash").bitwiseAND(1L) =!= 0L))
        .select(col("id").as("doc_id"), col("dhash"), col("ahash"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal near-dup clusters (image hash → components) ---------
    "q169_image_clusters" -> ((s, dir) => {
      // transitive clustering over the q155 identical-hash pair graph;
      // clusters = the 8 tone-ordering classes, labeled by their min id
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 120)
        .select(col("doc_id"))
      val media = Multimodal.withGeneratedQuarterPng(docs, "doc_id", 16, 8,
        col("doc_id") % 256, (col("doc_id") * 3 + 17) % 256,
        (col("doc_id") * 5 + 89) % 256, (col("doc_id") * 11 + 201) % 256)
      val hashes = Multimodal.dhashImages(media, "media_bytes", "doc_id")
      val pairs = Dedup.hamming64Pairs(hashes, "id", "dhash",
        maxHamming = 0, numChunks = 1).select(col("id_a"), col("id_b"))
      graft.operators.Components.connectedComponents(
          hashes.select(col("id")), pairs)
        .select(col("id").as("doc_id"), col("component"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- I/O contract checks (sink, validity, footer KV, hashes) --------
    "q170_io_contracts" -> ((s, dir) => {
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
    }),

    // ---- dynamic partition overwrite (incremental ingestion contract) ---
    // the 100 TB re-landing primitive: replacing one partition's data must
    // swap ONLY that partition's directory. Checked with file-level sha256
    // snapshots: untouched partitions stay byte-identical, the target's
    // files change, and the static-mode footgun (whole-table truncate) is
    // demonstrated on a second lake. Counts re-read from the lake are
    // oracle-matched against the source table.
    "q193_partition_overwrite" -> ((s, dir) => {
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
    }),

    // ---- KS on a CONTINUOUS column (distinct ≈ rows) --------------------
    // events.value is a double with ~95% distinct values, so this drives
    // the distributed running-CDF path of ksStatistic where the
    // distinct-value table is NOT broadcastable-small — the shape q131's
    // bounded n_chars column never exercises.
    "q171_ks_continuous" -> ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      Drift.ksStatistic(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0), "value")
    }),

    // ---- hive-partitioned scan with partition pruning -------------------
    // The first thing a Spark user does at 100 TB: lay events out by day
    // and query one day. Writes the date-partitioned copy, then reads it
    // back filtered to the earliest day — Catalyst must resolve the
    // predicate against directory names (PartitionFilters; asserted by
    // PlanSpec) so the other days' files are never opened.
    "q172_partition_prune" -> ((s, dir) => {
      val part = stagePartitionedEvents(s, dir)
      val d0 = part.agg(min(col("event_date"))).collect().head.getDate(0)
      part.filter(col("event_date") === lit(d0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value"), 4).as("sum_value"))
        .gateOrdered(col("event_type"))
    }),

    // ---- MAD robust outliers (heavy-tail flagging) ----------------------
    "q97_mad_outliers" -> ((s, dir) => {
      ColumnProfiler.madOutliers(
          EventsSource.read(s, s"$dir/events.parquet"), "value", k = 3.5)
        .filter(col("is_outlier"))
        .select(col("event_id"), round(col("value"), 2).as("value"),
          round(col("robust_z"), 4).as("robust_z"))
        .orderBy(col("event_id"))
    }),

    // ---- packing efficiency report --------------------------------------
    "q96_packing_stats" -> ((s, dir) => {
      val packed = Packing.packByBudget(
        read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", budget = 65536, blockSize = 512)
      Packing.packingStats(packed, "n_chars", budget = 65536)
        .select(col("pack_id"), col("n_docs"), col("total_size"),
          round(col("fill"), 4).as("fill"))
        .orderBy(col("pack_id"))
    }),

    // ---- Zipf head-vocabulary fit ---------------------------------------
    "q95_zipf_fit" -> ((s, dir) => {
      CorpusStats.zipfFit(read(s, dir, "documents"), "text", topK = 1000)
        .select(col("n_terms"), round(col("slope"), 4).as("slope"),
          round(col("intercept"), 4).as("intercept"),
          round(col("r2"), 4).as("r2"))
    }),

    // ---- contamination pair attribution ---------------------------------
    "q93_contamination_pairs" -> ((s, dir) => {
      // q48's fixture: eval set = every 20th doc; report which eval doc
      // each train doc shares >= 2 distinct word-3-grams with
      val docs = read(s, dir, "documents")
      Decontaminate.contaminationPairs(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
          shingleSize = 3, minShared = 2)
        .gateOrdered(col("train_id"), col("test_id"))
    }),

    // ---- per-group token budget (mixture in token units) ----------------
    "q94_token_budget" -> ((s, dir) => {
      Sampling.tokenBudgetPerGroup(
          read(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("lang"), Seq(col("n_chars").desc, col("doc_id").asc),
          "n_chars", budget = 50000L)
        .orderBy(col("doc_id"))
    }),

    // ---- keyed snapshot diff (dataset versioning) -----------------------
    "q91_keyed_diff" -> ((s, dir) => {
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
    }),

    // ---- inter-group centroid similarity matrix -------------------------
    "q92_centroid_matrix" -> ((s, dir) => {
      Similarity.centroidSimilarityMatrix(read(s, dir, "embeddings"),
        "label", "embedding")
        .select(col("group_a").as("label_a"), col("group_b").as("label_b"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("label_a"), col("label_b"))
    }),

    // ---- quantile winsorization (profile-driven numeric cleaning) -------
    "q89_winsorize" -> ((s, dir) => {
      ColumnProfiler.winsorize(read(s, dir, "lineitem"),
        Seq("l_extendedprice", "l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("extendedprice_w"),
          round(col("l_quantity"), 2).as("quantity_w"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- per-group numeric profile (per-source corpus monitoring) -------
    "q90_group_profile" -> ((s, dir) => {
      ColumnProfiler.profileByGroup(read(s, dir, "lineitem"), "l_returnflag",
        Seq("l_quantity", "l_discount"), exactDistinct = true)
        .select(col("group"), col("column_name"), col("n"), col("n_missing"),
          col("n_distinct"), round(col("mean"), 4).as("mean"),
          round(col("std"), 4).as("std"), col("min"), col("max"))
        .gateOrdered(col("group"), col("column_name"))
    }),

    // ---- per-document novelty (corpus-unique shingle share) -------------
    "q88_novelty_score" -> ((s, dir) => {
      CorpusStats.noveltyScore(read(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_unique"),
          round(col("novelty"), 4).as("novelty"))
        .orderBy(col("doc_id"))
    }),

    // ---- temperature-rebalanced language mixture ------------------------
    "q84_temperature_mixture" -> ((s, dir) => {
      Sampling.temperatureMixture(read(s, dir, "documents"), "doc_id", "lang",
        alpha = 0.5, salt = "t:")
        .select(col("doc_id"), col("lang"),
          round(col("keep_rate"), 4).as("keep_rate"))
        .orderBy(col("doc_id"))
    }),

    // ---- int8 embedding quantization summary ----------------------------
    "q85_quantize_i8" -> ((s, dir) => {
      read(s, dir, "embeddings")
        .select(col("vec_id"),
          VectorKernelFunctions.i8QuantStats(col("embedding")).as("q"))
        .select(col("vec_id"), round(col("q.scale"), 8).as("scale"),
          col("q.n_dims").as("n_dims"), col("q.sum_q").as("sum_q"),
          col("q.sum_abs_q").as("sum_abs_q"), col("q.min_q").as("min_q"),
          col("q.max_q").as("max_q"))
        .orderBy(col("vec_id"))
    }),

    // ---- inverted index / posting lists ---------------------------------
    "q86_inverted_index" -> ((s, dir) => {
      Search.invertedIndex(read(s, dir, "documents"), "doc_id", "text",
        minDf = 3)
        .gateOrdered(col("term"))
    }),

    // ---- centroid-cohesion outlier flagging -----------------------------
    "q87_centroid_outliers" -> ((s, dir) => {
      Similarity.centroidOutliers(read(s, dir, "embeddings"), "vec_id",
        "label", "embedding", threshold = 0.5)
        .select(col("vec_id"), col("label"), col("cosine"),
          col("is_outlier").cast("int").as("is_outlier"))
        .orderBy(col("vec_id"))
    }),

    // ---- pairwise Pearson correlations (profile extension) --------------
    "q80_correlations" -> ((s, dir) => {
      ColumnProfiler.correlations(read(s, dir, "lineitem"),
        Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))
        .select(col("col_a"), col("col_b"),
          round(col("pearson"), 4).as("pearson"))
        .orderBy(col("col_a"), col("col_b"))
    }),

    // ---- unigram cross-entropy (statistical quality proxy) --------------
    "q79_unigram_loss" -> ((s, dir) => {
      CorpusStats.unigramLogLoss(read(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("log_loss"), 4).as("log_loss"),
          round(col("perplexity"), 4).as("perplexity"))
        .gateOrdered(col("doc_id"))
    }),

    // ---- keyed upsert (refresh batch into base) -------------------------
    "q77_upsert" -> ((s, dir) => {
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
    }),

    // ---- CDC change-log application (last-writer-wins + deletes) --------
    "q78_cdc_apply" -> ((s, dir) => {
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
    }),

    // ---- near-containment pairs (asymmetric overlap) --------------------
    "q75_containment" -> ((s, dir) => {
      Dedup.containmentPairs(read(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.6)
        .select(col("id_a"), col("id_b"),
          round(col("cont_a_in_b"), 4).as("cont_a_in_b"),
          round(col("cont_b_in_a"), 4).as("cont_b_in_a"),
          round(col("jaccard"), 4).as("jaccard"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),

    // ---- shingle document-frequency histogram (cap diagnostic) ----------
    "q76_df_histogram" -> ((s, dir) => {
      CorpusStats.shingleDfHistogram(read(s, dir, "documents"), "text",
        shingleSize = 3)
        .orderBy(col("doc_freq"))
    }),

    // ---- long-document chunking (pre-packing split) ---------------------
    "q74_chunk_documents" -> ((s, dir) => {
      Packing.chunkDocuments(read(s, dir, "documents"), "doc_id", "text",
        maxTokens = 32, overlapTokens = 8)
        .select(col("id").as("doc_id"), col("chunk_index"),
          col("chunk_text"), col("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_index"))
    }),

    // ---- stream-static enrichment under the oracle ----------------------
    "q73_enrich_stream" -> ((s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val stream = s.readStream.schema(schema).parquet(staged)
      val dim = read(s, dir, "customer").select(
        col("c_custkey").as("user_id"), col("c_name"), col("c_nationkey"))
      val out = runToCompletion(s, "q73_enrich",
        EventStream.enrichStream(stream, dim, Seq("user_id")), parquetRows(s, staged))
      out.select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_nationkey"))
        .orderBy(col("event_id"))
    }))

  /** Stage the events table as microsecond-timestamp parquet in a scratch
    * dir (the shape an ingestion layer lands; the streaming parquet source
    * rejects TIMESTAMP(NANOS)). `duplicate` doubles every row — the dedup
    * fixture. */
  private val eventsMicrosCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean), String]()
  /** Shared q303/q304 series: zero-filled hourly event counts with the
    * hour index REBASED to 0..n−1 (cos/sin arguments stay small — the
    * q282 spine shifted to the origin). */
  private def rebasedHourlySeries(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsSource.read(s, s"$dir/events.parquet")
      .filter(col("ts").isNotNull)
    val hourly = ev
      .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
      .agg(count(lit(1)).cast("double").as("y"))
    val bounds = ev
      .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
        floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
    bounds.select(col("lo"), explode(sequence(col("lo"), col("hi"))).as("h"))
      .join(hourly, Seq("h"), "left")
      .na.fill(0.0, Seq("y"))
      .select((col("h") - col("lo")).as("t"), col("y"))
  }

  /** Shared q276/q277 eval scenario: brand recommendations per sampled
    * customer (custkey % 20 == 1 — a bounded query set at any sf) ranked
    * by first-half revenue, judged on second-half purchase counts. Returns
    * (results(c, b, r), qrels(c, b, rel)). Ranks use the ROUNDED revenue
    * with brand-asc tiebreak — a total order, identical on both engines. */
  private def brandRecEval(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = read(s, dir, "lineitem")
    val ord = read(s, dir, "orders").filter(col("o_custkey") % 20 === 1)
    val part = read(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val base = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .select(col("o_custkey").as("c"), col("p_brand").as("b"),
        to_date(col("o_orderdate")).as("d"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val split = lit("1998-06-01").cast("date")
    val h1 = base.filter(col("d") < split)
      .groupBy(col("c"), col("b")).agg(round(sum(col("rev")), 2).as("s"))
    val w = Window.partitionBy(col("c")).orderBy(col("s").desc, col("b").asc)
    val res = h1.withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select(col("c"), col("b"), col("r"))
    val rel = base.filter(col("d") >= split)
      .groupBy(col("c"), col("b"))
      .agg(least(count(lit(1)), lit(4L)).as("rel"))
    (res, rel)
  }

  private def stageEventsMicros(s: SparkSession, dir: String,
      duplicate: Boolean = false): String =
    // cached per (dir, variant) per JVM: 7 streaming queries × 3 bench
    // passes were each re-writing the staged copy and leaking a /tmp dir
    eventsMicrosCache.computeIfAbsent((dir, duplicate), { case (d, dup) =>
      val out = java.nio.file.Files.createTempDirectory("graft_stream_").toString
      val ev = EventsSource.read(s, s"$d/events.parquet")
      (if (dup) ev.union(ev) else ev).write.mode("overwrite").parquet(out)
      out
    })

  /** Stage (once per source dir per JVM) the q184 corpus-side LSH store:
    * `Dedup.precomputeLshCorpus` over the even-doc_id half of `documents`
    * into two bucketed catalog tables. Cached so bench's warm + measured
    * passes time the PROBE (the per-batch cost in production), not the
    * one-time corpus precompute — exactly the asymmetry the layout exists
    * to buy. Table names carry a dir hash: each scale factor gets its own
    * store, and a driver run at sf0.01 after local sf0.001 iteration can
    * never probe a stale corpus. */
  private val lshCorpusCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def stageLshCorpus(s: SparkSession, dir: String): String =
    lshCorpusCache.computeIfAbsent(dir, { d =>
      val prefix = s"graft_lsh_${Integer.toHexString(d.hashCode).toLowerCase}"
      Seq("buckets", "shingles").foreach { suffix =>
        s.sql(s"DROP TABLE IF EXISTS ${prefix}_$suffix")
        // the metastore is per-JVM but the warehouse dir persists across
        // runs — clear any orphaned location from a previous JVM
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
          s"${prefix}_$suffix")
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
        }
        if (loc.exists()) rm(loc)
      }
      Dedup.precomputeLshCorpus(
        read(s, d, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text", prefix)
      prefix
    })

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

  /** Stage (once per source dir per JVM) the q195 stream source: the odd
    * doc_id half of `documents` written as a parquet directory the file
    * stream reads. Cached so bench passes measure the STREAMING PROBE,
    * not the staging write. */
  private val oddDocsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stageOddDocs(s: SparkSession, dir: String): String =
    oddDocsCache.computeIfAbsent(dir, { d =>
      val out = java.nio.file.Files.createTempDirectory("graft_odd_").toString + "/docs"
      read(s, d, "documents").filter(col("doc_id") % 2 === 1)
        .write.mode("overwrite").parquet(out)
      out
    })

  /** Stage (once per source dir per JVM) the q196 PQ layout: seed
    * codebooks + the encoded codes table. The codebooks ride in the cache
    * with the path — they are the layout's contract (q188's pattern). */
  private val pqCodesCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Array[Double]]])]()
  private def stagePqCodes(s: SparkSession,
      dir: String): (String, Array[Array[Array[Double]]]) =
    pqCodesCache.computeIfAbsent(dir, { d =>
      val emb = read(s, d, "embeddings")
      val seeds = emb.filter(col("vec_id") < 16)
        .orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cbs = Similarity.pqCodebooksFromSeeds(seeds, numSubspaces = 8)
      val path = java.nio.file.Files.createTempDirectory("graft_pq_").toString + "/codes"
      Similarity.writePqCodes(emb, "vec_id", "embedding", cbs, path)
      (path, cbs)
    })

  /** Stage (once per source dir per JVM) the q188 IVF layout: centroids
    * trained on the embeddings corpus (deterministic seeded sample), lists
    * written partitioned by list_id. Cached so bench passes measure the
    * PRUNED PROBE, not the one-time layout job; the centroids array is
    * part of the layout's contract and rides in the cache with the path. */
  private val ivfListsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Double]])]()
  private[graft] def stageIvfLists(s: SparkSession, dir: String): (String, Array[Array[Double]]) =
    ivfListsCache.computeIfAbsent(dir, { d =>
      val emb = read(s, d, "embeddings")
      val centroids = Similarity.trainCentroids(emb, "embedding", numLists = 16)
      val path = java.nio.file.Files.createTempDirectory("graft_ivf_").toString + "/lists"
      Similarity.writeIvfLists(emb, "vec_id", "embedding", centroids, path)
      (path, centroids)
    })

  /** Stage (once per source dir per JVM) the q207 IVF+PQ layout: list
    * centroids = the full vectors of vec_id < 8 (data-point seeds the
    * oracle recomputes from the table), residual codebooks = the
    * RESIDUALS of vec_id < 16 against their own assigned lists, split
    * into 8 subspaces. Both ride with the path — they are the layout's
    * contract (q188/q196 precedent). The first 8 codebook entries are
    * zero vectors (a seed's residual to itself) — harmless: they encode
    * "sits at the centroid". */
  private val ivfPqCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Array[Array[Double]], Array[Array[Array[Double]]])]()
  private[graft] def stageIvfPq(s: SparkSession, dir: String)
      : (String, Array[Array[Double]], Array[Array[Array[Double]]]) =
    ivfPqCache.computeIfAbsent(dir, { d =>
      val emb = read(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      import graft.functions.kernels.VectorKernelFunctions
      val residSeeds = emb.filter(col("vec_id") < 16)
        .orderBy(col("vec_id"))
        .select(VectorKernelFunctions.centroidResidual(
          col("embedding"),
          VectorKernelFunctions.nearestCentroid(col("embedding"), cents),
          cents))
        .collect().map(_.getSeq[Double](0).toArray)
      val cbs = Similarity.pqCodebooksFromSeeds(residSeeds, numSubspaces = 8)
      val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString + "/codes"
      Similarity.writeIvfPqCodes(emb, "vec_id", "embedding", cents, cbs, path)
      (path, cents, cbs)
    })

  /** Stage (once per source dir per JVM) the q206 SemDeDup layout: the
    * even-vec_id corpus half clustered on the q189 seed centroids (8-dim
    * prefixes of vec_id < 8) and written cluster-partitioned. Cached so
    * bench passes measure the PRUNED PROBE, not the one-time layout write;
    * the centroids are the layout's contract and ride with the path. */
  private val semDedupClustersCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Double]])]()
  private[graft] def stageSemDedupClusters(s: SparkSession,
      dir: String): (String, Array[Array[Double]]) =
    semDedupClustersCache.computeIfAbsent(dir, { d =>
      val emb = read(s, d, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(slice(col("embedding"), 1, 8))
        .collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val path = java.nio.file.Files.createTempDirectory("graft_sdd_").toString + "/clusters"
      Similarity.writeSemDedupClusters(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        seeds, clusterDims = 8, path)
      (path, seeds)
    })

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

  /** Stage (once per source dir per JVM) a hive-layout date-partitioned
    * copy of the events table and return it as a DataFrame. Cached so
    * bench's warm+measured passes re-measure the PRUNED READ, not the
    * one-time layout job — mirroring production, where the layout is
    * written once and queried daily. */
  private val partitionedEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q193's working directory, cached per source dir per JVM (the q175
    * precedent): every invocation REBUILDS the lakes inside it — the
    * query's semantics are self-contained — but never leaks new temp
    * dirs across bench's repeated passes. */
  private val partitionOverwriteCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stagePartitionedEvents(s: SparkSession, dir: String): DataFrame = {
    val out = partitionedEventsCache.computeIfAbsent(dir, { d =>
      val o = java.nio.file.Files.createTempDirectory("graft_part_").toString
      EventsSource.writeDatePartitioned(s, s"$d/events.parquet", o)
      o
    })
    EventsSource.readPartitioned(s, out)
  }

  /** Run a streaming DataFrame to completion on its (static) source via a
    * memory sink and return the sink table.
    *
    * State partitions are sized to the fixture's stream volume for the
    * query's duration: every stateful operator materializes one state
    * store PER shuffle partition PER micro-batch (delta + snapshot files,
    * maintenance threads), a fixed cost unrelated to row count. 100k
    * events across 32 stores is overhead-dominated; 8 fits. At production
    * volume this is the same `spark.sql.shuffle.partitions` lever, raised
    * instead of lowered — the partition count is captured at stream START,
    * so the scoped set/restore pins it per query. */
  /** q221's fixed bin edges over events.value — shared by the query's
    * baseline computation and the oracle generator so they cannot drift. */
  private val psiStreamEdges: Array[Double] =
    Array(5.0, 10.0, 20.0, 50.0, 100.0, 200.0)

  /** Replay row count of a staged parquet dir, cached per file identity
    * per JVM (a regenerated dir is counted afresh) — a parquet `count()` is
    * footer-metadata only, but 9 streaming queries × 3 bench passes need
    * not repeat even that. */
  private val stagedRowsCache = new graft.io.IdentityCache[java.lang.Long]
  private[graft] def parquetRows(s: SparkSession, path: String): Long = {
    val id = ParquetIO.fileIdentity(s, path)
    id.flatMap(stagedRowsCache.get).map(_.longValue).getOrElse {
      val n = ParquetIO.read(s, path).count()
      id.foreach(stagedRowsCache.put(_, n))
      n
    }
  }

  private def runToCompletion(s: SparkSession, name: String,
      stream: DataFrame, replayRows: Long): DataFrame = {
    s.catalog.dropTempView(name) // re-runs in one session
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    // Stateful-stage parallelism for the CLOSED-SET replay harness (this
    // helper is the oracle-gate tail, not a production operator): each
    // state partition pays per-micro-batch store init/commit file I/O,
    // and the replayed state is a bounded function of the replay volume
    // (sessions/windows/pairs ≪ rows), so the count DERIVES from the
    // replay's row count — one state partition per ~64k replayed rows,
    // clamped to the session shuffle setting (the cluster-sized lever a
    // real deployment raises for throughput). Measured at sf0.1 (100k
    // rows → 2 partitions): same numbers as the previous hand-tuned
    // constant 2, which this derivation replaces (a constant only made
    // sense at exactly this bench scale).
    val derived = math.max(1L, math.min(
      s.sessionState.conf.numShufflePartitions.toLong,
      (replayRows + 65535) / 65536))
    s.conf.set("spark.sql.shuffle.partitions", derived.toString)
    try {
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  /** Exact shingle-Jaccard pairs in DuckDB — the oracle for every
    * LSH-candidate + exact-verify dedup operator (q20 ngramJaccard exact
    * recall by construction; q25 minhash / q26 simhash candidate nets are
    * empirically 100%-recall on this corpus at oracle scale, so their
    * verified outputs equal the exact pair set). */
  /** q70/q184 oracle: exact cross-parity Jaccard (odd = new batch, even =
    * historical corpus); recall argument as q25 — banding is a per-row
    * projection, so the cross-parity candidate net is the q25 net
    * restricted to odd×even pairs. */
  private lazy val crossParityJaccardSql: String =
    """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3)
         SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) AS jaccard
         FROM s a JOIN s b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.7
         ORDER BY new_id, corpus_id"""

  private def jaccardPairsSql(threshold: Double): String =
    s"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) AS jaccard
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= $threshold
         ORDER BY id_a, id_b"""

  /** Exact brute-force cosine top-5 in DuckDB — the oracle for every ANN
    * operator whose output provably equals exact search: q21 (brute force
    * by definition), q29 (LSH net verified 100%-recall at oracle scale),
    * q40 (IVF with nProbe = numLists probes every list). */
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

  /** q41/q166 oracle: gap sessionization as islands over a keyed prefix
    * sum; shared by the window-formulation and native-session_window
    * implementations (their boundary semantics coincide on this fixture —
    * no consecutive pair sits exactly on the gap). */
  private val sessionizeSql: String =
    """WITH e AS (
         SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                     > 1800000000
                THEN 1 ELSE 0 END AS new_s
         FROM events),
       s AS (
         SELECT user_id, ts, value,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM e)
       SELECT user_id,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         count(*) AS n_events, round(sum(value), 2) AS session_value
       FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""

  private val knnExactSql: String =
    """SELECT query_id, nbr_id, round(cos, 4) AS cosine, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q) t
         WHERE rank <= 5 ORDER BY query_id, rank"""

  /** q179 oracle: one Lloyd step replayed exactly — unrolled left-to-right
    * squared-L2 terms (matching the Spark expression's fold order),
    * row_number ties to the lowest cluster index (≡ the struct array_min),
    * DECIMAL-exact per-dimension sums divided once in double, and the
    * empty-cluster fallback to the PREVIOUS centroid (kmeansLloyd's
    * contract). The coalesce below writes that fallback against the SEED
    * centroids c0 — correct ONLY because this oracle replays exactly one
    * iteration, where previous ≡ seed. A multi-iteration replay must
    * coalesce each round against the prior round's cc CTE instead, or it
    * silently diverges from kmeansLloyd on the first empty cluster. */
  /** The q179 one-Lloyd-iteration CTE chain (ends at `a2`, the final
    * assignment) — shared by [[kmeansSql]] and [[silhouetteSql]]. */
  private def kmeansCtes(k: Int, dims: Int): String = {
    def d2(c: Int => String): String =
      (1 to dims).map(i => s"(b.v[$i]-${c(i)})*(b.v[$i]-${c(i)})").mkString(" + ")
    val meanCols = (1 to dims).map(i =>
      s"CAST(sum(v[$i]::DECIMAL(30,12)) AS DOUBLE)/count(*) AS c$i").mkString(", ")
    val ccCols = (1 to dims).map(i =>
      s"coalesce(m.c$i, c0.c[$i]) AS c$i").mkString(", ")
    s"""b AS (SELECT vec_id AS id, embedding[1:$dims]::DOUBLE[] AS v
                   FROM embeddings),
        c0 AS (SELECT id AS j, v AS c FROM b WHERE id < $k),
        s1 AS (SELECT b.id, c0.j, ${d2(i => s"c0.c[$i]")} AS d
               FROM b CROSS JOIN c0),
        a1 AS (SELECT id, j AS cluster FROM (
                 SELECT id, j, row_number() OVER (PARTITION BY id
                   ORDER BY d ASC, j ASC) AS rn FROM s1) t
               WHERE rn = 1),
        m AS (SELECT cluster, $meanCols
              FROM a1 JOIN b USING (id) GROUP BY cluster),
        cc AS (SELECT c0.j, $ccCols
               FROM c0 LEFT JOIN m ON m.cluster = c0.j),
        s2 AS (SELECT b.id, cc.j, ${d2(i => s"cc.c$i")} AS d
               FROM b CROSS JOIN cc),
        a2 AS (SELECT id, j AS cluster FROM (
                 SELECT id, j, row_number() OVER (PARTITION BY id
                   ORDER BY d ASC, j ASC) AS rn FROM s2) t
               WHERE rn = 1)"""
  }

  private def kmeansSql(k: Int, dims: Int): String =
    s"""WITH ${kmeansCtes(k, dims)}
        SELECT id AS vec_id, cluster FROM a2 ORDER BY vec_id"""

  /** q359 oracle: [[kmeansCtes]]'s final assignment, decimal-exact final
    * centroids, per-point own/nearest-other distances, and the same
    * 12-dp per-point quantization the Spark side applies before the
    * cluster means. */
  private def silhouetteSql(k: Int, dims: Int): String = {
    val meanCols = (1 to dims).map(i =>
      s"CAST(sum(v[$i]::DECIMAL(30,12)) AS DOUBLE)/count(*) AS c$i").mkString(", ")
    val d2m = (1 to dims).map(i =>
      s"(b.v[$i]-m2.c$i)*(b.v[$i]-m2.c$i)").mkString(" + ")
    s"""WITH ${kmeansCtes(k, dims)},
        m2 AS (SELECT cluster, $meanCols
               FROM a2 JOIN b USING (id) GROUP BY cluster),
        s3 AS (SELECT b.id, a2.cluster AS own, m2.cluster AS j, $d2m AS d
               FROM b JOIN a2 USING (id) CROSS JOIN m2),
        pp AS (SELECT id, own,
                 sqrt(max(CASE WHEN j = own THEN d END)) AS a,
                 sqrt(min(CASE WHEN j <> own THEN d END)) AS bb
               FROM s3 GROUP BY 1, 2),
        qq AS (SELECT own AS cluster,
                 round((CASE WHEN greatest(a, bb) = 0 THEN 0.0
                        ELSE (bb - a) / greatest(a, bb) END)
                   * 1e12)::BIGINT AS sq,
                 round(a * 1e12)::BIGINT AS aq,
                 round(bb * 1e12)::BIGINT AS bq
               FROM pp)
        SELECT cluster, count(*)::BIGINT AS n,
          round(sum(sq)::DOUBLE / 1e12 / count(*), 6) + 0.0
            AS mean_silhouette,
          round(sum(aq)::DOUBLE / 1e12 / count(*), 6) + 0.0
            AS mean_dist_own,
          round(sum(bq)::DOUBLE / 1e12 / count(*), 6) + 0.0
            AS mean_dist_other
        FROM qq GROUP BY cluster ORDER BY cluster"""
  }

  /** q189 oracle: SemDeDup replayed — seed-centroid assignment on the
    * `dims`-dim prefix (same unrolled left-to-right squared-L2 + lowest-
    * index ties as kmeansSql's s1/a1 step), then full-vector cosine only
    * within clusters; duplicate = some lower-id cluster-mate with
    * cos >= tau (tau chosen in an empirical gap — see the q189 entry). */
  private def semDedupSql(k: Int, dims: Int, tau: Double): String = {
    val d2 = (1 to dims).map(i => s"(b.v[$i]-c0.c[$i])*(b.v[$i]-c0.c[$i])").mkString(" + ")
    s"""WITH b AS (SELECT vec_id AS id, embedding[1:$dims]::DOUBLE[] AS v,
                     embedding::DOUBLE[] AS f
                   FROM embeddings),
        c0 AS (SELECT id AS j, v AS c FROM b WHERE id < $k),
        s1 AS (SELECT b.id, c0.j, $d2 AS d FROM b CROSS JOIN c0),
        a AS (SELECT id, j AS cluster FROM (
                SELECT id, j, row_number() OVER (PARTITION BY id
                  ORDER BY d ASC, j ASC) AS rn FROM s1) t
              WHERE rn = 1),
        p AS (SELECT x.id, max(list_cosine_similarity(bx.f, by.f)) AS maxcos,
                min(CASE WHEN list_cosine_similarity(bx.f, by.f) >= $tau
                         THEN y.id END) AS dup_of
              FROM a x JOIN a y ON x.cluster = y.cluster AND y.id < x.id
              JOIN b bx ON bx.id = x.id JOIN b by ON by.id = y.id
              GROUP BY x.id)
        SELECT a.id AS vec_id, a.cluster, p.dup_of,
               round(p.maxcos, 4) AS max_prior_cos,
               p.dup_of IS NULL AS keep
        FROM a LEFT JOIN p USING (id) ORDER BY vec_id"""
  }

  /** q206 oracle: [[semDedupSql]]'s clustering CTEs with the pair join
    * restricted to batch (odd vec_ids) × corpus (even vec_ids) — every
    * corpus member is prior, so no id-ordering condition inside the pair. */
  private def semDedupProbeSql(k: Int, dims: Int, tau: Double): String = {
    val d2 = (1 to dims).map(i => s"(b.v[$i]-c0.c[$i])*(b.v[$i]-c0.c[$i])").mkString(" + ")
    s"""WITH b AS (SELECT vec_id AS id, embedding[1:$dims]::DOUBLE[] AS v,
                     embedding::DOUBLE[] AS f
                   FROM embeddings),
        c0 AS (SELECT id AS j, v AS c FROM b WHERE id < $k),
        s1 AS (SELECT b.id, c0.j, $d2 AS d FROM b CROSS JOIN c0),
        a AS (SELECT id, j AS cluster FROM (
                SELECT id, j, row_number() OVER (PARTITION BY id
                  ORDER BY d ASC, j ASC) AS rn FROM s1) t
              WHERE rn = 1),
        batch AS (SELECT * FROM a WHERE id % 2 = 1),
        corp AS (SELECT * FROM a WHERE id % 2 = 0),
        p AS (SELECT x.id, max(list_cosine_similarity(bx.f, by.f)) AS maxcos,
                min(CASE WHEN list_cosine_similarity(bx.f, by.f) >= $tau
                         THEN y.id END) AS dup_of
              FROM batch x JOIN corp y ON x.cluster = y.cluster
              JOIN b bx ON bx.id = x.id JOIN b by ON by.id = y.id
              GROUP BY x.id)
        SELECT batch.id AS vec_id, batch.cluster, p.dup_of,
               round(p.maxcos, 4) AS max_corpus_cos,
               p.dup_of IS NULL AS keep
        FROM batch LEFT JOIN p USING (id) ORDER BY vec_id"""
  }

  /** Shared q191/q197 oracle CTEs: the DSIR hashed-unigram pipeline up to
    * the per-document weight `pd(doc_id, n_toks, wt)` — see
    * [[graft.operators.Sampling.dsirWeights]] for the contract. */
  private val dsirCtes: String =
    """tb AS (
           SELECT doc_id, lang = 'en' AS t,
             (length(term)*31 + ascii(term)) % 64 AS b
           FROM (SELECT doc_id, lang,
                   unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> len(x) > 0)) AS term
                 FROM documents) s),
         hist AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS ct,
                    sum(CASE WHEN t THEN 0 ELSE 1 END)::BIGINT AS cr
                  FROM tb GROUP BY b),
         tot AS (SELECT sum(ct)::BIGINT AS tt, sum(cr)::BIGINT AS tr FROM hist),
         llr AS (SELECT g.b::INT AS b,
                   CAST(ln((coalesce(h.ct, 0) + 1.0) / (tot.tt + 64.0))
                      - ln((coalesce(h.cr, 0) + 1.0) / (tot.tr + 64.0))
                     AS DECIMAL(28,15)) AS w
                 FROM range(64) g(b) LEFT JOIN hist h ON h.b = g.b CROSS JOIN tot),
         dc AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM tb GROUP BY doc_id, b),
         pd AS (SELECT dc.doc_id, sum(dc.c)::BIGINT AS n_toks,
                  CAST(sum(CAST(dc.c AS DECIMAL(9,0)) * llr.w) AS DOUBLE) AS wt
                FROM dc JOIN llr USING (b) GROUP BY dc.doc_id)"""

  /** q198 oracle: MMR replayed with the greedy loop UNROLLED as one CTE
    * chain per pick — relevance and pairwise cosines round to 6 dp before
    * any scoring (same as the Scala side), each step scores the remaining
    * candidates as `0.7·rel − 0.3·maxsim-to-picked` (double arithmetic on
    * identical inputs) and picks by (score desc, id asc). */
  private def mmrSql(nq: Int, cands: Int, k: Int): String = {
    val steps = (1 to k).map { i =>
      if (i == 1)
        s"""sc1 AS (SELECT query_id, nbr_id, 0.7*rel - 0.3*0.0 AS score FROM cand),
            pick1 AS (SELECT query_id, nbr_id, score, 1 AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, nbr_id ASC) AS rn FROM sc1) t WHERE rn = 1)"""
      else {
        val selUnion = (1 until i).map(j => s"SELECT query_id, nbr_id FROM pick$j")
          .mkString(" UNION ALL ")
        s"""sel$i AS ($selUnion),
            sc$i AS (SELECT c.query_id, c.nbr_id,
                0.7*c.rel - 0.3*(SELECT max(p.sim) FROM pairs p
                    JOIN sel$i s ON s.query_id = p.query_id
                                AND s.nbr_id = p.other_id
                    WHERE p.query_id = c.query_id
                      AND p.nbr_id = c.nbr_id) AS score
              FROM cand c
              WHERE NOT EXISTS (SELECT 1 FROM sel$i s
                  WHERE s.query_id = c.query_id AND s.nbr_id = c.nbr_id)),
            pick$i AS (SELECT query_id, nbr_id, score, $i AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, nbr_id ASC) AS rn FROM sc$i) t WHERE rn = 1)"""
      }
    }.mkString(",\n            ")
    val allPicks = (1 to k).map(i => s"SELECT * FROM pick$i").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                   WHERE vec_id < $nq),
        cand AS (SELECT query_id, nbr_id, rel FROM (
            SELECT q.query_id, c.vec_id AS nbr_id,
              round(list_cosine_similarity(
                q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS rel,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(
                    q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                  c.vec_id ASC) AS r
            FROM embeddings c CROSS JOIN q) t WHERE r <= $cands),
        pairs AS (SELECT a.query_id, a.nbr_id, b.nbr_id AS other_id,
              round(list_cosine_similarity(
                ca.embedding::DOUBLE[], cb.embedding::DOUBLE[]), 6) AS sim
            FROM cand a JOIN cand b
              ON a.query_id = b.query_id AND a.nbr_id <> b.nbr_id
            JOIN embeddings ca ON ca.vec_id = a.nbr_id
            JOIN embeddings cb ON cb.vec_id = b.nbr_id),
        $steps
        SELECT query_id, nbr_id, round(score, 6) AS mmr_score, rank
        FROM ($allPicks) u ORDER BY query_id, rank"""
  }

  /** q200/q201 oracle CTEs: logistic-regression training replayed
    * iteration-by-iteration — hashed-bucket features (the q191 portable
    * hash), decimal-exact margins/gradients, 12-dp inter-iteration weight
    * rounding (the pageRank-oracle pattern), sigmoid on decimal-exact
    * inputs. Ends with CTE `w$iterations` holding (b, w). */
  /** q268/q269's shared candidate pairs: customer-name prefix blocks with
    * three field-agreement indicators (nation, segment, balance sign). */
  private def fsPairs(customer: DataFrame): DataFrame = {
    val c = customer.select(col("c_custkey").as("k"),
      substring(col("c_name"), 1, 16).as("blk"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      (col("c_acctbal") >= 0).as("pos"))
    val a = c.select(col("k").as("ka"), col("blk"), col("nk").as("nka"),
      col("seg").as("sega"), col("pos").as("posa"))
    val b = c.select(col("k").as("kb"), col("blk"), col("nk").as("nkb"),
      col("seg").as("segb"), col("pos").as("posb"))
    a.join(b, Seq("blk")).filter(col("ka") < col("kb"))
      .select((col("nka") === col("nkb")).as("nation_agree"),
        (col("sega") === col("segb")).as("segment_agree"),
        (col("posa") === col("posb")).as("balance_agree"))
  }

  /** Fellegi–Sunter EM replay for the q268/q269 oracles: customer-block
    * candidate pairs → 3-field agreement-pattern counts → `iterations`
    * E/M steps as chained CTEs, mirroring `Linkage.fsEm`'s arithmetic
    * exactly (left-assoc field products, su = tot − sw, the
    * [1e-6, 1−1e-6] clamps). Final CTE `s$iterations` carries
    * (m1..m3, u1..u3, lam); `p` carries the pattern counts. Field order:
    * g1 = nation, g2 = segment, g3 = balance sign. */
  private def fsCtes(iterations: Int): String = {
    def pm(src: String, pre: String) =
      s"""(CASE WHEN g1 THEN $src.${pre}1 ELSE 1 - $src.${pre}1 END)
             * (CASE WHEN g2 THEN $src.${pre}2 ELSE 1 - $src.${pre}2 END)
             * (CASE WHEN g3 THEN $src.${pre}3 ELSE 1 - $src.${pre}3 END)"""
    val base = """cfs AS (SELECT c_custkey k, substring(c_name, 1, 16) blk,
               c_nationkey nk, c_mktsegment seg, (c_acctbal >= 0) pos
             FROM customer),
         prs AS (SELECT (a.nk = b.nk) g1, (a.seg = b.seg) g2,
                   (a.pos = b.pos) g3
                 FROM cfs a JOIN cfs b ON a.blk = b.blk AND a.k < b.k),
         p AS (SELECT g1, g2, g3, count(*)::BIGINT n FROM prs
               GROUP BY 1, 2, 3),
         s0 AS (SELECT 0.9::DOUBLE m1, 0.9::DOUBLE m2, 0.9::DOUBLE m3,
                  0.1::DOUBLE u1, 0.1::DOUBLE u2, 0.1::DOUBLE u3,
                  0.1::DOUBLE lam)"""
    val iters = (1 to iterations).map { i =>
      val pv = s"s${i - 1}"
      s"""e$i AS (SELECT g1, g2, g3, n,
             ($pv.lam * (${pm(pv, "m")}))
               / ($pv.lam * (${pm(pv, "m")})
                 + (1 - $pv.lam) * (${pm(pv, "u")})) w
           FROM p, $pv),
         s$i AS (SELECT
             least(greatest(sum(CASE WHEN g1 THEN n * w ELSE 0 END)
               / sum(n * w), 0.000001), 0.999999) m1,
             least(greatest(sum(CASE WHEN g2 THEN n * w ELSE 0 END)
               / sum(n * w), 0.000001), 0.999999) m2,
             least(greatest(sum(CASE WHEN g3 THEN n * w ELSE 0 END)
               / sum(n * w), 0.000001), 0.999999) m3,
             least(greatest(sum(CASE WHEN g1 THEN n * (1 - w) ELSE 0 END)
               / (sum(n) - sum(n * w)), 0.000001), 0.999999) u1,
             least(greatest(sum(CASE WHEN g2 THEN n * (1 - w) ELSE 0 END)
               / (sum(n) - sum(n * w)), 0.000001), 0.999999) u2,
             least(greatest(sum(CASE WHEN g3 THEN n * (1 - w) ELSE 0 END)
               / (sum(n) - sum(n * w)), 0.000001), 0.999999) u3,
             least(greatest(sum(n * w) / sum(n), 0.000001), 0.999999) lam
           FROM e$i)"""
    }
    (base +: iters).mkString(",\n         ")
  }

  /** q352 oracle: the Cox Breslow-Newton loop replayed as chained CTEs —
    * the [[logregCtes]] deterministic-decimal recipe on survival data.
    * Per iteration: DECIMAL(20,12) scores at the previous 12-dp β, exact
    * per-duration decimal sums, suffix (risk-set) sums via a bounded
    * duration-DESC window, gradient/information from 12-dp-rounded
    * per-event-time terms summed exactly, closed-form 2×2 Newton step,
    * round-12 β — every expression mirrors
    * [[graft.operators.Behavior.coxPH]] verbatim. */
  /** q358 oracle: the raking (IPF) loop replayed as unrolled CTEs — one
    * row-scaling and one column-scaling half-step per iteration, cell
    * masses re-quantized to DECIMAL(28,12) after each half-step so every
    * margin total is an exact decimal sum on both engines. */
  private def rakeCtes(iterations: Int, shares: Seq[(String, Double)])
      : String = {
    val vals = shares.map { case (k, v) => s"('$k', $v::DOUBLE)" }
      .mkString(", ")
    val base = s"""ce AS (SELECT lang r, source c, count(*)::BIGINT n
           FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         nn AS (SELECT sum(n)::BIGINT nt FROM ce),
         kk AS (SELECT count(DISTINCT c)::BIGINT k FROM ce),
         tr (r, sh) AS (VALUES $vals),
         w0 AS (SELECT r, c, n, CAST(n AS DECIMAL(28,12)) w FROM ce)"""
    val iters = (1 to iterations).map { i =>
      val prev = s"w${i - 1}"
      s"""rr$i AS (SELECT r, sum(w) tot FROM $prev GROUP BY 1),
         aa$i AS (SELECT t.r, t.c, t.n,
             CAST(round(CAST(t.w AS DOUBLE)
               * (sh * nt / CAST(tot AS DOUBLE)), 12)
               AS DECIMAL(28,12)) w
           FROM $prev t JOIN rr$i USING (r) JOIN tr USING (r), nn),
         cc$i AS (SELECT c, sum(w) tot FROM aa$i GROUP BY 1),
         w$i AS (SELECT t.r, t.c, t.n,
             CAST(round(CAST(t.w AS DOUBLE)
               * (1.0::DOUBLE / k * nt / CAST(tot AS DOUBLE)), 12)
               AS DECIMAL(28,12)) w
           FROM aa$i t JOIN cc$i USING (c), kk, nn)"""
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** q356 oracle: the Poisson-GLM Newton loop replayed as chained CTEs —
    * the coxCtes shape without risk sets. Every moment (Σy, Σyx, Σμ,
    * Σμx, Σμx²) is an exact decimal/long sum; β re-rounds to 12 dp per
    * iteration; the 2×2 step/SE mirror the driver verbatim. */
  private def poissonCtes(iterations: Int): String = {
    // du MATERIALIZED: referenced by every iteration's score pass (and
    // q375's NB chain on top) — inlining would recompute the per-user
    // groupby once per reference
    val base = """du AS MATERIALIZED (SELECT
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT y,
             CAST((count(*) - 66) / 10.0 AS DECIMAL(8,4)) x0
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY user_id),
         nn AS (SELECT count(*)::BIGINT n, CAST(sum(y) AS DOUBLE) sy,
             CAST(sum(CAST(y AS DECIMAL(12,0)) * x0) AS DOUBLE) syx
           FROM du),
         cb0 AS (SELECT round(ln(sy / n), 12)::DOUBLE b0, 0.0::DOUBLE b1
           FROM nn)"""
    // iterations stepping passes + ONE trailing no-step pass that
    // re-evaluates the Fisher information at the converged β (the
    // driver's SE-at-reported-β convention): SE reads gt{iterations+1}
    val iters = (1 to iterations + 1).map { i =>
      val prev = s"cb${i - 1}"
      s"""sc$i AS (SELECT y, x0,
             CAST(exp(b0 + CAST(x0 AS DOUBLE) * b1) AS DECIMAL(20,12)) mu
           FROM du, $prev),
         gt$i AS (SELECT CAST(sum(mu) AS DOUBLE) h00,
             CAST(sum(mu * x0) AS DOUBLE) h01,
             CAST(sum(mu * x0 * x0) AS DOUBLE) h11
           FROM sc$i)""" +
        (if (i > iterations) "" else s""",
         cb$i AS (SELECT
             round(b0 + (h11 * (sy - h00) - h01 * (syx - h01))
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * (syx - h01) - h01 * (sy - h00))
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, gt$i, nn)""")
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** q370 oracle: the logistic-GLM Newton loop replayed as chained CTEs —
    * the poissonCtes shape with a BOUNDED mean: μ = σ(η) rounds to 12 dp
    * as DECIMAL(14,12) (no overflow mode), gradient moments are exact
    * decimal sums, the IRLS weight terms μ(1−μ)xᵢxⱼ round to 12 dp
    * (computed in double from the shared 12-dp μ) before exact sums,
    * β re-rounds to 12 dp; intercept starts at round₁₂(logit ȳ). The
    * trailing no-step pass prices the SE at the converged β. */
  private def binomialCtes(iterations: Int,
      yExpr: String = """max(CASE WHEN event_type = 'purchase'
             AND value > 80 THEN 1 ELSE 0 END)""",
      extraCols: String = ""): String = {
    val base = s"""du AS (SELECT
             $yExpr::BIGINT y,
             CAST((count(*) - 66) / 10.0 AS DECIMAL(8,4)) x0$extraCols
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY user_id),
         nn AS (SELECT count(*)::BIGINT n, CAST(sum(y) AS DOUBLE) sy,
             CAST(sum(CAST(y AS DECIMAL(12,0)) * x0) AS DOUBLE) syx
           FROM du),
         cb0 AS (SELECT round(ln(sy / (n - sy)), 12)::DOUBLE b0,
             0.0::DOUBLE b1 FROM nn)"""
    def w12(tail: String) =
      "CAST(sum(CAST(round(CAST(mu AS DOUBLE) * (1.0 - CAST(mu AS DOUBLE))" +
        s"$tail, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    val iters = (1 to iterations + 1).map { i =>
      val prev = s"cb${i - 1}"
      s"""sc$i AS (SELECT du.*,
             CAST(round(1.0 / (1.0 + exp(-(b0 + CAST(x0 AS DOUBLE) * b1))),
               12) AS DECIMAL(14,12)) mu
           FROM du, $prev),
         gt$i AS (SELECT CAST(sum(mu) AS DOUBLE) g0m,
             CAST(sum(mu * x0) AS DOUBLE) g1m,
             ${w12(" * 1.0 * 1.0")} h00,
             ${w12(" * 1.0 * CAST(x0 AS DOUBLE)")} h01,
             ${w12(" * CAST(x0 AS DOUBLE) * CAST(x0 AS DOUBLE)")} h11
           FROM sc$i)""" +
        (if (i > iterations) "" else s""",
         cb$i AS (SELECT
             round(b0 + (h11 * (sy - g0m) - h01 * (syx - g1m))
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * (syx - g1m) - h01 * (sy - g0m))
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, gt$i, nn)""")
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** q388 oracle: the gamma-GLM Fisher scoring replayed as chained
    * CTEs — the poissonCtes shape with a CONSTANT information (under
    * the log link the Fisher weight is 1, so XᵀX is computed once in
    * `xx` and every iteration only adds a score reduce); per-row score
    * and Pearson terms round to 12 dp before exact decimal sums,
    * β re-rounds to 12 dp, intercept starts at round₁₂(ln ȳ). */
  private def gammaCtes(iterations: Int): String = {
    val spend = """sum(CASE WHEN event_type = 'purchase' AND value > 0
             THEN CAST(round(value, 2) AS DECIMAL(12,2))
             ELSE CAST(0 AS DECIMAL(12,2)) END)"""
    val base = s"""du AS MATERIALIZED (SELECT
             CAST($spend AS DECIMAL(18,6)) y,
             CAST((count(*) - 66) / 10.0 AS DECIMAL(8,4)) x0
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY user_id
           HAVING $spend > 0),
         nn AS (SELECT count(*)::BIGINT n, CAST(sum(y) AS DOUBLE) sy
           FROM du),
         xx AS (SELECT CAST(count(*) AS DOUBLE) s00,
             CAST(sum(x0) AS DOUBLE) s01,
             CAST(sum(x0 * x0) AS DOUBLE) s11 FROM du),
         dt AS (SELECT s00, s01, s11, s00 * s11 - s01 * s01 det FROM xx),
         cb0 AS (SELECT round(ln(sy / n), 12)::DOUBLE b0, 0.0::DOUBLE b1
           FROM nn)"""
    def s12(expr: String) =
      s"CAST(sum(CAST(round($expr, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    val iters = (1 to iterations).map { i =>
      val prev = s"cb${i - 1}"
      s"""sc$i AS (SELECT y, x0,
             CAST(exp(b0 + CAST(x0 AS DOUBLE) * b1) AS DECIMAL(20,12)) mu
           FROM du, $prev),
         gt$i AS (SELECT
             ${s12("CAST(y AS DOUBLE) / CAST(mu AS DOUBLE) - 1.0")} g0,
             ${s12("(CAST(y AS DOUBLE) / CAST(mu AS DOUBLE) - 1.0)" +
               " * CAST(x0 AS DOUBLE)")} g1
           FROM sc$i),
         cb$i AS (SELECT
             round(b0 + (s11 * g0 - s01 * g1) / det, 12) b0,
             round(b1 + (s00 * g1 - s01 * g0) / det, 12) b1
           FROM $prev, gt$i, dt)"""
    }.mkString(",\n         ")
    // the trailing pass: means at the REPORTED β for the Pearson φ̂
    val trail = s"""scf AS (SELECT y, x0,
             CAST(exp(b0 + CAST(x0 AS DOUBLE) * b1) AS DECIMAL(20,12)) mu
           FROM du, cb$iterations)"""
    s"$base,\n         $iters,\n         $trail"
  }

  /** q392 oracle: the censored-exponential (Poisson-with-exposure)
    * Newton replayed as chained CTEs — the poissonCtes shape with
    * w = t·e^η as the per-row weight, each moment term 12-dp-rounded
    * before its exact decimal sum; β starts at the constant-hazard MLE
    * round₁₂(ln(Σd/Σt)); trailing no-step pass prices the SE at the
    * reported β. */
  private def expAftCtes(iterations: Int): String = {
    val base = """pu AS (SELECT user_id,
             min(floor(epoch(ts) / 3600))::BIGINT f,
             max(floor(epoch(ts) / 3600))::BIGINT l,
             CAST((count(*) - 66) / 10.0 AS DECIMAL(8,4)) x0
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY user_id),
         hz AS (SELECT max(l) hmax FROM pu),
         du AS MATERIALIZED (SELECT (l - f)::BIGINT t,
             (CASE WHEN hmax - l < 24 THEN 0 ELSE 1 END)::BIGINT d, x0
           FROM pu, hz),
         nn AS (SELECT count(*)::BIGINT n, sum(d)::BIGINT sd,
             sum(t)::BIGINT st,
             CAST(sum(CAST(d AS DECIMAL(12,0)) * x0) AS DOUBLE) sdx
           FROM du),
         cb0 AS (SELECT round(ln(CAST(sd AS DOUBLE) / st), 12)::DOUBLE b0,
             0.0::DOUBLE b1 FROM nn)"""
    def t12(expr: String) =
      s"CAST(sum(CAST(round($expr, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    val w = "CAST(t AS DOUBLE) * exp(b0 + CAST(x0 AS DOUBLE) * b1)"
    val iters = (1 to iterations + 1).map { i =>
      val prev = s"cb${i - 1}"
      s"""gt$i AS (SELECT
             ${t12(s"$w * 1.0 * 1.0")} h00,
             ${t12(s"$w * 1.0 * CAST(x0 AS DOUBLE)")} h01,
             ${t12(s"$w * CAST(x0 AS DOUBLE) * CAST(x0 AS DOUBLE)")} h11
           FROM du, $prev)""" +
        (if (i > iterations) "" else s""",
         cb$i AS (SELECT
             round(b0 + (h11 * (sd - h00) - h01 * (sdx - h01))
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * (sdx - h01) - h01 * (sd - h00))
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, gt$i, nn)""")
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** q375 oracle: poissonCtes warm-up (sc5 = means at the converged
    * Poisson cb4), moment α̂ from 12-dp-rounded residual terms, then
    * unrolled NB2 Fisher iterations at fixed α̂ from the Poisson β —
    * every expression mirrors
    * [[graft.operators.LinearModel.negativeBinomialGlm]] verbatim. */
  private def nbCtes(nbIterations: Int): String = {
    // MATERIALIZED cuts the NB subtree off from re-inlining the whole
    // Poisson warm-up chain per reference (DuckDB 1.0 inlines CTEs, so
    // ten chained iterations would otherwise re-evaluate exponentially)
    val alpha = """al AS MATERIALIZED (SELECT round(greatest(0.0,
             CAST(sum(CAST(round((y - CAST(mu AS DOUBLE))
                 * (y - CAST(mu AS DOUBLE)) - CAST(mu AS DOUBLE), 12)
               AS DECIMAL(28,12))) AS DOUBLE)
             / CAST(sum(CAST(round(CAST(mu AS DOUBLE)
                 * CAST(mu AS DOUBLE), 12)
               AS DECIMAL(28,12))) AS DOUBLE)), 12) a
           FROM sc5),
         ncb0 AS MATERIALIZED (SELECT b0, b1 FROM cb4)"""
    def t12(expr: String) =
      s"CAST(sum(CAST(round($expr, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    val iters = (1 to nbIterations + 1).map { i =>
      val prev = s"ncb${i - 1}"
      val res = "(y - CAST(mu AS DOUBLE)) / (1.0 + a * CAST(mu AS DOUBLE))"
      val wt = "CAST(mu AS DOUBLE) / (1.0 + a * CAST(mu AS DOUBLE))"
      s"""ns$i AS (SELECT y, x0,
             CAST(exp(b0 + CAST(x0 AS DOUBLE) * b1) AS DECIMAL(20,12)) mu
           FROM du, $prev),
         ng$i AS (SELECT
             ${t12(s"$res * 1.0")} g0,
             ${t12(s"$res * CAST(x0 AS DOUBLE)")} g1,
             ${t12(s"$wt * 1.0 * 1.0")} h00,
             ${t12(s"$wt * 1.0 * CAST(x0 AS DOUBLE)")} h01,
             ${t12(s"$wt * CAST(x0 AS DOUBLE) * CAST(x0 AS DOUBLE)")} h11
           FROM ns$i, al)""" +
        (if (i > nbIterations) "" else s""",
         ncb$i AS (SELECT
             round(b0 + (h11 * g0 - h01 * g1)
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * g1 - h01 * g0)
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, ng$i)""")
    }.mkString(",\n         ")
    s"${poissonCtes(iterations = 4)},\n         $alpha,\n         $iters"
  }

  private def coxCtes(iterations: Int): String = {
    val base = """pu AS (SELECT user_id,
             min(floor(epoch(ts) / 3600))::BIGINT f,
             max(floor(epoch(ts) / 3600))::BIGINT l,
             (count(*) - 66) / 10.0 xe,
             (sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) - 24) / 10.0 xt
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1),
         hz AS (SELECT max(l) hm FROM pu),
         du AS (SELECT (l - f)::BIGINT life,
             CASE WHEN (hm - l) < 24 THEN 0 ELSE 1 END ev,
             CAST(xe AS DECIMAL(8,4)) x0, CAST(xt AS DECIMAL(8,4)) x1
           FROM pu, hz),
         nn AS (SELECT count(*)::BIGINT n, sum(ev)::BIGINT ne FROM du),
         cb0 AS (SELECT 0.0::DOUBLE b0, 0.0::DOUBLE b1)"""
    def ratio(c: String) = s"CAST($c AS DOUBLE) / CAST(cS0 AS DOUBLE)"
    def term12(expr: String) =
      s"CAST(sum(CAST(round($expr, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    // iterations stepping passes (sc/pl/sf/gt/cb) + ONE trailing no-step
    // pass (sc/pl/sf/gt only) that re-evaluates the information at the
    // converged β — mirroring coxPH's SE-at-reported-β convention, so
    // the SE CTE reads gt{iterations+1} beside cb{iterations}
    val iters = (1 to iterations + 1).map { i =>
      val prev = s"cb${i - 1}"
      s"""sc$i AS (SELECT life, ev, x0, x1,
             CAST(exp(CAST(x0 AS DOUBLE) * b0 + CAST(x1 AS DOUBLE) * b1)
               AS DECIMAL(20,12)) s
           FROM du, $prev),
         pl$i AS (SELECT life, sum(ev)::BIGINT d,
             sum(CAST(ev AS DECIMAL(8,0)) * x0) sx0,
             sum(CAST(ev AS DECIMAL(8,0)) * x1) sx1,
             sum(s) s0, sum(s * x0) s10, sum(s * x1) s11,
             sum(s * x0 * x0) s200, sum(s * x0 * x1) s201,
             sum(s * x1 * x1) s211
           FROM sc$i GROUP BY 1),
         sf$i AS (SELECT *, sum(s0) OVER w cS0, sum(s10) OVER w cS10,
             sum(s11) OVER w cS11, sum(s200) OVER w cS200,
             sum(s201) OVER w cS201, sum(s211) OVER w cS211
           FROM pl$i
           WINDOW w AS (ORDER BY life DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         gt$i AS (SELECT
             CAST(sum(sx0) AS DOUBLE)
               - ${term12(s"d * (${ratio("cS10")})")} g0,
             CAST(sum(sx1) AS DOUBLE)
               - ${term12(s"d * (${ratio("cS11")})")} g1,
             ${term12(s"d * (${ratio("cS200")} - ${ratio("cS10")} * (${ratio("cS10")}))")} h00,
             ${term12(s"d * (${ratio("cS201")} - ${ratio("cS10")} * (${ratio("cS11")}))")} h01,
             ${term12(s"d * (${ratio("cS211")} - ${ratio("cS11")} * (${ratio("cS11")}))")} h11
           FROM sf$i WHERE d > 0)""" +
        (if (i > iterations) "" else s""",
         cb$i AS (SELECT
             round(b0 + (h11 * g0 - h01 * g1)
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * g1 - h01 * g0)
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, gt$i)""")
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

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

  /** q215 oracle: the BPE merge loop replayed as chained CTEs. `v0` is the
    * hapax-pruned word-count table with every word symbolized `|c||c||…|`;
    * step i explodes adjacent symbol pairs of `v{i-1}` weighted by word
    * count, takes the (count desc, left asc, right asc) argmax — a total
    * order, so ties are deterministic — and applies the merge as the same
    * literal left-to-right non-overlapping `replace` Spark runs. All
    * counts are integers; nothing floats. */
  private def bpeCtes(merges: Int, minCount: Long): String = {
    val base =
      s"""bw AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
             FROM documents),
         v0 AS (SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS syms,
                  count(*)::BIGINT AS cnt
                FROM bw GROUP BY word HAVING count(*) >= $minCount)"""
    val iters = (1 to merges).map { i =>
      val prev = s"v${i - 1}"
      s"""e$i AS (SELECT a, cnt, unnest(range(1, len(a))) AS j
             FROM (SELECT string_split(trim(syms, '|'), '||') AS a, cnt
                   FROM $prev) t),
         p$i AS (SELECT a[j] AS l, a[j+1] AS r, CAST(sum(cnt) AS BIGINT) AS pc
             FROM e$i GROUP BY 1, 2),
         m$i AS (SELECT l, r, pc, l || r AS mg FROM p$i
             ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
         v$i AS (SELECT replace(syms, '|' || l || '||' || r || '|',
                    '|' || mg || '|') AS syms, cnt
             FROM $prev CROSS JOIN m$i)"""
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** q194 oracle: PQ + ADC replayed — per-subspace encoding is the same
    * unrolled left-to-right squared-L2 argmin the nearest-centroid kernel
    * runs (ties to the lowest code), codebook j's centroid c IS seed c's
    * j-th subvector, and the per-subspace ADC cells are cast to
    * DECIMAL(30,12) before summing so the total is order-independent on
    * both engines; ranking compares the exact decimals. */
  private def pqSql(m: Int, sub: Int, codes: Int, nq: Int, topk: Int): String = {
    def d2(a: String, b: String, j: String): String =
      (1 to sub).map(i =>
        s"($a.f[$j*$sub+$i]-$b.f[$j*$sub+$i])*($a.f[$j*$sub+$i]-$b.f[$j*$sub+$i])")
        .mkString(" + ")
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS f FROM embeddings),
        seeds AS (SELECT id AS c, f FROM b WHERE id < $codes),
        encd AS (SELECT b.id, g.j, s.c, ${d2("b", "s", "g.j")} AS d
                 FROM b CROSS JOIN range($m) g(j) CROSS JOIN seeds s),
        enc AS (SELECT id, j, c AS code FROM (
                  SELECT id, j, c, row_number() OVER (PARTITION BY id, j
                    ORDER BY d ASC, c ASC) AS rn FROM encd) t WHERE rn = 1),
        q AS (SELECT id AS query_id, f FROM b WHERE id < $nq),
        contrib AS (SELECT q.query_id, e.id AS nbr_id,
                      CAST(${d2("q", "s", "e.j")} AS DECIMAL(30,12)) AS dd
                    FROM enc e JOIN seeds s ON s.c = e.code CROSS JOIN q),
        adc AS (SELECT query_id, nbr_id, sum(dd) AS adc
                FROM contrib GROUP BY query_id, nbr_id),
        r AS (SELECT query_id, nbr_id, adc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY adc ASC, nbr_id ASC) AS rank
              FROM adc)
        SELECT query_id, nbr_id, round(CAST(adc AS DOUBLE), 6) AS adc_dist, rank
        FROM r WHERE rank <= $topk ORDER BY query_id, rank"""
  }

  /** q207 oracle: the IVF+PQ probe replayed end-to-end — list assignment
    * (argmin full-vector squared L2, ties to the lowest list), residual
    * codebooks (the vec_id < `codes` residuals), per-corpus-row encode
    * (argmin subspace residual-vs-codebook L2, ties to the lowest code),
    * probe selection (nProbe nearest lists per query, same distance
    * chain), and the DECIMAL(30,12) ADC sums. Every distance term is
    * `((x−cx)−(s−cs))²` expanded per dimension in the same left-to-right
    * order the kernels accumulate, so assignments, codes and sums are
    * bit-replayable. */
  private def ivfPqSql(lists: Int, m: Int, sub: Int, codes: Int, nq: Int,
      topk: Int, nProbe: Int): String = {
    val dims = m * sub
    // full-vector squared L2 (assignment + probe selection)
    def d2full(a: String, c: String): String =
      (1 to dims).map(i => s"($a.f[$i]-$c.f[$i])*($a.f[$i]-$c.f[$i])")
        .mkString(" + ")
    // subspace-j squared L2 between residuals: x's residual vs seed s's;
    // args are full array refs ("bb.f", "bb.cf", ...)
    def d2res(xf: String, xc: String, sf: String, sc: String, j: String): String =
      (1 to sub).map { i =>
        val t = s"(($xf[$j*$sub+$i]-$xc[$j*$sub+$i])-($sf[$j*$sub+$i]-$sc[$j*$sub+$i]))"
        s"$t*$t"
      }.mkString(" + ")
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS f FROM embeddings),
        cent AS (SELECT id AS l, f FROM b WHERE id < $lists),
        ad AS (SELECT b.id, cent.l, ${d2full("b", "cent")} AS d
               FROM b CROSS JOIN cent),
        a AS (SELECT id, l AS list FROM (
                SELECT id, l, row_number() OVER (PARTITION BY id
                  ORDER BY d ASC, l ASC) AS rn FROM ad) t WHERE rn = 1),
        bb AS (SELECT b.id, b.f, cx.f AS cf, a.list FROM b
               JOIN a ON a.id = b.id JOIN cent cx ON cx.l = a.list),
        ss AS (SELECT id AS c, f, cf FROM bb WHERE id < $codes),
        encd AS (SELECT bb.id, g.j, ss.c,
                   ${d2res("bb.f", "bb.cf", "ss.f", "ss.cf", "g.j")} AS d
                 FROM bb CROSS JOIN range($m) g(j) CROSS JOIN ss),
        enc AS (SELECT id, j, c AS code FROM (
                  SELECT id, j, c, row_number() OVER (PARTITION BY id, j
                    ORDER BY d ASC, c ASC) AS rn FROM encd) t WHERE rn = 1),
        q AS (SELECT id AS query_id, f FROM b WHERE id < $nq),
        qa AS (SELECT q.query_id, cent.l, ${d2full("q", "cent")} AS d
               FROM q CROSS JOIN cent),
        probe AS (SELECT query_id, l AS list FROM (
                    SELECT query_id, l, row_number() OVER (PARTITION BY query_id
                      ORDER BY d ASC, l ASC) AS rn FROM qa) t WHERE rn <= $nProbe),
        qq AS (SELECT q.query_id, probe.list, q.f, cent.f AS cf
               FROM q JOIN probe USING (query_id) JOIN cent ON cent.l = probe.list),
        contrib AS (SELECT qq.query_id, e.id AS nbr_id,
                      CAST(${d2res("qq.f", "qq.cf", "ss.f", "ss.cf", "e.j")}
                        AS DECIMAL(30,12)) AS dd
                    FROM enc e
                    JOIN bb ON bb.id = e.id
                    JOIN qq ON qq.list = bb.list
                    JOIN ss ON ss.c = e.code),
        adc AS (SELECT query_id, nbr_id, sum(dd) AS adc
                FROM contrib GROUP BY query_id, nbr_id),
        r AS (SELECT query_id, nbr_id, adc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY adc ASC, nbr_id ASC) AS rank
              FROM adc)
        SELECT query_id, nbr_id, round(CAST(adc AS DOUBLE), 6) AS adc_dist, rank
        FROM r WHERE rank <= $topk ORDER BY query_id, rank"""
  }

  /** q180 oracle: PageRank replayed iteration-by-iteration — symmetric
    * exact-Jaccard edges (the LSH net is 100%-recall on this corpus, the
    * q127 precedent), decimal-exact contribution sums, constants written
    * as the same literal expressions the Scala side evaluates
    * ((1.0-0.85)/n, 1.0/n), 12-dp inter-iteration rounding. */
  private def pageRankSql(iterations: Int): String = {
    val iterCtes = (1 to iterations).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS id,
             CAST(sum(($prev.rank/deg.deg)::DECIMAL(28,18)) AS DOUBLE) AS s
           FROM e JOIN $prev ON $prev.id = e.src JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r$i AS (SELECT vtx.id,
             round((1.0-0.85)/(SELECT n FROM nv) + 0.85*coalesce(c$i.s, 0.0), 12) AS rank
           FROM vtx LEFT JOIN c$i USING (id))"""
    }.mkString(",\n         ")
    s"""WITH pairs AS (${jaccardPairsSql(0.7)}),
         e AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         vtx AS (SELECT doc_id AS id FROM documents),
         nv AS (SELECT count(*)::BIGINT AS n FROM vtx),
         deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         r0 AS (SELECT id, 1.0/(SELECT n FROM nv) AS rank FROM vtx),
         $iterCtes
         SELECT id AS doc_id, round(rank, 6) AS rank FROM r$iterations
         ORDER BY doc_id"""
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

  /** Shared q276/q277 oracle scaffold — the brandRecEval scenario plus the
    * trec_eval metric algebra, ending at a CTE `m(c, n_ranked, n_rel, dcg,
    * idcg, ndcg, ap, rr)` for the per-query (q276) and corpus-mean (q277)
    * finals to select from. */
  private def rankingEvalSql: String =
    """WITH base AS (
         SELECT o.o_custkey c, p.p_brand b, o.o_orderdate::DATE d,
                l.l_extendedprice * (1 - l.l_discount) rev
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN part p ON l.l_partkey = p.p_partkey
         WHERE o.o_custkey % 20 = 1),
       res AS (
         SELECT c, b, r FROM (
           SELECT c, b, row_number() OVER (PARTITION BY c
             ORDER BY round(sum(rev), 2) DESC, b ASC) r
           FROM base WHERE d < DATE '1998-06-01' GROUP BY c, b) rk
         WHERE r <= 10),
       rel AS (
         SELECT c, b, least(count(*), 4)::DOUBLE rel
         FROM base WHERE d >= DATE '1998-06-01' GROUP BY c, b),
       scored AS (
         SELECT res.c, res.r, coalesce(rel.rel, 0) rel,
           (pow(2, coalesce(rel.rel, 0)) - 1) / log2(res.r + 1) gain,
           sum(CASE WHEN coalesce(rel.rel, 0) > 0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY res.c ORDER BY res.r) cumrel
         FROM res LEFT JOIN rel ON res.c = rel.c AND res.b = rel.b),
       ranked AS (
         SELECT c, count(*)::BIGINT n_ranked, sum(gain) dcg,
           sum(CASE WHEN rel > 0 THEN cumrel::DOUBLE / r ELSE 0 END) apnum,
           min(CASE WHEN rel > 0 THEN r END) firstrel
         FROM scored GROUP BY c),
       ideal AS (
         SELECT c, count(*)::BIGINT n_rel,
           sum(CASE WHEN ir <= 10 THEN (pow(2, rel) - 1) / log2(ir + 1)
               ELSE 0 END) idcg
         FROM (SELECT c, rel, b, row_number() OVER (PARTITION BY c
                 ORDER BY rel DESC, b ASC) ir FROM rel) iq
         GROUP BY c),
       m AS (
         SELECT ranked.c, n_ranked, coalesce(n_rel, 0)::BIGINT n_rel, dcg,
           coalesce(idcg, 0) idcg,
           CASE WHEN idcg > 0 THEN dcg / idcg END ndcg,
           CASE WHEN n_rel > 0 THEN apnum / least(n_rel, 10) END ap,
           CASE WHEN firstrel IS NOT NULL THEN 1.0 / firstrel END rr
         FROM ranked LEFT JOIN ideal ON ranked.c = ideal.c)
    """

  /** DuckDB list literal for a stopword list — interpolated into the q27
    * oracle from [[TextFunctions.stopwords]] so query and oracle can never
    * drift. */
  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB-runnable oracle per SQL-expressible query (driver runs these on
    * the same parquet tables at sf0.01). Omitted keys → rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS sum_base_price,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_expression" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
         FROM lineitem
         WHERE (l_quantity > 45.0 AND l_discount <= 0.02)
            OR (l_returnflag = 'R' AND l_quantity < 5.0)
         ORDER BY l_orderkey, l_linenumber""",
    "q03_filter_in_list" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem
         WHERE l_returnflag IN ('A', 'R') AND l_linenumber IN (1, 2)
           AND l_quantity >= 48.0
         ORDER BY l_orderkey, l_linenumber""",
    "q04_project_index" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q05_join_revenue_nation" ->
      """SELECT n_name,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q06_join_broadcast_part" ->
      """SELECT p_brand, count(*) AS n_items,
         round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE / count(*), 4) AS avg_price,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",
    "q07_topk_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",
    "q08_global_sort" ->
      """SELECT l_partkey, l_orderkey, l_linenumber, l_quantity
         FROM lineitem ORDER BY l_partkey, l_orderkey, l_linenumber""",
    "q09_tall_concat" ->
      """SELECT * FROM (
           SELECT l_orderkey, l_linenumber, l_quantity, NULL::DOUBLE AS l_discount
           FROM lineitem WHERE l_quantity > 45.0
           UNION ALL
           SELECT l_orderkey, l_linenumber, NULL::DOUBLE AS l_quantity, l_discount
           FROM lineitem WHERE l_discount < 0.01) t
         ORDER BY l_orderkey, l_linenumber, coalesce(l_quantity, -1.0)""",
    "q10_wide_concat" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
         FROM customer ORDER BY c_custkey""",
    "q11_concat_with_df" ->
      """SELECT c_custkey, c_mktsegment,
         CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'AUTOMOBILE' THEN 2
           WHEN 'MACHINERY' THEN 3 WHEN 'HOUSEHOLD' THEN 4
           WHEN 'FURNITURE' THEN 5 END AS segment_code
         FROM customer ORDER BY c_custkey""",
    "q12_reindex" ->
      """SELECT r.range AS c_nationkey, agg.n_cust,
                coalesce(agg.total_bal, 'NaN'::DOUBLE) AS total_bal
         FROM range(0, 30) r
         LEFT JOIN (
           SELECT c_nationkey::BIGINT AS ck, count(*) AS n_cust,
                  round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2)::DOUBLE AS total_bal
           FROM customer GROUP BY 1) agg
         ON r.range = agg.ck
         ORDER BY c_nationkey""",
    "q13_dedup_first_wins" ->
      """SELECT user_id, event_id, event_type, round(value, 2) AS value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id""",
    "q14_dedup_exact_groups" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS group_size
         FROM documents GROUP BY text ORDER BY keeper_id""",
    "q15_window_running" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q16_rank_per_group" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price, rank
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
               FROM orders) t
         WHERE rank <= 3 ORDER BY o_custkey, rank""",
    // per-column stats blocks are generated (identical SQL per column);
    // `hist` mirrors ColumnProfiler's fixed-width bins: edges at min/max,
    // bucket = least(9, greatest(0, floor((v-lo)/width*10))), zero-filled
    // via the range(10) left join, identical IEEE double arithmetic on
    // both engines
    "q17_profile_stats" -> profileStatsSql,
    // batched-merge profiling must be value-identical to the single pass
    "q154_profile_batched" -> profileStatsSql,
    "q18_compare_diff" ->
      """SELECT
         ((SELECT count(*) FROM orders WHERE o_totalprice > 100000)
          - (SELECT count(*) FROM orders WHERE o_totalprice > 150000))::BIGINT AS only_in_left,
         0::BIGINT AS only_in_right,
         (SELECT count(*) FROM orders WHERE o_totalprice > 150000)::BIGINT AS in_both""",
    "q19_text_stats" ->
      """SELECT doc_id, length(text) AS text_len,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             x -> len(x) > 0)) AS n_tokens,
         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
         FROM documents ORDER BY doc_id""",
    "q20_ngram_jaccard" -> jaccardPairsSql(0.7),
    // Prefix filtering is exact-recall by the AllPairs lemma, so the
    // oracle is the same exact pair set q20 checks against
    "q182_prefix_filter_jaccard" -> jaccardPairsSql(0.7),
    // Sorted-neighborhood: total order (c_name, c_custkey), each record
    // vs its 3 successors, exact integer edit distance <= 1
    "q183_sorted_neighborhood" ->
      """WITH r AS (SELECT c_custkey AS id, c_name AS key,
                      row_number() OVER (ORDER BY c_name, c_custkey) AS rn
                    FROM customer),
         p AS (SELECT a.id AS ia, b.id AS ib, a.key AS ka, b.key AS kb
               FROM r a JOIN r b ON b.rn - a.rn IN (1, 2, 3))
         SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
                levenshtein(ka, kb)::INT AS dist
         FROM p
         WHERE abs(length(ka) - length(kb)) <= 1 AND levenshtein(ka, kb) <= 1
         ORDER BY id_a, id_b""",
    "q25_minhash_lsh" -> jaccardPairsSql(0.7),
    "q26_simhash_pairs" -> jaccardPairsSql(0.8),
    "q21_knn_bruteforce" -> knnExactSql,
    // One Lloyd step replayed dimension-by-dimension (see kmeansSql)
    "q179_kmeans_lloyd" -> kmeansSql(k = 4, dims = 8),
    // kmeansCtes + decimal-exact m2 centroids + the 12-dp per-point
    // quantization before the cluster means
    "q359_silhouette" -> silhouetteSql(k = 4, dims = 8),
    // the planted transform IS the expected answer: Jacobi lands within
    // ~1e-13 of the exact permutation/sign matrix, so the 6-dp rounding
    // snaps to these literals
    "q362_procrustes" -> {
      val cells = for (i <- 0 until 8; j <- 0 until 8) yield {
        val v =
          if (i == (j + 3) % 8) (if (j % 2 == 1) -1.0 else 1.0) else 0.0
        s"($i, $j, $v::DOUBLE)"
      }
      s"""SELECT i, j, r + 0.0 AS r
         FROM (VALUES ${cells.mkString(", ")}) t(i, j, r)
         ORDER BY i, j"""
    },
    // SemDeDup: seed-centroid assignment + within-cluster cosine (see
    // semDedupSql; tau in an empirical gap, so the >= compare is ulp-safe)
    "q189_semdedup" -> semDedupSql(k = 8, dims = 8, tau = 0.42),
    // same clustering CTEs, batch×corpus pair restriction (stored probe)
    "q206_semdedup_stored" -> semDedupProbeSql(k = 8, dims = 8, tau = 0.42),
    // IVF+PQ residual probe replayed end-to-end (see ivfPqSql)
    "q207_ivfpq_stored" -> ivfPqSql(lists = 8, m = 8, sub = 8, codes = 16,
      nq = 5, topk = 10, nProbe = 3),
    // high_correlation alert = |pearson| >= 0.9 against ANY other column
    "q208_correlation_alerts" ->
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
          ORDER BY column_name""",
    // scalar + over numeric non-index columns, index passes through
    "q209_frame_arith" ->
      """SELECT c_custkey, round(c_acctbal + 10.0, 2) AS acctbal_plus10, c_name
         FROM customer ORDER BY c_custkey""",
    // .loc setter visible through the getter: key 7 relabeled, key 8 not
    "q210_loc_indexer" ->
      """SELECT c_custkey,
                CASE WHEN c_custkey = 7 THEN 'RELABELED' ELSE c_mktsegment END
                  AS c_mktsegment,
                c_name
         FROM customer WHERE c_custkey IN (7, 8) ORDER BY c_custkey""",
    // PII replay: identical injection, the SAME ordered redaction chain
    // (URL consumes the email inside it), placeholder-split counting
    "q213_pii_stats" ->
      // the redaction chain is GENERATED from TextClean.piiPatterns (one
      // definition for Spark and the oracle); sums CAST to BIGINT so the
      // oracle engine's integer-sum widening (HUGEINT in DuckDB) cannot
      // change the hashed value text
      s"""WITH inj AS (
           SELECT lang,
                  text
                  || CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || doc_id || '@example.com' ELSE '' END
                  || CASE WHEN doc_id % 11 = 0
                          THEN ' see http://site' || doc_id || '.example/page' ELSE '' END
                  || CASE WHEN doc_id % 13 = 0
                          THEN ' from 10.0.0.' || (doc_id % 255) ELSE '' END AS t
           FROM documents),
         red AS (
           SELECT lang,
                  ${graft.functions.TextClean.redactSqlChain("t")} AS r
           FROM inj),
         cnt AS (
           SELECT lang,
                  len(string_split(r, '<URL>')) - 1 AS u,
                  len(string_split(r, '<EMAIL>')) - 1 AS e,
                  len(string_split(r, '<IP>')) - 1 AS i,
                  len(string_split(r, '<PHONE>')) - 1 AS p
           FROM red)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(u) AS BIGINT) AS n_urls,
                CAST(sum(e) AS BIGINT) AS n_emails,
                CAST(sum(i) AS BIGINT) AS n_ips,
                CAST(sum(CASE WHEN u + e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS docs_with_pii
         FROM cnt GROUP BY lang ORDER BY lang""",
    // seen-bloom admission ≡ exact anti-join (the bloom only routes rows
    // around the join; no false negatives ⇒ identical result)
    "q214_bloom_admit" ->
      """SELECT o_orderkey, o_custkey
         FROM orders b
         WHERE o_orderkey % 10 <> 0
           AND NOT EXISTS (SELECT 1 FROM orders c
                           WHERE c.o_orderkey % 10 = 0
                             AND c.o_custkey = b.o_custkey)
         ORDER BY o_orderkey""",
    // BPE merge loop replayed as chained CTEs: v0 is the pruned
    // word-count table symbolized with pipe delimiters; each step
    // recomputes pair statistics from v{i-1}, takes the same total-order
    // argmax, applies the same literal replace. Integer counts and a
    // total argmax order — the replay is exact
    "q215_bpe_train" ->
      s"""WITH ${bpeCtes(merges = 6, minCount = 2L)}
         SELECT * FROM (
           ${(1 to 6).map(i =>
        s"""SELECT $i AS step, l AS "left", r AS "right", pc AS pair_count,
               mg AS merged FROM m$i""").mkString("\n           UNION ALL ")}
         ) u ORDER BY step""",
    // BPE train-then-apply: the same 6-merge replay, then every word
    // re-encoded through the learned chain (the m1…m6 rows applied as the
    // same sequential literal replaces) and symbol counts rolled up per
    // language. Pipe counting: a word with n symbols carries exactly 2n
    // pipes, so n = (len − len-without-pipes)/2 — integer-exact
    "q216_bpe_fertility" ->
      s"""WITH ${bpeCtes(merges = 6, minCount = 2L)},
         d0 AS (SELECT lang,
                  unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                FROM documents),
         s0 AS (SELECT lang, regexp_replace(w, '(.)', '|\\1|', 'g') AS e
                FROM d0),
         ${(1 to 6).map(i =>
        s"""s$i AS (SELECT lang, replace(e, '|' || m$i.l || '||' || m$i.r || '|',
                  '|' || m$i.mg || '|') AS e
                FROM s${i - 1} CROSS JOIN m$i)""").mkString(",\n         ")}
         SELECT lang, count(*)::BIGINT AS n_words,
           CAST(sum(CAST((len(e) - len(replace(e, '|', ''))) / 2 AS BIGINT))
             AS BIGINT) AS n_subwords,
           round(sum(CAST((len(e) - len(replace(e, '|', ''))) / 2 AS BIGINT))
                 / count(*)::DOUBLE, 4) AS fertility
         FROM s6 GROUP BY lang ORDER BY lang""",
    // SQ8 replay: same scale, same ⌊x/s + 0.5⌋ clamp, cosine over the
    // integer code vectors (scale cancels; sums integer-exact)
    "q212_int8_quant" ->
      """WITH qt AS (
           SELECT vec_id,
                  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127
                    AS scale,
                  embedding::DOUBLE[] AS e
           FROM embeddings),
         codes AS (
           SELECT vec_id, scale,
                  CASE WHEN scale = 0
                       THEN list_transform(e, x -> 0.0)
                       ELSE list_transform(e, x ->
                              greatest(-127, least(127, floor(x / scale + 0.5))))
                  END AS c
           FROM qt)
         SELECT query_id, q_scale, nbr_id, round(cos, 4) AS cosine, rank FROM (
           SELECT q.vec_id AS query_id, round(q.scale, 6) AS q_scale,
                  t.vec_id AS nbr_id,
                  list_cosine_similarity(q.c, t.c) AS cos,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.c, t.c) DESC,
                             t.vec_id ASC) AS rank
           FROM codes t CROSS JOIN (SELECT * FROM codes WHERE vec_id < 5) q) z
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // skewed = population |g1| > 20; imbalance = 1 − H/ln k > 0.5 over
    // value counts; dup_rows = any repeated full row (replayed from data,
    // same formulas, thresholds far from the computed margins)
    "q211_shape_alerts" ->
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
          ORDER BY column_name""",
    // PQ encode + ADC search replayed subspace-by-subspace (see pqSql)
    "q194_pq_adc" -> pqSql(m = 8, sub = 8, codes = 16, nq = 5, topk = 10),
    // the stored-codes probe computes identical ADC distances (q194)
    "q196_pq_stored" -> pqSql(m = 8, sub = 8, codes = 16, nq = 5, topk = 10),
    // MMR greedy unrolled step-by-step (see mmrSql)
    "q198_mmr_rerank" -> mmrSql(nq = 5, cands = 20, k = 5),
    // Logreg training replayed per iteration (see logregCtes)
    "q200_logreg_train" ->
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)}
         SELECT b AS bucket, round(w, 6) AS weight FROM w4 ORDER BY bucket""",
    // Rank-AUC (Mann–Whitney, average ranks — dyadic rationals, so every
    // sum is float-exact) + confusion at 0.5 over the scored table
    "q202_model_eval" ->
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
         FROM a""",
    // Reliability bins over the scored table: decile bins on the 4-dp
    // scores, decimal-exact bin means, integer-exact observed rates
    "q203_reliability" ->
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
         FROM scored GROUP BY 1 ORDER BY bin""",
    // Score gate: threshold = rank-⌈n/2⌉ score under (score desc, id asc);
    // tie overshoot reported, not hidden
    "q205_score_gate" ->
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
         FROM scored""",
    // PR/ROC curve over the scored table: cumulative kept/tp under
    // score-desc (distinct scores, so the RANGE default frame ≡ ROWS),
    // rates derived from integer-exact counts
    "q217_pr_curve" ->
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
         FROM cum CROSS JOIN tot ORDER BY threshold DESC""",
    // ... and the trained model applied per document
    "q201_logreg_score" ->
      s"""WITH ${logregCtes(iterations = 4, buckets = 64, lr = 100.0)},
         mf AS (SELECT xc.doc_id,
               CAST(sum(CAST(xc.c AS DECIMAL(9,0)) * CAST(w4.w AS DECIMAL(28,12)))
                 AS DOUBLE) AS rawm
             FROM xc JOIN w4 USING (b) GROUP BY xc.doc_id)
         SELECT yv.doc_id, yv.y AS label,
                round(1.0/(1.0 + exp(-(coalesce(mf.rawm, 0.0) / yv.len))), 4) AS score
         FROM yv LEFT JOIN mf USING (doc_id)
         ORDER BY doc_id""",
    // Two PageRank iterations replayed exactly (see pageRankSql)
    "q180_pagerank_neardup" -> pageRankSql(iterations = 2),
    // Triangles by ordered two-join enumeration over exact-Jaccard edges;
    // integer counts, one engine-exact double division for the coefficient
    "q181_triangle_stats" ->
      s"""WITH pairs AS (${jaccardPairsSql(0.7)}),
          canon AS (SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
                    FROM pairs WHERE id_a <> id_b),
          deg AS (SELECT id, count(*)::BIGINT AS degree FROM (
                    SELECT a AS id FROM canon UNION ALL SELECT b FROM canon) t
                  GROUP BY id),
          tris AS (SELECT e1.a, e1.b, e2.b AS c
                   FROM canon e1 JOIN canon e2 ON e1.b = e2.a
                   WHERE EXISTS (SELECT 1 FROM canon e3
                                 WHERE e3.a = e1.a AND e3.b = e2.b)),
          pv AS (SELECT id, count(*)::BIGINT AS n_triangles FROM (
                   SELECT a AS id FROM tris
                   UNION ALL SELECT b FROM tris
                   UNION ALL SELECT c FROM tris) t
                 GROUP BY id)
          SELECT deg.id AS doc_id, deg.degree,
                 coalesce(pv.n_triangles, 0)::BIGINT AS n_triangles,
                 CASE WHEN deg.degree < 2 THEN 0.0
                      ELSE round(2.0 * coalesce(pv.n_triangles, 0)
                                 / (deg.degree * (deg.degree - 1)), 6)
                 END AS clustering
          FROM deg LEFT JOIN pv ON pv.id = deg.id
          ORDER BY doc_id""",
    // Recall@10 of the 4-dim prefix vs exact: both rankings replicated
    // with the same index-order double cosine; per-query hit counts are
    // exact integers
    "q178_ann_recall" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding
                    FROM embeddings WHERE vec_id < 50),
         ap AS (SELECT query_id, nbr_id FROM (
                  SELECT q.query_id, c.vec_id AS nbr_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY list_cosine_similarity(
                          q.embedding[1:4]::DOUBLE[], c.embedding[1:4]::DOUBLE[]) DESC,
                        c.vec_id ASC) AS r
                  FROM embeddings c CROSS JOIN q) t WHERE r <= 10),
         ex AS (SELECT query_id, nbr_id FROM (
                  SELECT q.query_id, c.vec_id AS nbr_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY list_cosine_similarity(
                          q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS r
                  FROM embeddings c CROSS JOIN q) t WHERE r <= 10)
         SELECT ex.query_id, count(ap.nbr_id)::BIGINT AS n_hit,
                round(count(ap.nbr_id) / 10.0, 4) AS recall
         FROM ex LEFT JOIN ap
           ON ex.query_id = ap.query_id AND ex.nbr_id = ap.nbr_id
         GROUP BY ex.query_id ORDER BY ex.query_id""",
    // Two-stage Matryoshka retrieval: stage-1 ranks by the 8-dim prefix
    // cosine (same index-order double arithmetic both engines), stage-2
    // reranks the 20 survivors at full dimension
    "q177_matryoshka_rerank" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding
                    FROM embeddings WHERE vec_id < 10),
         c1 AS (SELECT q.query_id, c.vec_id AS nbr_id,
                  row_number() OVER (PARTITION BY q.query_id
                    ORDER BY list_cosine_similarity(
                        q.embedding[1:8]::DOUBLE[], c.embedding[1:8]::DOUBLE[]) DESC,
                      c.vec_id ASC) AS crank
                FROM embeddings c CROSS JOIN q),
         cand AS (SELECT query_id, nbr_id FROM c1 WHERE crank <= 20),
         r AS (SELECT cand.query_id, cand.nbr_id,
                 list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
                 row_number() OVER (PARTITION BY cand.query_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                     cand.nbr_id ASC) AS rank
               FROM cand
               JOIN embeddings c ON c.vec_id = cand.nbr_id
               JOIN q ON q.query_id = cand.query_id)
         SELECT query_id, nbr_id, round(cos, 4) AS cosine, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "q22_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value,
         count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "q23_schema_rename" ->
      """SELECT r_regionkey AS region_id, r_name AS region_name
         FROM region ORDER BY region_id""",
    "q24_calc_columns" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) AS disc_price,
         l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // langId / qualityScore / subwordCount re-expressed in DuckDB SQL; the
    // stopword lists are interpolated from TextFunctions.stopwords (single
    // source of truth). Subword boundaries: Spark splits on lookarounds at
    // letter↔digit transitions; RE2 has no lookarounds, so the oracle inserts
    // spaces at transitions (two backref replaces) then splits on non-alnum.
    "q27_lang_quality" -> {
      val langs = TextFunctions.stopwords.toSeq.sortBy(_._1) // de, en, es, fr
      val allStops = TextFunctions.stopwords.values.flatten.toSeq.distinct.sorted
      val scoreCols = langs.map { case (lang, words) =>
        s"len(list_intersect(toks, ${sqlList(words)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_$lang"
      }.mkString(",\n             ")
      val gs = "greatest(s_de, s_en, s_es, s_fr)"
      s"""WITH t AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> len(x) > 0) AS toks
           FROM documents),
         sc AS (
           SELECT doc_id, text, toks,
             $scoreCols,
             len(list_intersect(toks, ${sqlList(allStops)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_all,
             (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
               / greatest(length(text), 1)::DOUBLE AS pr,
             length(regexp_replace(text, '[^\\pL]', '', 'g'))::DOUBLE
               / greatest(length(text), 1)::DOUBLE AS ar
           FROM t)
         SELECT doc_id,
           CASE WHEN $gs = 0 THEN 'und'
                WHEN s_fr = $gs THEN 'fr'
                WHEN s_es = $gs THEN 'es'
                WHEN s_en = $gs THEN 'en'
                ELSE 'de' END AS lang_pred,
           round(least(len(toks)::DOUBLE / 20.0, 1.0) * 0.25
               + greatest(1.0 - pr * 4.0, 0.0) * 0.25
               + ar * 0.25
               + least(s_all * 3.0, 1.0) * 0.25, 6) AS quality,
           len(list_filter(regexp_split_to_array(
                 regexp_replace(regexp_replace(lower(trim(text)),
                   '(\\pL)(\\pN)', '\\1 \\2', 'g'), '(\\pN)(\\pL)', '\\1 \\2', 'g'),
                 '[^\\pL\\pN]+'), x -> len(x) > 0)) AS n_subwords
         FROM sc ORDER BY doc_id"""
    },
    // q29's LSH candidate net (16 bands × 2 bits) empirically contains every
    // true top-5 neighbor at oracle scale, so the re-ranked output equals
    // exact brute force — same oracle as q21.
    // md5 normalization mirror of TextFunctions.tokens: trim → lower →
    // split \s+; shingles = 3-token windows joined by single spaces.
    "q28_fingerprint" ->
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN []
                       ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
           FROM documents)
         SELECT doc_id,
                md5(array_to_string(t, ' ')) AS fp,
                CASE WHEN len(t) >= 3
                     THEN list_aggregate(list_transform(range(1, len(t) - 1),
                          i -> md5(array_to_string(t[i:i+2], ' '))), 'min')
                     ELSE NULL END AS min_shingle_fp,
                CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS n_shingles
         FROM toks ORDER BY doc_id""",
    "q29_lsh_ann" -> knnExactSql,
    "q30_multimodal_features" ->
      """SELECT doc_id AS id, (doc_id % 13 + 4)::INT AS width,
                (doc_id % 7 + 3)::INT AS height, (doc_id % 256)::INT AS gray,
                true AS decoded
         FROM documents ORDER BY id""",
    // exact brute-force cosine pairs: the q31 LSH net (16 bands × 2 bits,
    // per-pair miss ≈ 3e-4 at cosine 0.4) is verified 100%-recall on this
    // corpus, and its exact-cosine verification admits no false positives.
    "q31_embedding_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
         ORDER BY id_a, id_b""",
    // footer value counts are engine-independent facts of the file; DuckDB
    // reads them via parquet_metadata(). The driver runs Verify at sf0.01
    // (contract), so the path is pinned to that scale.
    "q32_memory_report" ->
      """SELECT path_in_schema AS column_name, sum(num_values)::BIGINT AS num_values
         FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')
         GROUP BY 1 ORDER BY 1""",
    // per-column compare status re-derived in SQL: with abs_tol = rel_tol = 0
    // a column is 'different' iff any compared metric (mean, std, min, max,
    // n_missing, p_missing, n_distinct) differs between the two slices.
    // DuckDB compares its own two slices (not Spark's floats), so the
    // equal/different judgment is engine-stable. n_distinct: the query uses
    // deterministic HLL both sides — identical value sets give identical
    // estimates (l_returnflag), and columns with differing sets already
    // differ in mean/min/max, so exact-distinct equality here is faithful.
    "q34_profile_compare" -> {
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
    },
    // block sizes/corners chosen binary-representable → coordinates are
    // exact doubles in both engines, no rounding needed
    "q33_demo_blockmodel" ->
      """SELECT
         100.0 + 1.0 + (r.range // 50) * 2.0 AS x,
         200.0 + 0.5 + ((r.range // 5) % 10) * 1.0 AS y,
         300.0 + 0.25 + (r.range % 5) * 0.5 AS z,
         r.range AS c_order_xyz,
         (r.range % 5) * 200 + ((r.range // 5) % 10) * 20 + (r.range // 50) AS f_order_zyx,
         302.5 - (300.0 + 0.25 + (r.range % 5) * 0.5) AS depth
         FROM range(0, 1000) r ORDER BY c_order_xyz""",

    // ---- round-3 additions ----------------------------------------------
    "q35_tuple_filter" ->
      """SELECT l_quantity, l_orderkey FROM lineitem
         WHERE l_quantity > 49.0 AND l_orderkey < 10000
         ORDER BY l_orderkey, l_quantity""",
    "q36_describe" ->
      """SELECT summary, round(l_quantity, 4) AS l_quantity,
                round(l_discount, 4) AS l_discount FROM (
           SELECT 'count' AS summary, count(l_quantity)::DOUBLE AS l_quantity,
                  count(l_discount)::DOUBLE AS l_discount FROM lineitem
           UNION ALL SELECT 'mean', avg(l_quantity), avg(l_discount) FROM lineitem
           UNION ALL SELECT 'stddev', stddev_samp(l_quantity), stddev_samp(l_discount) FROM lineitem
           UNION ALL SELECT 'min', min(l_quantity), min(l_discount) FROM lineitem
           UNION ALL SELECT 'max', max(l_quantity), max(l_discount) FROM lineitem) t
         ORDER BY summary""",
    "q37_query_passthrough" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price, o_orderstatus
         FROM orders
         WHERE o_totalprice >= 400000.0 AND o_orderstatus = 'F'
         ORDER BY o_orderkey""",
    "q38_referenced_columns" ->
      """SELECT col_name FROM (VALUES ('l_discount'), ('l_quantity'), ('l_returnflag')) t(col_name)
         ORDER BY col_name""",
    // physical type + value count are facts of the file footer; DuckDB reads
    // the same footer. Path pinned to the driver's Verify scale (like q32).
    "q39_footer_schema" ->
      """SELECT path_in_schema AS column_name, min(type::VARCHAR) AS physical_type,
                sum(num_values)::BIGINT AS num_values
         FROM parquet_metadata('/root/testdata/sf0.01/part.parquet')
         GROUP BY 1 ORDER BY 1""",
    "q40_ivf_ann" -> knnExactSql,
    // Stored-layout IVF probe ≡ fused run at nProbe = numLists: exact
    // search either way, so the same brute-force oracle applies; only the
    // plan (partition-pruned list reads) differs — PlanSpec asserts it
    "q188_ivf_stored" -> knnExactSql,
    "q41_sessionize" -> sessionizeSql,
    // the native session_window operator must reproduce the same sessions
    "q166_session_native" -> sessionizeSql,
    // split boundaries interpolated from Sampling.splitThresholdsHex — the
    // md5-hex bucket contract is the single source of truth on both sides
    "q42_hash_split" -> {
      val th = Sampling.splitThresholdsHex(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val cases = th.init.map { case (name, hex) =>
        s"WHEN substring(md5(doc_id::VARCHAR), 1, 4) < '$hex' THEN '$name'"
      }.mkString(" ")
      s"""SELECT doc_id, CASE $cases ELSE '${th.last._1}' END AS split
          FROM documents ORDER BY doc_id"""
    },
    "q43_domain_quota" ->
      """SELECT source, doc_id, n_chars, quota_rank FROM (
           SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS quota_rank
           FROM documents) t
         WHERE quota_rank <= 3 ORDER BY source, quota_rank""",
    "q44_data_mixture" -> {
      val en = Sampling.fractionHex(0.5)
      val rest = Sampling.fractionHex(0.25)
      s"""SELECT doc_id, lang FROM documents
          WHERE (lang = 'en' AND substring(md5('mix:' || doc_id::VARCHAR), 1, 4) < '$en')
             OR (lang <> 'en' AND substring(md5('mix:' || doc_id::VARCHAR), 1, 4) < '$rest')
          ORDER BY doc_id"""
    },
    // asof = left join on v.ts <= p.ts keeping the latest (ties: max view
    // event id) — the O(n·m) oracle formulation of the O(n+m) union-window
    // operator under test
    "q45_asof_join" ->
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
         WHERE rn = 1 ORDER BY event_id""",
    "q46_range_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
             ('neg', -1000.0, 0.0), ('low', 0.0, 3000.0),
             ('mid', 2000.0, 7000.0), ('high', 6000.0, 10000.0)),
           c AS (SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM customer)
         SELECT c_custkey, band, acctbal FROM c
         JOIN bands ON acctbal BETWEEN lo::DOUBLE AND hi::DOUBLE
         ORDER BY c_custkey, band""",
    "q47_pack_sequences" ->
      """SELECT doc_id, n_chars, start_offset, (start_offset // 65536)::BIGINT AS pack_id
         FROM (SELECT doc_id, n_chars,
                 coalesce(sum(n_chars) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
               FROM documents) t
         ORDER BY doc_id""",
    "q48_decontaminate" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
               THEN list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               ELSE []::VARCHAR[] END AS sh
           FROM t),
         te AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 20 = 0),
         tr AS (SELECT doc_id, sh FROM s WHERE doc_id % 20 <> 0),
         hit AS (
           SELECT doc_id, count(*) AS n_hit
           FROM (SELECT doc_id, unnest(sh) AS g FROM tr) x JOIN te USING (g)
           GROUP BY doc_id)
         SELECT tr.doc_id AS train_id, len(tr.sh) AS n_ngrams,
           coalesce(hit.n_hit, 0) AS n_hit,
           round(CASE WHEN len(tr.sh) = 0 THEN 0.0
             ELSE coalesce(hit.n_hit, 0)::DOUBLE / len(tr.sh)::DOUBLE END, 4) AS contam_frac,
           coalesce(hit.n_hit, 0) >= 1 AS contaminated
         FROM tr LEFT JOIN hit USING (doc_id) ORDER BY train_id""",
    "q49_repetition" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE []::VARCHAR[] END AS grams
           FROM t),
         tops AS (
           SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS share
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, unnest(grams) AS gram FROM g) x
                 GROUP BY doc_id, gram) y
           GROUP BY doc_id)
         SELECT g.doc_id, len(g.toks) AS n_tokens,
           round(CASE WHEN len(g.toks) = 0 THEN 0.0
             ELSE len(list_distinct(g.toks))::DOUBLE / len(g.toks)::DOUBLE END, 4)
             AS type_token_ratio,
           round(CASE WHEN len(g.grams) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(g.grams))::DOUBLE / len(g.grams)::DOUBLE END, 4)
             AS dup_ngram_frac,
           round(coalesce(tops.share, 0.0), 4) AS top_ngram_share
         FROM g LEFT JOIN tops USING (doc_id) ORDER BY g.doc_id""",
    "q50_bloom_join" ->
      """SELECT o_orderkey, c_custkey, c_name, round(o_totalprice, 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_acctbal > 9000
         ORDER BY o_orderkey""",
    "q51_zorder_key" -> zorderSql,
    "q52_corpus_pipeline" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE []::VARCHAR[] END AS grams
           FROM t),
         tops AS (
           SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS share
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, unnest(grams) AS gram FROM g) x
                 GROUP BY doc_id, gram) y
           GROUP BY doc_id),
         m AS (
           SELECT g.doc_id,
             CASE WHEN len(g.toks) = 0 THEN 0.0
               ELSE len(list_distinct(g.toks))::DOUBLE / len(g.toks)::DOUBLE END AS ttr,
             coalesce(tops.share, 0.0) AS share
           FROM g LEFT JOIN tops USING (doc_id)),
         te AS (SELECT DISTINCT unnest(grams) AS gm FROM g WHERE doc_id % 20 = 0),
         hit AS (
           SELECT doc_id, count(*) AS n_hit
           FROM (SELECT doc_id, unnest(list_distinct(grams)) AS gm
                 FROM g WHERE doc_id % 20 <> 0) x JOIN te USING (gm)
           GROUP BY doc_id),
         base AS (
           SELECT d.doc_id, d.source, d.n_chars
           FROM documents d
           JOIN m ON d.doc_id = m.doc_id
           LEFT JOIN hit ON d.doc_id = hit.doc_id
           WHERE d.doc_id % 20 <> 0 AND m.ttr >= 0.40 AND m.share <= 0.05
             AND coalesce(hit.n_hit, 0) < 10),
         capped AS (
           SELECT * FROM (
             SELECT base.*, row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS quota_rank
             FROM base) z
           WHERE quota_rank <= 20),
         packed AS (
           SELECT capped.*,
             coalesce(sum(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
           FROM capped)
         SELECT doc_id, source, n_chars, quota_rank,
           (start_offset // 16384)::BIGINT AS pack_id
         FROM packed ORDER BY doc_id""",
    "q53_stratified_sample" ->
      // thresholds are floor(fraction*65536) in hex: 0.8→cccc, 0.5→8000,
      // 0.25→4000, 0.1→1999 (Sampling.fractionHex is the source of truth)
      """SELECT doc_id, source FROM documents
         WHERE substring(md5(doc_id::VARCHAR), 1, 4) <
           CASE source WHEN 'src0' THEN 'cccc' WHEN 'src1' THEN '8000'
                       WHEN 'src2' THEN '4000' ELSE '1999' END
         ORDER BY doc_id""",
    "q54_attribution_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                    FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, event_id AS view_id, ts AS vts
                    FROM events WHERE event_type = 'view')
         SELECT purchase_id, user_id, epoch_us(p.ts) AS purchase_ts_us,
                view_id, epoch_us(vts) AS view_ts_us
         FROM p JOIN v USING (user_id)
         WHERE vts <= p.ts
           AND epoch_us(p.ts) - epoch_us(vts) <= 1800000000
         ORDER BY purchase_id, view_id""",
    "q55_epoch_mixture" ->
      // epoch 0 = full en pass; epoch 1 = en half sample (md5 bucket <
      // 0.5*65536 = 0x8000); non-en gets a single half-sampled epoch 0
      """SELECT doc_id, lang, epoch FROM (
           SELECT doc_id, lang, 0 AS epoch FROM documents WHERE lang = 'en'
           UNION ALL
           SELECT doc_id, lang, 1 FROM documents
           WHERE lang = 'en' AND substring(md5(doc_id::VARCHAR), 1, 4) < '8000'
           UNION ALL
           SELECT doc_id, lang, 0 FROM documents
           WHERE lang <> 'en' AND substring(md5(doc_id::VARCHAR), 1, 4) < '8000') t
         ORDER BY doc_id, epoch""",
    "q56_image_resize" ->
      // mirrors Multimodal.resizeOne: scale = min(1, 32/max(w,h)),
      // dims = max(1, floor(d*scale + 0.5)) — pure IEEE double arithmetic,
      // identical on both engines
      """WITH src AS (
           SELECT doc_id, (20 + doc_id % 80)::INT AS w, (10 + doc_id % 40)::INT AS h
           FROM documents WHERE doc_id <= 200)
         SELECT doc_id,
           CASE WHEN greatest(w, h) <= 32 THEN w
             ELSE greatest(1, CAST(floor(w * (32.0 / greatest(w, h)) + 0.5) AS INT)) END
             AS width,
           CASE WHEN greatest(w, h) <= 32 THEN h
             ELSE greatest(1, CAST(floor(h * (32.0 / greatest(w, h)) + 0.5) AS INT)) END
             AS height,
           true AS resized
         FROM src ORDER BY doc_id""",
    "q57_audio_decode" ->
      // mirrors withGeneratedWav + decodeAudio: sample s_i =
      // trunc(amp * sin(2*pi*f*i/8000) * 32767) / 32768, rms = sqrt(mean(s^2))
      """WITH src AS (
           SELECT doc_id,
             100.0 + (doc_id % 20) * 50.0 AS f,
             (50 + (doc_id % 10) * 10)::INT AS ms,
             0.1 + (doc_id % 9) * 0.1 AS amp
           FROM documents WHERE doc_id <= 200),
         samples AS (
           SELECT doc_id, f, amp,
             unnest(range(0, (8000 * ms / 1000)::BIGINT)) AS i
           FROM src),
         r AS (
           SELECT doc_id,
             sqrt(avg(pow(trunc(amp * sin(2 * pi() * f * i / 8000.0) * 32767.0)
               / 32768.0, 2))) AS rms
           FROM samples GROUP BY doc_id)
         SELECT src.doc_id, 8000 AS sample_rate, 1 AS channels,
           src.ms::BIGINT AS duration_ms, round(r.rms, 4) AS rms, true AS decoded
         FROM src JOIN r USING (doc_id) ORDER BY src.doc_id""",
    "q58_video_frames" ->
      """SELECT doc_id, fi::INT AS frame_index, 16 AS width, 16 AS height,
           ((doc_id * 7 + fi * 13) % 256)::BIGINT AS gray
         FROM (SELECT doc_id, unnest(range(0, 4)) AS fi
               FROM documents WHERE doc_id <= 100) t
         ORDER BY doc_id, frame_index""",
    "q59_text_clean" ->
      // the redaction chain is GENERATED from TextClean.piiPatterns (one
      // definition for Spark and the oracle), then the explicit-class
      // whitespace squash (TextClean.wsClass — `\s` differs between Java
      // regex and RE2 on \x0B)
      s"""WITH synth AS (
           SELECT doc_id,
             substring(text, 1, 40) || ' caf' || 'e' || chr(769) ||
             ' contact user' || doc_id::VARCHAR ||
             '@example.com via https://site' || (doc_id % 7)::VARCHAR ||
             '.io at 10.0.' || (doc_id % 256)::VARCHAR || '.1' AS t
           FROM documents)
         SELECT doc_id,
           trim(regexp_replace(
             ${graft.functions.TextClean.redactSqlChain("nfc_normalize(t)")},
             '[${graft.functions.TextClean.wsClass}]+', ' ', 'g')) AS cleaned
         FROM synth ORDER BY doc_id""",
    "q60_char_ngram" ->
      """WITH s AS (
           SELECT doc_id,
             CASE WHEN length(text) >= 20
               THEN list_distinct(list_transform(range(1, length(text) - 18),
                    i -> substring(text, i, 20)))
               ELSE []::VARCHAR[] END AS sh
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE, 4)
             AS jaccard
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE len(a.sh) > 0 AND len(b.sh) > 0
           AND len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE >= 0.5
         ORDER BY id_a, id_b""",
    "q61_uniform_per_group" ->
      """SELECT source, doc_id, sample_rank FROM (
           SELECT source, doc_id, row_number() OVER (
             PARTITION BY source
             ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS sample_rank
           FROM documents) t
         WHERE sample_rank <= 5
         ORDER BY source, sample_rank""",
    "q62_drop_near_dups" ->
      s"""WITH pairs AS (${jaccardPairsSql(0.7)}),
          losers AS (SELECT DISTINCT id_b FROM pairs)
          SELECT doc_id, source, n_chars FROM documents
          WHERE doc_id NOT IN (SELECT id_b FROM losers)
          ORDER BY doc_id""",
    "q63_neardup_clusters" ->
      s"""WITH RECURSIVE pairs AS (${jaccardPairsSql(0.7)}),
          e AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
          reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)
          SELECT a AS doc_id, min(b) AS component
          FROM reach GROUP BY a ORDER BY doc_id""",
    // Capped n-gram Jaccard: the oracle re-implements the maxDocFreq
    // semantics — shingles with document frequency > 5 are dropped BEFORE
    // pair counting, while jaccard still divides by the full set sizes
    // (Dedup.shingleSetJaccard's documented recall-cap trade-off).
    "q64_ngram_capped" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM s),
         hot AS (SELECT h FROM ex GROUP BY h HAVING count(*) > 5),
         kept AS (SELECT * FROM ex WHERE h NOT IN (SELECT h FROM hot)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sz AS sz_a, b.sz AS sz_b, count(*) AS inter
           FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT id_a, id_b,
           round(inter::DOUBLE / (sz_a + sz_b - inter)::DOUBLE, 4) AS jaccard
         FROM pairs
         WHERE inter::DOUBLE / (sz_a + sz_b - inter)::DOUBLE >= 0.7
         ORDER BY id_a, id_b""",
    // Streaming sessionization, closed-set contract: exactly the batch
    // sessions sealed by the final watermark. The watermark is the
    // ms-floored max event time minus the 30-min delay; a session is
    // sealed when the watermark is strictly past session_end + gap.
    "q65_sessionize_stream" ->
      """WITH e AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM e),
         g AS (
           SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                  count(*) AS n_events, round(sum(value), 2) AS session_value
           FROM s GROUP BY user_id, sid),
         wm AS (SELECT (epoch_ms(max(ts)) - 1800000) * 1000 AS wm_us FROM events)
         SELECT user_id,
           strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events, session_value
         FROM g, wm
         WHERE epoch_us(session_end) + 1800000000 < wm_us
         ORDER BY user_id, session_start""",
    // Streaming dedup over the doubled fixture: each event exactly once
    "q66_dedup_stream" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
         FROM events ORDER BY event_id""",
    // Closed hourly windows only: window end at or below the final
    // watermark (max ts ms-floored minus the 1-hour delay)
    // Streaming PSI replay: same literal-edge bins, same per-hour and
    // overall integer counts, same greatest(share, 1e-6) floors and the
    // same left-to-right psi-term chain; q81's watermark CTE gates which
    // windows closed
    "q221_psi_drift_stream" -> {
      val nb = psiStreamEdges.length + 1
      val binSql = psiStreamEdges.map(e =>
        s"CASE WHEN value > $e THEN 1 ELSE 0 END").mkString(" + ")
      val hourCnts = (0 until nb).map(b =>
        s"sum(CASE WHEN b = $b THEN 1 ELSE 0 END)::BIGINT AS c$b").mkString(", ")
      val baseCnts = (0 until nb).map(b =>
        s"sum(CASE WHEN b = $b THEN 1 ELSE 0 END)::BIGINT AS qc$b").mkString(", ")
      val psiChain = (0 until nb).map(b =>
        s"""(greatest(c$b / n, 1e-6) - greatest(qc$b / qn, 1e-6))
            * ln(greatest(c$b / n, 1e-6) / greatest(qc$b / qn, 1e-6))""")
        .mkString(" + ")
      s"""WITH wm AS (
           SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events),
         ev AS (SELECT ts, ($binSql) AS b FROM events WHERE value IS NOT NULL),
         q AS (SELECT count(*)::BIGINT AS qn, $baseCnts FROM ev),
         h AS (SELECT date_trunc('hour', ts) AS h, count(*)::BIGINT AS n,
                 $hourCnts,
                 epoch_us(date_trunc('hour', ts)) + 3600000000 AS end_us
               FROM ev GROUP BY 1)
         SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n,
           round($psiChain, 6) AS psi
         FROM h CROSS JOIN q, wm WHERE end_us <= wm_us ORDER BY hour"""
    },
    "q81_hourly_stream" ->
      """WITH wm AS (
           SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events),
         g AS (
           SELECT date_trunc('hour', ts) AS h, event_type,
                  count(*) AS n_events, round(sum(value), 4) AS sum_value,
                  epoch_us(date_trunc('hour', ts)) + 3600000000 AS end_us
           FROM events GROUP BY 1, 2)
         SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                n_events, sum_value
         FROM g, wm WHERE end_us <= wm_us
         ORDER BY hour, event_type""",
    // Left-outer stream-stream join: matched pairs are q67's set; an
    // UNMATCHED purchase emits (with null view columns) iff the final
    // GLOBAL watermark passed its timestamp. Each watermark node sees only
    // its filtered stream, so the global value is the MIN of the per-side
    // (ms-floored max − 1 h) watermarks — purchases above it stay in state
    // on a closed input and must be absent
    "q176_attribution_left_stream" ->
      """WITH wm AS (
           SELECT (least(
             (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase'),
             (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'view'))
             - 3600000) * 1000 AS wm_us),
         p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, event_id AS view_id, ts AS vts
               FROM events WHERE event_type = 'view')
         SELECT purchase_id, user_id, epoch_us(p.ts) AS purchase_ts_us,
                view_id, epoch_us(vts) AS view_ts_us
         FROM p JOIN v USING (user_id)
         WHERE vts <= p.ts
           AND epoch_us(p.ts) - epoch_us(vts) <= 1800000000
         UNION ALL
         SELECT purchase_id, p.user_id, epoch_us(p.ts) AS purchase_ts_us,
                NULL::BIGINT AS view_id, NULL::BIGINT AS view_ts_us
         FROM p CROSS JOIN wm
         WHERE epoch_us(p.ts) < wm_us
           AND NOT EXISTS (
             SELECT 1 FROM v
             WHERE v.user_id = p.user_id AND vts <= p.ts
               AND epoch_us(p.ts) - epoch_us(vts) <= 1800000000)
         ORDER BY purchase_id, view_id""",
    // Identical to q54: the both-sided-watermark stream-stream inner join
    // emits every matched pair on a closed input
    "q67_attribution_stream" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                    FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, event_id AS view_id, ts AS vts
                    FROM events WHERE event_type = 'view')
         SELECT purchase_id, user_id, epoch_us(p.ts) AS purchase_ts_us,
                view_id, epoch_us(vts) AS view_ts_us
         FROM p JOIN v USING (user_id)
         WHERE vts <= p.ts
           AND epoch_us(p.ts) - epoch_us(vts) <= 1800000000
         ORDER BY purchase_id, view_id""",
    // MP4 demux: gray per (doc, frame) is the generator's modular formula,
    // recovered losslessly through the png-codec samples
    "q68_mp4_frames" ->
      """SELECT doc_id, 'png ' AS codec, fi::INT AS frame_index,
           16 AS width, 16 AS height,
           ((doc_id * 11 + fi * 17) % 256)::BIGINT AS gray
         FROM (SELECT doc_id, unnest(range(0, 4)) AS fi
               FROM documents WHERE doc_id <= 100) t
         ORDER BY doc_id, frame_index""",
    // Messy-lake read: v1 files (doc_id <= 50) carry no n_chars column, so
    // it reads NULL there; the junk file contributes nothing
    "q175_evolving_read" ->
      """SELECT lang, count(*) AS n_docs,
                count(CASE WHEN doc_id > 50 THEN n_chars END) AS n_v2,
                sum(CASE WHEN doc_id > 50 THEN n_chars END)::BIGINT AS sum_chars
         FROM documents WHERE doc_id <= 100
         GROUP BY lang ORDER BY lang""",
    // Interaction grid: identical IEEE binning expression on both engines
    // ((x−lo)/(hi−lo)·bins, floored and clamped) over exact min/max
    // bounds, so integer bin counts match exactly
    "q174_interaction_grid" ->
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
         ORDER BY col_a, col_b, bin_x, bin_y""",
    // Motion-JPEG demux: gray survives the lossy codec exactly on uniform
    // frames (DC-only blocks, chroma zero; verified for all 256 levels in
    // MultimodalSpec), so the oracle is q68's formula with the Motion-JPEG
    // sample-entry fourcc
    "q173_mjpeg_frames" ->
      """SELECT doc_id, 'jpeg' AS codec, fi::INT AS frame_index,
           16 AS width, 16 AS height,
           ((doc_id * 11 + fi * 17) % 256)::BIGINT AS gray
         FROM (SELECT doc_id, unnest(range(0, 4)) AS fi
               FROM documents WHERE doc_id <= 100) t
         ORDER BY doc_id, frame_index""",
    // Line dedup over the derived multi-line twin: lines are 8-token
    // windows at stride 8 plus a boilerplate line in every doc
    // (range(0, len/8) generates exactly the kernel's (len-8)/8+1 windows);
    // a line is struck everywhere when its distinct-doc frequency exceeds 2.
    "q69_line_dedup" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ml AS (
           SELECT doc_id, list_concat(
             list_transform(range(0, CAST(floor(len(toks) / 8) AS BIGINT)),
               i -> array_to_string(toks[8*i+1 : 8*i+8], ' ')),
             ['subscribe to our newsletter today']) AS lines
           FROM t),
         lines AS (
           SELECT doc_id, i + 1 AS pos, lines[i + 1] AS line
           FROM ml, unnest(range(0, len(lines))) AS u(i)),
         hot AS (
           SELECT line FROM lines GROUP BY line
           HAVING count(DISTINCT doc_id) > 2),
         kept AS (
           SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot)),
         reb AS (
           SELECT doc_id, count(*) AS n_lines_kept,
                  string_agg(line, chr(10) ORDER BY pos) AS text_dedup
           FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, len(lines) AS n_total FROM ml)
         SELECT tot.doc_id,
                coalesce(reb.text_dedup, '') AS text_dedup,
                coalesce(reb.n_lines_kept, 0)::BIGINT AS n_lines_kept,
                (tot.n_total - coalesce(reb.n_lines_kept, 0))::BIGINT AS n_lines_dropped
         FROM tot LEFT JOIN reb USING (doc_id)
         ORDER BY doc_id""",
    // Incremental near-dup: exact cross-parity Jaccard (odd = new batch,
    // even = historical corpus); recall argument as q25 — banding is a
    // per-row projection, so the cross-parity candidate net is the q25 net
    // restricted to odd×even pairs.
    // Extraction rollups recomputed from the source tables: the engine
    // side reads parquet EXTRACTED from a zip and a 7z, so any byte damage
    // in the archive round-trip breaks the hash match
    "q185_archive_extract" ->
      """SELECT * FROM (
           SELECT '7z' AS archive_format, 1::BIGINT AS n_files,
                  count(*) AS n_rows, count(DISTINCT n_nationkey) AS n_keys
           FROM nation
           UNION ALL
           SELECT 'zip', 1::BIGINT, count(*), count(DISTINCT r_regionkey)
           FROM region) t
         ORDER BY archive_format""",
    // Report-bundle contract rows (q170 pattern): constant-true oracle,
    // every boolean a real assertion on the rendered HTML/YAML/JSON/text
    "q186_report_bundle" ->
      """SELECT * FROM (VALUES
           ('diff_only_prunes_to_changed', true),
           ('html_lists_all_columns', true),
           ('html_renders_metadata', true),
           ('html_renders_row_count', true),
           ('json_carries_labels', true),
           ('summary_counts_two_equal_one_diff', true),
           ('text_report_flags_discount', true),
           ('yaml_flags_discount_mean', true)) AS t(check_name, passed)
         ORDER BY check_name""",
    // head(n) = the file's leading rows; the staged single file is written
    // in o_orderkey order, so LIMIT over the ordered table replays it
    "q187_head" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
         FROM orders ORDER BY o_orderkey LIMIT 7""",
    "q70_neardup_incremental" -> crossParityJaccardSql,
    // Stored-layout probe ≡ fused incremental run: banding is a per-row
    // projection, so the precomputed bucket net equals q70's fused net —
    // only the PLAN differs (no corpus-side recompute/exchange; PlanSpec
    // asserts the shape). Same exact cross-parity Jaccard oracle.
    "q184_lsh_probe_stored" -> crossParityJaccardSql,
    // the streaming probe computes the identical pair set (q184's oracle)
    "q195_stream_dedup" -> crossParityJaccardSql,
    // Top trigrams by corpus occurrence count, n-gram string tiebreak
    "q71_top_ngrams" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         grams AS (
           SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS ngram
           FROM t, unnest(range(1, len(toks) - 1)) AS u(i))
         SELECT ngram, count(*)::BIGINT AS total_count,
                count(DISTINCT doc_id)::BIGINT AS doc_freq
         FROM grams GROUP BY ngram
         ORDER BY total_count DESC, ngram LIMIT 50""",
    // Okapi BM25 (Lucene idf form) over distinct query terms; ranks over
    // unrounded scores with doc-id tiebreak on both engines (q21 pattern)
    "q72_bm25_search" ->
      """WITH base AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS dl FROM base WHERE len(toks) > 0),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
         q(query_id, qtext) AS (VALUES
           (CAST(0 AS BIGINT), 'spark table join'),
           (CAST(1 AS BIGINT), 'slow hash batch'),
           (CAST(2 AS BIGINT), 'vector stream window value')),
         qt AS (
           SELECT query_id, unnest(list_distinct(list_filter(
             regexp_split_to_array(trim(lower(qtext)), '\s+'),
             x -> len(x) > 0))) AS term
           FROM q),
         vocab AS (SELECT DISTINCT term FROM qt),
         posting AS (
           SELECT term, doc_id, dl, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) s
           JOIN vocab USING (term)
           GROUP BY term, doc_id, dl),
         dfreq AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
         sc AS (
           SELECT qt.query_id, p.doc_id,
             sum(ln(1.0 + (st.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / st.avgdl))) AS score
           FROM posting p
           JOIN dfreq f USING (term)
           JOIN qt ON qt.term = p.term
           CROSS JOIN stats st
           GROUP BY qt.query_id, p.doc_id)
         SELECT query_id, doc_id, round(score, 4) AS score, rank FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS rank
           FROM sc) r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // Cross-source overlap: same md5 token-normalized fingerprints as
    // q28, distinct per (source, fp), pair counts + jaccard
    "q220_source_overlap" ->
      """WITH corpus AS (
           SELECT source, text FROM documents
           UNION ALL
           SELECT 're:' || source AS source, text FROM documents
           WHERE doc_id % 5 = 0),
         fps AS (
           SELECT DISTINCT source,
             md5(array_to_string(
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE string_split_regex(lower(trim(text)), '\s+') END,
               ' ')) AS fp
           FROM corpus),
         tot AS (SELECT source, count(*)::BIGINT AS n FROM fps GROUP BY source),
         pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                     count(*)::BIGINT AS n_shared
                   FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT p.source_a, p.source_b, p.n_shared,
           ta.n AS n_a, tb.n AS n_b,
           round(p.n_shared / (ta.n + tb.n - p.n_shared)::DOUBLE, 6) AS jaccard
         FROM pairs p
         JOIN tot ta ON ta.source = p.source_a
         JOIN tot tb ON tb.source = p.source_b
         ORDER BY source_a, source_b""",
    // Rademacher projection replay: the ±1 matrix regenerated from the
    // same md5 seed strings, the dot product sequential ascending
    // (list_dot_product ≡ the unrolled Spark fold), same √k scale and
    // 6-dp round
    "q219_random_projection" ->
      """WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sg AS (SELECT j, list_transform(range(0, 64), i ->
                  CASE WHEN substring(md5('rp:' || j || ':' || i), 1, 1) < '8'
                       THEN 1.0 ELSE -1.0 END) AS s
                FROM range(0, 8) t(j)),
         p AS (SELECT vec_id, j,
                 round(list_dot_product(v, s) / sqrt(8), 6) + 0.0 AS value
               FROM b CROSS JOIN sg)
         SELECT vec_id, j::INT AS dim, value FROM p ORDER BY vec_id, dim""",
    // TF-IDF keywords: the same tokenizer and posting/df tables as q72,
    // classic tf·ln(N/df), rank on the ROUNDED score + term asc
    "q218_tfidf_keywords" ->
      """WITH base AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks FROM base WHERE len(toks) > 0),
         post AS (SELECT term, doc_id, count(*)::BIGINT AS tf
                  FROM (SELECT doc_id, unnest(toks) AS term FROM d) s
                  GROUP BY term, doc_id),
         dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post
                   GROUP BY term HAVING count(*) >= 5),
         nn AS (SELECT count(*)::BIGINT AS n_docs FROM d),
         sc AS (SELECT p.doc_id, p.term, p.tf, f.df,
                  round(p.tf * ln(nn.n_docs::DOUBLE / f.df), 6) AS tfidf
                FROM post p JOIN dfreq f USING (term) CROSS JOIN nn),
         rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term ASC) AS rank FROM sc)
         SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
         FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""",
    // RRF hybrid: q72's BM25 CTEs (top-20) ⊕ q21's dense knn (top-20,
    // query vectors vec_id < 3), fused with the same left-to-right
    // coalesce(1/(60+r)) sum the Scala side folds (DuckDB promotes '/'
    // to DOUBLE, so both engines fuse in double); ties → doc_id asc
    "q190_hybrid_rrf" ->
      """WITH base AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS dl FROM base WHERE len(toks) > 0),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
         q(query_id, qtext) AS (VALUES
           (CAST(0 AS BIGINT), 'spark table join'),
           (CAST(1 AS BIGINT), 'slow hash batch'),
           (CAST(2 AS BIGINT), 'vector stream window value')),
         qt AS (
           SELECT query_id, unnest(list_distinct(list_filter(
             regexp_split_to_array(trim(lower(qtext)), '\s+'),
             x -> len(x) > 0))) AS term
           FROM q),
         vocab AS (SELECT DISTINCT term FROM qt),
         posting AS (
           SELECT term, doc_id, dl, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) s
           JOIN vocab USING (term)
           GROUP BY term, doc_id, dl),
         dfreq AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
         sc AS (
           SELECT qt.query_id, p.doc_id,
             sum(ln(1.0 + (st.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / st.avgdl))) AS score
           FROM posting p
           JOIN dfreq f USING (term)
           JOIN qt ON qt.term = p.term
           CROSS JOIN stats st
           GROUP BY qt.query_id, p.doc_id),
         spk AS (SELECT query_id, doc_id, rank_bm25 FROM (
                   SELECT query_id, doc_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rank_bm25
                   FROM sc) t WHERE rank_bm25 <= 20),
         dek AS (SELECT query_id, doc_id, rank_dense FROM (
                   SELECT eq.vec_id AS query_id, c.vec_id AS doc_id,
                     row_number() OVER (PARTITION BY eq.vec_id
                       ORDER BY list_cosine_similarity(
                           eq.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                         c.vec_id ASC) AS rank_dense
                   FROM embeddings c
                   CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) eq) t
                 WHERE rank_dense <= 20),
         f AS (SELECT coalesce(spk.query_id, dek.query_id) AS query_id,
                 coalesce(spk.doc_id, dek.doc_id) AS doc_id,
                 spk.rank_bm25, dek.rank_dense,
                 coalesce(1.0/(60 + spk.rank_bm25), 0.0)
                   + coalesce(1.0/(60 + dek.rank_dense), 0.0) AS fs
               FROM spk FULL OUTER JOIN dek
                 ON spk.query_id = dek.query_id AND spk.doc_id = dek.doc_id)
         SELECT query_id, doc_id, rank_bm25::INT AS rank_bm25,
                rank_dense::INT AS rank_dense, round(fs, 6) AS rrf_score, rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY fs DESC, doc_id ASC) AS rank FROM f) t
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // DSIR weights: same portable bucket hash ((len*31+codepoint) mod 64),
    // same add-one smoothing, and the same DECIMAL(28,15) log-ratio cast
    // so the per-doc sum is exact on both engines (Sampling.dsirWeights)
    "q191_dsir_weights" ->
      s"""WITH $dsirCtes
         SELECT d.doc_id, pd.n_toks, round(pd.wt, 6) AS dsir_weight
         FROM documents d LEFT JOIN pd USING (doc_id)
         ORDER BY doc_id""",
    // Word dropout: the same md5 keep-decision per (salt, id, pos, token),
    // survivors re-joined in position order on both engines
    "q204_word_dropout" -> {
      val thr = Sampling.fractionHex(0.1)
      s"""WITH t AS (SELECT doc_id, list_filter(
              regexp_split_to_array(trim(lower(text)), '\\s+'),
              x -> len(x) > 0) AS toks
            FROM documents),
          tk AS (SELECT doc_id, i AS pos, toks[i] AS tok
                 FROM t, unnest(range(1, len(toks) + 1)) u(i)),
          kept AS (SELECT doc_id, pos, tok FROM tk
                   WHERE substr(md5('wd:' || doc_id || ':' || pos || ':' || tok),
                         1, 4) >= '$thr'),
          agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                    string_agg(tok, ' ' ORDER BY pos) AS text_aug
                  FROM kept GROUP BY doc_id)
          SELECT t.doc_id, len(t.toks)::BIGINT AS n_orig,
                 coalesce(agg.n_kept, 0)::BIGINT AS n_kept,
                 coalesce(agg.text_aug, '') AS text_aug
          FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""
    },
    // Per-source scorecard: md5 fingerprint distinct (q28's normalized
    // form), token counts (q19's tokenizer), integer-exact shares
    "q199_source_scorecard" ->
      """WITH t AS (
           SELECT source, lang,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
           FROM documents)
         SELECT source,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT md5(array_to_string(toks, ' ')))::BIGINT AS n_distinct,
           round(1.0 - count(DISTINCT md5(array_to_string(toks, ' ')))
                 / count(*)::DOUBLE, 4) AS dup_rate,
           sum(len(toks))::BIGINT AS total_tokens,
           round(avg(len(toks)), 2) AS avg_tokens,
           round(avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 4) AS target_lang_share
         FROM t GROUP BY source ORDER BY source""",
    // DSIR selection endpoint: Gumbel-top-k over the same weights —
    // key = logit − ln(−ln(u)), u from the q102-pattern md5 uniform
    "q197_dsir_select" ->
      s"""WITH $dsirCtes,
         w AS (SELECT d.doc_id, round(pd.wt, 6) AS dsir_weight
               FROM documents d JOIN pd USING (doc_id)),
         g AS (SELECT doc_id, dsir_weight,
                 dsir_weight - ln(-ln(
                   (('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 8))::UBIGINT + 0.5)
                   / 4294967296.0)) AS k
               FROM w)
         SELECT doc_id, dsir_weight, round(k, 6) AS sample_key
         FROM (SELECT * FROM g ORDER BY k DESC, doc_id LIMIT 100) t
         ORDER BY doc_id""",
    // Duplicated spans: position-stamped 8-gram match join under the same
    // df cap, gaps-and-islands on the (pa - pb) diagonal; run lengths and
    // counts are exact integers on both engines
    "q192_duplicate_spans" -> {
      val n = 8
      val joined = (0 until n).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, list_filter(
              regexp_split_to_array(trim(lower(text)), '\\s+'),
              x -> len(x) > 0) AS toks
            FROM documents),
          sh AS (SELECT doc_id, i AS pos, $joined AS s
                 FROM t, unnest(range(1, len(toks) - ${n - 2})) AS u(i)),
          voc AS (SELECT s FROM sh GROUP BY s
                  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20),
          m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.pos AS pa, b.pos AS pb
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                JOIN voc ON voc.s = a.s),
          isl AS (SELECT id_a, id_b, pa - pb AS diag,
                    pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb
                      ORDER BY pa) AS island
                  FROM m),
          runs AS (SELECT id_a, id_b, diag, island, count(*) AS len
                   FROM isl GROUP BY id_a, id_b, diag, island)
          SELECT id_a, id_b, sum(len)::BIGINT AS n_matches,
                 count(*)::BIGINT AS n_runs,
                 (max(len) + ${n - 1})::BIGINT AS max_run_tokens
          FROM runs GROUP BY id_a, id_b HAVING sum(len) >= 3
          ORDER BY id_a, id_b"""
    },
    // Partition overwrite: per-partition counts after replacing the
    // lexicographically-first event_type with its even-event_id subset;
    // the three file-level checks are engine-side facts (byte-identity
    // snapshots) the oracle pins as literal booleans — q170's pattern
    "q193_partition_overwrite" ->
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
         ORDER BY metric""",
    // Near-dup components (q63's recursive CTE) hashed with q42's split
    // boundaries: every cluster member shares the component, hence the side
    "q83_leakage_safe_split" -> {
      val th = Sampling.splitThresholdsHex(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val cases = th.init.map { case (name, hex) =>
        s"WHEN substring(md5(component::VARCHAR), 1, 4) < '$hex' THEN '$name'"
      }.mkString(" ")
      s"""WITH RECURSIVE pairs AS (${jaccardPairsSql(0.7)}),
          e AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
          reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
          comp AS (SELECT a AS doc_id, min(b) AS component
                   FROM reach GROUP BY a)
          SELECT doc_id, component,
                 CASE $cases ELSE '${th.last._1}' END AS split
          FROM comp ORDER BY doc_id"""
    },
    // Sequential-min funnel CTEs in epoch-micros space (epoch_us floors
    // TIMESTAMP_NS to the micros Spark's nanos→micros div produces); the
    // kernel's greedy earliest-advance scan equals this construction
    "q98_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         s1 AS (SELECT user_id, min(t) AS t FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t
                WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s2 ON e.user_id = s2.user_id AND e.t > s2.t
                WHERE e.event_type = 'purchase' GROUP BY e.user_id),
         c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
         b AS (SELECT n AS base FROM c WHERE stage = 1)
         SELECT stage, stage_name, n::BIGINT AS n_users,
                round(n::DOUBLE / base, 4) AS conversion
         FROM c CROSS JOIN b ORDER BY stage""",
    // Epoch-week cohorts (floor days-since-1970 / 7 — no locale week
    // start); distinct (user, week) before the cohort join on both sides
    "q99_retention_cohorts" ->
      """WITH e AS (SELECT DISTINCT user_id,
                      date_diff('day', DATE '1970-01-01', ts::DATE) // 7 AS week
                    FROM events),
         f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
         c AS (SELECT f.cohort_week, e.week - f.cohort_week AS week_offset,
                      count(*) AS n_active
               FROM e JOIN f USING (user_id) GROUP BY 1, 2),
         s AS (SELECT cohort_week, week_offset, n_active,
                 max(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week) AS cohort_size
               FROM c)
         SELECT cohort_week::BIGINT AS cohort_week,
                week_offset::BIGINT AS week_offset,
                n_active::BIGINT AS n_active, cohort_size::BIGINT AS cohort_size,
                round(n_active::DOUBLE / cohort_size, 4) AS retention
         FROM s ORDER BY cohort_week, week_offset""",
    // Islands coalescing in epoch-micros: same strictly-greater-than-
    // running-max island rule, same (start, end) window order
    "q100_interval_merge" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                       epoch_us(ts) + floor(value * 60000000.0)::BIGINT AS e
                     FROM events),
         m AS (SELECT user_id, s, e,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
               FROM iv),
         isl AS (SELECT user_id, s, e,
                   sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                 FROM m)
         SELECT user_id, island::BIGINT AS island, min(s) AS interval_start,
                max(e) AS interval_end, count(*)::BIGINT AS n_rows
         FROM isl GROUP BY user_id, island ORDER BY user_id, island""",
    // Fixed-width bins over the combined min/max of both snapshot halves;
    // eps-floored shares before the log-ratio, term rounded 6dp (counts
    // are exact integers, so the bin boundary itself is identical double
    // arithmetic on both engines)
    "q101_psi_drift" -> {
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
    },
    // Efraimidis–Spirakis keys from the same md5-uint32 construction:
    // u = (first-8-hex-as-uint32 + 1) / 2^32, key = ln(u) / weight,
    // top-k by key — membership is the compared output
    "q102_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars,
                  ln((('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 8))::UBIGINT + 0.5)
                     / 4294967296.0) / n_chars AS k
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
           ORDER BY k DESC LIMIT 100) t
         ORDER BY doc_id""",
    // Sliding-distinct via bounded explode of the deduplicated user-day
    // table: day d contributes to report days d..d+6; both engines dedup
    // (user, report_day) then count. Epoch-day ints, no locale weeks.
    "q103_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id,
                       date_diff('day', DATE '1970-01-01', ts::DATE) AS day
                     FROM events),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
         wau AS (SELECT day, count(*) AS wau FROM (
                   SELECT DISTINCT user_id, day + o AS day
                   FROM ud, range(0, 7) AS t(o)) GROUP BY day)
         SELECT d.day::BIGINT AS day, dau::BIGINT AS dau, wau::BIGINT AS wau,
                round(dau::DOUBLE / wau, 4) AS stickiness
         FROM dau d JOIN wau w ON d.day = w.day ORDER BY day""",
    // Per-key count distribution; interpolated percentiles have
    // quantile_cont ≡ percentile parity (proven by q17)
    "q104_key_skew" ->
      """WITH c AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey)
         SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS n_rows,
                max(c)::BIGINT AS max_count, round(avg(c), 4) AS mean_count,
                round(quantile_cont(c, 0.5), 4) AS p50_count,
                round(quantile_cont(c, 0.9), 4) AS p90_count,
                round(quantile_cont(c, 0.99), 4) AS p99_count,
                round(max(c)::DOUBLE / avg(c), 4) AS skew
         FROM c""",
    // Self-join fanout from per-key counts alone: sum/max of c² — the
    // exact inner-join output size without running the join
    "q105_join_fanout" ->
      """WITH c AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey)
         SELECT count(*)::BIGINT AS n_keys_left, count(*)::BIGINT AS n_keys_right,
                count(*)::BIGINT AS n_keys_matched, sum(c * c)::BIGINT AS est_rows,
                max(c * c)::BIGINT AS max_fanout, round(avg(c * c), 4) AS mean_fanout
         FROM c""",
    // Two-phase distributed numbering ≡ a global row_number when the
    // order keys form a total order (o_orderkey breaks ties)
    "q106_stable_rownum" ->
      """SELECT o_orderkey,
                row_number() OVER (ORDER BY o_custkey, o_orderkey) AS row_num
         FROM orders ORDER BY o_orderkey""",
    // Trailing-24h baseline, current bucket excluded; z rounded 3dp (the
    // stddev accumulations differ in the last ulps between engines)
    "q107_rate_anomaly" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n
                    FROM events GROUP BY 1),
         w AS (SELECT bucket, n,
                 avg(n) OVER win AS mu,
                 stddev_samp(n) OVER win AS sd,
                 count(*) OVER win AS cnt
               FROM c
               WINDOW win AS (ORDER BY bucket
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                n::BIGINT AS n_events, round((n - mu) / sd, 3) AS z
         FROM w WHERE cnt = 24 AND sd > 0 ORDER BY bucket""",
    // One scalar-subquery block per rule; violation predicates mirror the
    // rule pass-expressions' explicit null handling (NULL always fails)
    "q108_validate" ->
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
         FROM r CROSS JOIN n ORDER BY rule""",
    // k-anonymity: class counts over the quasi columns, scalar reduce
    "q222_k_anonymity" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n
                    FROM customer GROUP BY 1, 2)
         SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_classes,
           min(n)::BIGINT AS k_anonymity,
           sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT AS n_classes_below_k,
           sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT AS n_rows_at_risk,
           round(sum(CASE WHEN n < 5 THEN n ELSE 0 END) / sum(n)::DOUBLE, 6)
             AS risk_share,
           (min(n) >= 5) AS pass
         FROM c""",
    // min distinct sensitive values per quasi-class; count(DISTINCT)
    // ignores nulls identically on both engines
    "q226_l_diversity" ->
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
         FROM c""",
    // leading digit via floor(x / 10^floor(log10 x)) with the 10→1 / 0→9
    // off-by-one corrections (exact under either engine's log10 rounding);
    // all 9 digits always emitted; chi2 = the TOTAL statistic on each row
    "q227_benford" ->
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
         FROM j CROSS JOIN x2 ORDER BY j.digit""",
    // Mann-Whitney U via per-distinct-value counts + exclusive cumulative
    // rank offsets (avg rank = before + (cnt+1)/2); rank sums are exact
    // half-integer doubles on both engines, tie cubes go through DOUBLE
    "q229_mann_whitney" ->
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
         FROM t""",
    // JSD over the union of observed categories; one-sided categories
    // contribute their full p*ln(2) mass (no smoothing)
    "q230_js_divergence" ->
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
         FROM z""",
    // correlation ratio from the same moment identity (SS via sums and
    // sums of squares; integer-valued doubles sum exactly below 2^52)
    "q231_correlation_ratio" ->
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
         FROM e""",
    // Spearman = Pearson over average ranks; ranks from per-distinct-value
    // counts + exclusive cumsum, exactly the Spark construction
    "q232_spearman" ->
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
         FROM p JOIN wx USING (x) JOIN wy USING (y)""",
    // Gini over per-key counts: sum of i*x_i is order-invariant within
    // tied counts, so any deterministic row_number tiebreak agrees with
    // the closed-form tie-block expression the Spark side evaluates
    "q233_concentration" ->
      """WITH c AS (SELECT lang, count(*)::BIGINT AS c FROM documents
                    WHERE lang IS NOT NULL GROUP BY 1),
         w AS (SELECT c, row_number() OVER (ORDER BY c, lang) AS i FROM c),
         t AS (SELECT count(*)::DOUBLE AS k, sum(c)::DOUBLE AS tt,
                 sum(i * c::DOUBLE) AS s,
                 sum(c::DOUBLE * c::DOUBLE) AS q,
                 max(c)::DOUBLE AS mx
               FROM w)
         SELECT tt::BIGINT AS n_rows, k::BIGINT AS n_keys,
           CASE WHEN k > 1
                THEN round(2 * s / (k * tt) - (k + 1) / k, 6) + 0.0 END AS gini,
           round(q / (tt * tt), 6) + 0.0 AS hhi,
           round(mx / tt, 6) + 0.0 AS top_share
         FROM t""",
    // RBO from the overlap-at-depth table: X_d = pairs whose max rank <= d;
    // same q72-convention tokenizer, (count desc, term asc) rankings
    "q234_rbo" ->
      """WITH toks AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         ra AS (SELECT term, row_number() OVER
                  (ORDER BY count(*) DESC, term ASC) AS r
                FROM toks WHERE doc_id % 2 = 0 GROUP BY term
                ORDER BY count(*) DESC, term ASC LIMIT 20),
         rb AS (SELECT term, row_number() OVER
                  (ORDER BY count(*) DESC, term ASC) AS r
                FROM toks WHERE doc_id % 2 = 1 GROUP BY term
                ORDER BY count(*) DESC, term ASC LIMIT 20),
         fd AS (SELECT greatest(ra.r, rb.r) AS g FROM ra JOIN rb USING (term)),
         xd AS (SELECT d, (SELECT count(*) FROM fd WHERE g <= d)::BIGINT AS x
                FROM range(1, 21) t(d)),
         s AS (SELECT sum(pow(0.9, d - 1) * x / d) AS acc,
                 max(CASE WHEN d = 20 THEN x END)::BIGINT AS nc
               FROM xd)
         SELECT 20 AS depth, nc AS n_common,
           round(0.1 * acc, 6) + 0.0 AS rbo,
           round(0.1 * acc + nc / 20.0 * pow(0.9, 20), 6) + 0.0 AS rbo_ext
         FROM s""",
    // Kaplan-Meier via two chained prefix sums; the survival product is
    // exp of a 1e-12 fixed-point running sum on BOTH engines, so float
    // product-order can never diverge
    "q235_km_survival" ->
      """WITH pu AS (SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
                FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS hm FROM events),
         bl AS (SELECT floor((floor(epoch(coalesce(p, hm))) -
                  floor(epoch(f))) / 3600)::BIGINT AS life,
                  (p IS NULL) AS cens
                FROM pu, h),
         g AS (SELECT life,
                 sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
                 sum(CASE WHEN cens THEN 1 ELSE 0 END)::BIGINT AS cns,
                 count(*)::BIGINT AS al
               FROM bl GROUP BY 1),
         w AS (SELECT *, coalesce(sum(al) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
                 (SELECT sum(al) FROM g) AS n
               FROM g),
         x AS (SELECT life, d, cns, (n - bef)::BIGINT AS nr,
                 CASE WHEN d > 0 AND d < (n - bef)
                      THEN round(ln(1 - d / (n - bef)::DOUBLE) * 1e12)::BIGINT
                      ELSE 0 END AS lnq,
                 (d = (n - bef)) AS dead
               FROM w),
         y AS (SELECT *, sum(lnq) OVER (ORDER BY life
                 ROWS UNBOUNDED PRECEDING) AS lncum FROM x)
         SELECT life AS hours, nr AS n_risk, d AS n_events,
           cns AS n_censored,
           (CASE WHEN dead THEN 0.0 ELSE round(exp(lncum / 1e12), 6) END)
             + 0.0 AS survival
         FROM y WHERE d > 0 ORDER BY 1""",
    // the q235 fixed-point chain with the Greenwood increment as a second
    // quantized cumsum column; exponential-Greenwood band mirrored
    "q366_km_ci" ->
      """WITH pu AS (SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
                FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS hm FROM events),
         bl AS (SELECT floor((floor(epoch(coalesce(p, hm))) -
                  floor(epoch(f))) / 3600)::BIGINT AS life,
                  (p IS NULL) AS cens
                FROM pu, h),
         g AS (SELECT life,
                 sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
                 count(*)::BIGINT AS al
               FROM bl GROUP BY 1),
         w AS (SELECT *, coalesce(sum(al) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
                 (SELECT sum(al) FROM g) AS n
               FROM g),
         x AS (SELECT life, d, (n - bef)::BIGINT AS nr,
                 (d = (n - bef)) AS dead,
                 CASE WHEN d > 0 AND d < (n - bef)
                      THEN round(ln(1 - d / (n - bef)::DOUBLE)
                        * 1e12)::BIGINT ELSE 0 END AS lnq,
                 CASE WHEN d > 0 AND d < (n - bef)
                      THEN round(d / ((n - bef)::DOUBLE * ((n - bef) - d))
                        * 1e12)::BIGINT ELSE 0 END AS gq
               FROM w),
         y AS (SELECT *,
                 coalesce(sum(lnq) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS lnbef,
                 coalesce(sum(gq) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS gbef
               FROM x),
         z AS (SELECT life, d, nr, dead,
                 CASE WHEN dead THEN 0.0
                      ELSE exp((lnbef + lnq) / 1e12) END AS s,
                 (gbef + gq) / 1e12 AS gg
               FROM y),
         f AS (SELECT *, CASE WHEN dead THEN 0.0
                 ELSE 1.959964::DOUBLE * sqrt(gg) / ln(s) END AS theta
               FROM z WHERE d > 0)
         SELECT life AS hours, nr AS n_risk, d AS n_events,
           round(s, 6) + 0.0 AS survival,
           (CASE WHEN dead THEN 0.0 ELSE round(s * sqrt(gg), 6) END)
             + 0.0 AS se,
           (CASE WHEN dead THEN 0.0
                 ELSE round(pow(s, exp(-theta)), 6) END) + 0.0 AS ci_lo,
           (CASE WHEN dead THEN 0.0
                 ELSE round(pow(s, exp(theta)), 6) END) + 0.0 AS ci_hi
         FROM f ORDER BY hours""",
    // same \x-escape character classes as QualityOps (interpolated from
    // one definition — never engine-native classes like \s)
    "q236_unicode_anomaly" -> {
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
    },
    // per-group KS + the 100-term Kolmogorov series (identical truncation)
    // + BH step-up with the inclusive-count (largest-in-tie) convention;
    // p computed from the 6-dp-rounded ks exactly as the Spark side does
    "q238_ks_fdr" ->
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
         FROM p, s ORDER BY grp""",
    // pooled-variance z + Wilson score intervals with the shared
    // z-critical literal 1.959963984540054 on both engines; the
    // event_type IS NOT NULL predicate mirrors Spark's complete-case
    // filter (proportionZTest drops NULL successCol rows from n)
    "q239_proportion_z" ->
      """WITH sa AS (SELECT count(*)::BIGINT AS n_a,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
                    AS k_a
                FROM events WHERE ts::DATE < DATE '2024-01-08'
                  AND event_type IS NOT NULL),
         sb AS (SELECT count(*)::BIGINT AS n_b,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
                    AS k_b
                FROM events WHERE ts::DATE >= DATE '2024-01-08'
                  AND event_type IS NOT NULL),
         c AS (SELECT n_a, k_a, n_b, k_b,
                 k_a / n_a::DOUBLE AS pa, k_b / n_b::DOUBLE AS pb,
                 (k_a + k_b) / (n_a + n_b)::DOUBLE AS pool,
                 1.959963984540054 AS zc
               FROM sa, sb)
         SELECT n_a, k_a, n_b, k_b,
           round(pa, 6) + 0.0 AS rate_a, round(pb, 6) + 0.0 AS rate_b,
           round(pa - pb, 6) + 0.0 AS diff,
           (CASE WHEN pool > 0 AND pool < 1 THEN
             round((pa - pb) / sqrt(pool * (1 - pool)
               * (1.0 / n_a + 1.0 / n_b)), 6) END) + 0.0 AS z,
           round((pa + zc*zc/(2*n_a) - zc * sqrt(pa*(1-pa)/n_a
             + zc*zc/(4.0*n_a*n_a))) / (1 + zc*zc/n_a), 6) + 0.0 AS wilson_lo_a,
           round((pa + zc*zc/(2*n_a) + zc * sqrt(pa*(1-pa)/n_a
             + zc*zc/(4.0*n_a*n_a))) / (1 + zc*zc/n_a), 6) + 0.0 AS wilson_hi_a,
           round((pb + zc*zc/(2*n_b) - zc * sqrt(pb*(1-pb)/n_b
             + zc*zc/(4.0*n_b*n_b))) / (1 + zc*zc/n_b), 6) + 0.0 AS wilson_lo_b,
           round((pb + zc*zc/(2*n_b) + zc * sqrt(pb*(1-pb)/n_b
             + zc*zc/(4.0*n_b*n_b))) / (1 + zc*zc/n_b), 6) + 0.0 AS wilson_hi_b
         FROM c""",
    // beta-binomial MoM prior over raw per-source rates; degenerate
    // variance falls back to the raw rate with NULL alpha/beta
    "q240_eb_shrink" ->
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
         FROM r, pr ORDER BY source""",
    // hot-block cap replayed natively: per-prefix block sizes, blocks over
    // 64 drop whole BEFORE the self-join, survivors link at levenshtein<=1
    "q246_linkage_capped" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS key,
                  substring(p_name, 1, 6) AS b FROM part),
         sz AS (SELECT b, count(*) AS c FROM p GROUP BY 1),
         small AS (SELECT b FROM sz WHERE c <= 64)
         SELECT a.id AS id_a, x.id AS id_b,
                levenshtein(a.key, x.key) AS dist
         FROM p a JOIN p x ON a.b = x.b AND a.id < x.id
         JOIN small s ON s.b = a.b
         WHERE abs(len(a.key) - len(x.key)) <= 1
           AND levenshtein(a.key, x.key) <= 1
         ORDER BY id_a, id_b""",
    // exact integer moments -> the identical closed-form Welch t / df /
    // Cohen's d expression on both engines
    "q247_welch_ttest" ->
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
         FROM w""",
    // moment-identity sums of squares; 2dp on the 1e10-scale ss values
    // absorbs cross-engine group-summation order
    "q248_anova" ->
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
         FROM t""",
    // average ranks from the exclusive distinct-value cumsum; the tie mass
    // rides the group join as (t^2-1)*c (exact); H at 4dp
    "q249_kruskal" ->
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
         FROM nn, agg""",
    // entropies over observed cells only (each margin's mass splits across
    // its cells); U = MI / H per direction
    "q250_uncertainty" ->
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
         FROM j""",
    // q27's stopword-share language argmax replayed (ties break to the
    // lexicographically largest code), then the kappa contingency algebra
    "q251_kappa" -> {
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
    },
    // frequency-of-frequencies -> Chao1 + Good-Turing; same q72 tokenizer
    "q252_vocab_richness" ->
      """WITH toks AS (SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         tc AS (SELECT term, count(*)::BIGINT c FROM toks GROUP BY 1),
         ff AS (SELECT c, count(*)::BIGINT m FROM tc GROUP BY 1),
         t AS (SELECT sum(c * m)::BIGINT n_tokens, sum(m)::BIGINT n_types,
                 coalesce(sum(CASE WHEN c = 1 THEN m END), 0)::BIGINT f1,
                 coalesce(sum(CASE WHEN c = 2 THEN m END), 0)::BIGINT f2
               FROM ff)
         SELECT n_tokens, n_types, f1, f2,
           round(n_types + f1::DOUBLE * (f1 - 1) / (2.0 * (f2 + 1)), 4)
             + 0.0 AS chao1,
           (CASE WHEN n_tokens > 0
             THEN round(f1::DOUBLE / n_tokens, 6) END) + 0.0
             AS gt_unseen_mass
         FROM t""",
    // top-51 counts under (count desc, term asc); boundary ties contribute
    // ln(1)=0 so the 51-row sum equals the top-50 sum exactly
    "q253_hill_tail" ->
      """WITH toks AS (SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         tc AS (SELECT term, count(*)::BIGINT c FROM toks GROUP BY 1),
         top AS (SELECT c FROM tc ORDER BY c DESC, term ASC LIMIT 21),
         t AS (SELECT min(c)::BIGINT xt FROM top),
         s AS (SELECT sum(ln(c::DOUBLE / t.xt)) ls FROM top, t)
         SELECT 20 AS k, t.xt AS x_tail,
           (CASE WHEN s.ls > 0 THEN round(20.0 / s.ls, 6) END) + 0.0 AS alpha
         FROM t, s""",
    // integer-exact scaled CUSUM D_t = n*S_t - t*S_total; argmax by
    // (|D| desc, day asc)
    "q254_cusum" ->
      """WITH d AS (SELECT ts::DATE AS day, count(*)::BIGINT c FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         p AS (SELECT day, c, sum(c) OVER (ORDER BY day) s,
                 row_number() OVER (ORDER BY day) t FROM d),
         tot AS (SELECT max(t)::BIGINT n, max(s)::BIGINT tt FROM p),
         sc AS (SELECT day, s, t, n, tt, n * s - t * tt AS dd FROM p, tot)
         SELECT n AS n_days, day AS change_day,
           round(abs(dd)::DOUBLE / n, 6) + 0.0 AS cusum_max,
           round(s::DOUBLE / t, 6) + 0.0 AS rate_before,
           (CASE WHEN n > t
             THEN round((tt - s)::DOUBLE / (n - t), 6) END) + 0.0
             AS rate_after
         FROM sc ORDER BY abs(dd) DESC, day ASC LIMIT 1""",
    // the q230 join shape; three distances over the category union
    "q255_dist_distance" ->
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
         FROM j, t GROUP BY t.ta, t.tb, t.k""",
    // the q217 scoring replay -> distinct-score cumulatives -> tie-safe
    // integer bin ids -> per-decile capture
    "q256_lift_table" ->
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
         FROM bb GROUP BY bin ORDER BY bin""",
    // per-source type/token/hapax counts; same q72 tokenizer
    "q257_lexical_diversity" ->
      """WITH toks AS (SELECT source, unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents WHERE source IS NOT NULL),
         gt AS (SELECT source, term, count(*)::BIGINT c FROM toks
                GROUP BY 1, 2),
         g AS (SELECT source, sum(c)::BIGINT n_tokens,
                 count(*)::BIGINT n_types,
                 sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT hapax
               FROM gt GROUP BY 1)
         SELECT source, n_tokens, n_types,
           round(n_types::DOUBLE / n_tokens, 6) + 0.0 AS ttr,
           round(hapax::DOUBLE / n_types, 6) + 0.0 AS hapax_rate
         FROM g ORDER BY source""",
    // per-(term, doc) counts; zero docs enter the dispersion in closed
    // form (VMR = sq/total - total/D)
    "q258_burstiness" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         td AS (SELECT term, doc_id, count(*)::BIGINT c FROM toks
                GROUP BY 1, 2),
         dd AS (SELECT count(*)::BIGINT nd FROM documents),
         t AS (SELECT term, sum(c)::BIGINT total, count(*)::BIGINT doc_freq,
                 sum(c * c)::BIGINT sq FROM td GROUP BY 1)
         SELECT term, total, doc_freq,
           round(sq::DOUBLE / total - total::DOUBLE / dd.nd, 6) + 0.0 AS vmr
         FROM t, dd ORDER BY total DESC, term ASC LIMIT 20""",
    // rank-based AUC over the replayed scores: average ranks from the
    // exclusive distinct-score cumsum, Mann-Whitney identity
    "q259_auc" ->
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
         FROM t""",
    // the q27 lang-id argmax replayed; discordant-pair chi2 with and
    // without the Edwards continuity correction
    "q260_mcnemar" -> {
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
    },
    // per-decile quantile_cont on each side; 4dp absorbs the
    // interpolation-order difference (the q17 convention)
    "q261_qq_drift" ->
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
         FROM range(1, 10) t(i), qa, qb ORDER BY p""",
    // Murphy decomposition over the q203 fixed-width decile bins; decimal
    // score sums make bin means engine-exact
    "q262_brier" ->
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
         FROM g, tt GROUP BY tt.n, tt.yt""",
    // adjacent bigram + unigram counts -> PMI/NPMI for the top-20
    // (count desc, bigram asc) qualifying pairs
    "q263_pmi" ->
      """WITH t AS (SELECT list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0) toks
           FROM documents),
         bi AS (SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) bigram
               FROM t WHERE len(toks) >= 2),
         bc AS (SELECT bigram, count(*)::BIGINT c12 FROM bi GROUP BY 1),
         un AS (SELECT unnest(toks) term FROM t),
         uc AS (SELECT term, count(*)::BIGINT cu FROM un GROUP BY 1),
         tot AS (SELECT (SELECT sum(c12) FROM bc)::BIGINT nb,
                   (SELECT sum(cu) FROM uc)::BIGINT nu),
         top AS (SELECT bigram, c12, split_part(bigram, ' ', 1) w1,
                   split_part(bigram, ' ', 2) w2
                 FROM bc WHERE c12 >= 5
                 ORDER BY c12 DESC, bigram ASC LIMIT 20)
         SELECT w1, w2, c12 AS "count",
           round(ln((c12 / nb::DOUBLE)
             / ((u1.cu / nu::DOUBLE) * (u2.cu / nu::DOUBLE))), 6) + 0.0
             AS pmi,
           (CASE WHEN -ln(c12 / nb::DOUBLE) > 0 THEN
             round(ln((c12 / nb::DOUBLE)
               / ((u1.cu / nu::DOUBLE) * (u2.cu / nu::DOUBLE)))
               / (-ln(c12 / nb::DOUBLE)), 6) END) + 0.0 AS npmi
         FROM top JOIN uc u1 ON u1.term = top.w1
           JOIN uc u2 ON u2.term = top.w2 CROSS JOIN tot
         ORDER BY "count" DESC, w1, w2""",
    // Wald boundaries and per-observation log-ratios from the same
    // double literals; one count/sum
    "q264_sprt" ->
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
         FROM s""",
    // median pairwise slope over the bounded day table; epoch-day x
    "q265_theil_sen" ->
      """WITH d AS (SELECT ts::DATE AS day, count(*)::DOUBLE y FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         dd AS (SELECT (day - DATE '1970-01-01')::DOUBLE x, y FROM d),
         sl AS (SELECT (b.y - a.y) / (b.x - a.x) s
                FROM dd a JOIN dd b ON b.x > a.x),
         t AS (SELECT count(*)::BIGINT np, quantile_cont(s, 0.5) m FROM sl),
         i AS (SELECT quantile_cont(dd.y - t.m * dd.x, 0.5) ic FROM dd, t)
         SELECT (SELECT count(*) FROM d)::BIGINT AS n_days, t.np AS n_pairs,
           round(t.m, 6) + 0.0 AS slope, round(i.ic, 4) + 0.0 AS intercept
         FROM t, i""",
    // per-key integer-exact scaled CUSUM; earliest-day tie rule per key
    "q266_cusum_by_type" ->
      """WITH d AS (SELECT event_type, ts::DATE AS day, count(*)::BIGINT c
               FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
               GROUP BY 1, 2),
         p AS (SELECT event_type, day, c,
                 sum(c) OVER (PARTITION BY event_type ORDER BY day) s,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) t
               FROM d),
         tot AS (SELECT event_type, max(t)::BIGINT n, max(s)::BIGINT tt
                 FROM p GROUP BY 1),
         sc AS (SELECT p.event_type, day, s, t, n, tt,
                  n * s - t * tt AS dd,
                  row_number() OVER (PARTITION BY p.event_type
                    ORDER BY abs(n * s - t * tt) DESC, day ASC) rk
                FROM p JOIN tot USING (event_type))
         SELECT event_type, n AS n_days, day AS change_day,
           round(abs(dd)::DOUBLE / n, 6) + 0.0 AS cusum_max,
           round(s::DOUBLE / t, 6) + 0.0 AS rate_before,
           (CASE WHEN n > t
             THEN round((tt - s)::DOUBLE / (n - t), 6) END) + 0.0
             AS rate_after
         FROM sc WHERE rk = 1 ORDER BY event_type""",
    // weekday partition of the per-day count table -> the q248 moment
    // identities (group labels differ across engines; the partition and
    // the statistics are identical)
    "q267_seasonality" ->
      """WITH d AS (SELECT ts::DATE AS day, count(*)::DOUBLE c FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         g AS (SELECT dayofweek(day) dow, count(*)::BIGINT ng, sum(c) s,
                 sum(c * c) q FROM d GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum(s * s / ng) sg, sum(s) st, sum(q) qt FROM g)
         SELECT n, k,
           round(sg - st * st / n, 4) + 0.0 AS ss_between,
           round(qt - sg, 4) + 0.0 AS ss_within,
           round(((sg - st * st / n) / (k - 1)) / ((qt - sg) / (n - k)), 6)
             + 0.0 AS f
         FROM t""",
    // ordered-EMD per class over the bounded quantity spine; global
    // cumulative + class-keyed cumulatives, worst-class gate at t = 0.05
    "q270_t_closeness" ->
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
         FROM emd""",
    // thresholds from exact decimal score sums; the margin tiebreak and
    // the abstention mirror the operator exactly
    "q271_label_noise" ->
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
         FROM c""",
    // per-group exact medians -> |x - m_g| -> the q248 moment identities
    "q275_brown_forsythe" ->
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
         FROM t""",
    // trec_eval conventions: graded gain (2^rel-1)/log2(r+1), IDCG from
    // grades sorted desc truncated at k, AP denominator min(R, k), NULL
    // metrics for queries with nothing relevant
    "q276_ndcg" ->
      (rankingEvalSql + """
         SELECT c AS custkey, n_ranked, n_rel,
           round(dcg, 6) + 0.0 AS dcg, round(idcg, 6) + 0.0 AS idcg,
           round(ndcg, 6) + 0.0 AS ndcg, round(ap, 6) + 0.0 AS ap,
           round(rr, 6) + 0.0 AS rr
         FROM m"""),
    "q277_map_mrr" ->
      (rankingEvalSql + """
         SELECT count(*)::BIGINT AS n_queries, count(ndcg)::BIGINT AS n_judged,
           round(avg(ndcg), 6) + 0.0 AS mean_ndcg,
           round(avg(ap), 6) + 0.0 AS map,
           round(avg(rr), 6) + 0.0 AS mrr
         FROM m"""),
    // same densified-grid dominance counting: two chained partitioned
    // prefix sums over the observed-x x observed-y grid, scipy's
    // tie-corrected variance for z
    "q278_kendall_tau" ->
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
         FROM f""",
    // the q278 grid CTEs with the Somers final ratios: predictor ties
    // leave the denominator per direction
    "q363_somers_d" ->
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
         FROM f""",
    // exact cross-pair counts from the exclusive distinct-value cumsum —
    // gt = sum n_a(v) * (#b below v), lt symmetric, ties at equal v
    "q279_cliffs_delta" ->
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
         FROM t""",
    // same raw-power-sum central moments + transform algebra as the Scala
    // scalar path; cbrt handles the negative cube-root branch identically
    "q281_dagostino" ->
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
         FROM f""",
    // rebased zero-filled hourly series; same cos/sin sums per period
    "q303_periodogram" ->
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         hourly AS (SELECT h, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(h) FROM e),
                  (SELECT max(h) FROM e) + 1)) h),
         series AS (SELECT (spine.h - (SELECT min(h) FROM e))::BIGINT t,
                  coalesce(hourly.y, 0) y
                FROM spine LEFT JOIN hourly USING (h)),
         st AS (SELECT count(*)::BIGINT n, avg(y) mu,
                 sum(y * y) - count(*) * avg(y) * avg(y) ss
               FROM series),
         p AS (SELECT unnest([24, 168]) period),
         a AS (SELECT p.period,
                 sum((y - st.mu) * cos(2 * pi() / p.period * t)) c,
                 sum((y - st.mu) * sin(2 * pi() / p.period * t)) s
               FROM series, st, p GROUP BY p.period),
         f AS (SELECT a.period, a.c, a.s, st.n, st.ss FROM a, st)
         SELECT period, n, round(c, 4) + 0.0 AS c, round(s, 4) + 0.0 AS s,
           round(c * c + s * s, 2) + 0.0 AS power,
           CASE WHEN ss > 0 THEN
             round((c * c + s * s) * 2 / (n * ss), 6) + 0.0 END AS frac
         FROM f ORDER BY period""",
    // same block partitioning, mean-adjusted cumulative ranges, and
    // log-log fit over the four scales
    "q304_hurst" ->
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         hourly AS (SELECT h, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(h) FROM e),
                  (SELECT max(h) FROM e) + 1)) h),
         series AS (SELECT (spine.h - (SELECT min(h) FROM e))::BIGINT t,
                  coalesce(hourly.y, 0) y
                FROM spine LEFT JOIN hourly USING (h)),
         sc AS (SELECT unnest([8, 16, 32, 64]) b),
         tagged AS (SELECT sc.b, series.t // sc.b blk, series.t, series.y
                FROM series, sc),
         fullb AS (SELECT b, blk FROM tagged GROUP BY 1, 2
                HAVING count(*) = b),
         blocks AS (SELECT tg.* FROM tagged tg JOIN fullb USING (b, blk)),
         wm AS (SELECT b, blk, t, y,
                 avg(y) OVER (PARTITION BY b, blk) mu
               FROM blocks),
         cums AS (SELECT b, blk, y,
                 sum(y - mu) OVER (PARTITION BY b, blk ORDER BY t
                   ROWS UNBOUNDED PRECEDING) cum
               FROM wm),
         rs AS (SELECT b, blk,
                 max(cum) - least(min(cum), 0) r,
                 sqrt(greatest(avg(y * y) - avg(y) * avg(y), 0)) sg
               FROM cums GROUP BY 1, 2),
         ms AS (SELECT b, count(*)::BIGINT n_blocks, avg(r / sg) mean_rs
               FROM rs WHERE sg > 0 GROUP BY 1),
         pts AS (SELECT ln(b::DOUBLE) x, ln(mean_rs) y FROM ms
               WHERE mean_rs > 0),
         mm AS (SELECT avg(x) mx, avg(y) my FROM pts),
         ssq AS (SELECT sum((x - mx) * (x - mx)) sxx,
                 sum((x - mx) * (y - my)) sxy,
                 sum((y - my) * (y - my)) syy
               FROM pts, mm),
         fit AS (SELECT CASE WHEN sxx > 0 AND syy > 0 THEN sxy / sxx END hh,
                 CASE WHEN sxx > 0 AND syy > 0
                   THEN sxy * sxy / (sxx * syy) END r2
               FROM ssq)
         SELECT b::INT AS b, n_blocks, round(mean_rs, 6) + 0.0 AS mean_rs,
           round(hh, 6) + 0.0 AS hurst, round(r2, 6) + 0.0 AS r2
         FROM ms, fit ORDER BY b""",
    // one keyed count + one moment reduce; same closed-form z
    "q302_overdispersion" ->
      """WITH u AS (SELECT user_id, count(*)::DOUBLE c FROM events
                WHERE user_id IS NOT NULL GROUP BY 1),
         m AS (SELECT count(*)::BIGINT n, avg(c) mu, var_samp(c) v FROM u)
         SELECT n, round(mu, 6) + 0.0 AS mean,
           round(v, 6) + 0.0 AS variance,
           round(v / mu, 6) + 0.0 AS dispersion,
           round((n - 1) * v / mu, 6) + 0.0 AS chi2,
           round(sqrt(2 * (n - 1) * v / mu) - sqrt(2.0 * (n - 1) - 1), 6)
             + 0.0 AS z
         FROM m""",
    // the dagostino power-sum CTE chain, ending in the JB statistic and
    // the exact chi2(2) survival exp(-jb/2)
    "q303_jarque_bera" ->
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
         FROM j""",
    // per-group sample variances from exact power sums; df = k-1 = 4 is
    // even, so the survival is the closed form exp(-x/2)(1 + x/2)
    "q304_bartlett" ->
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
         FROM b""",
    // one moment CTE per slice; the same pooled-sd algebra as the Spark
    // driver literals
    "q305_effect_sizes" ->
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
         FROM e""",
    // rank-exact lower median from the distinct-count prefix sum; the
    // same 2xk Pearson cells; df = 4 closed-form survival
    "q307_mood_median" ->
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
         FROM x, t, cut, nn""",
    // complete-block filter on the (user, type) cell table; the Q
    // identity over row/column totals; df = 4 closed-form survival
    "q308_cochran_q" ->
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
         FROM qq""",
    // keyed lag window over (ts, event_id); the same mu_R / sigma_R
    // normal approximation
    "q309_runs_test" ->
      """WITH b AS (SELECT event_type kk, ts, event_id, value v FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
         m AS (SELECT kk, sum(v) / count(*) mu FROM b GROUP BY 1),
         s AS (SELECT b.kk, ts, event_id,
                 CASE WHEN v > mu THEN 1 ELSE 0 END s
               FROM b JOIN m ON m.kk = b.kk WHERE v <> mu),
         lg AS (SELECT kk, s,
                 lag(s) OVER (PARTITION BY kk ORDER BY ts, event_id) p
               FROM s),
         r AS (SELECT kk, sum(s)::BIGINT n1, sum(1 - s)::BIGINT n2,
                 sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0
                   END)::BIGINT runs
               FROM lg GROUP BY 1)
         SELECT kk AS "key", n1, n2, runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
               AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2)) > 0
             THEN round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
               / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                 / (pow((n1 + n2)::DOUBLE, 2) * (n1 + n2 - 1))), 6) + 0.0
             END AS z
         FROM r ORDER BY kk""",
    // per-key closed-form OLS from raw moments (x centered at the same
    // epoch literal), residual lag window, the same DW ratio
    "q310_durbin_watson" ->
      """WITH b AS (SELECT event_type kk, ts, event_id,
                  floor(epoch(ts) / 3600) - 473702 x, value - 35.0 y
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_id IS NOT NULL AND event_type IS NOT NULL),
         m AS (SELECT kk, count(*)::BIGINT n, sum(x) sx, sum(y) sy,
                 sum(x * x) sxx, sum(x * y) sxy
               FROM b GROUP BY 1),
         f AS (SELECT kk, n, sx, sy,
                 CASE WHEN n * sxx - sx * sx > 0
                   THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END b0
               FROM m),
         f2 AS (SELECT kk, n, b0, (sy - b0 * sx) / n a0 FROM f),
         e AS (SELECT b.kk, f2.n, b0, a0, y - a0 - b0 * x e,
                 lag(y - a0 - b0 * x)
                   OVER (PARTITION BY b.kk ORDER BY ts, event_id) ep
               FROM b JOIN f2 ON f2.kk = b.kk),
         r AS (SELECT kk, max(n) n, max(b0) b0, max(a0) a0,
                 sum(e * e) see, sum((e - ep) * (e - ep)) sde
               FROM e GROUP BY 1)
         SELECT kk AS "key", n, round(b0, 6) + 0.0 AS slope,
           round(a0, 6) + 0.0 AS intercept,
           CASE WHEN see > 0 THEN round(sde / see, 6) + 0.0 END AS dw
         FROM r ORDER BY kk""",
    // the two-pass LM construction; p via the identical A&S erfc
    // polynomial (t in 1/(1 + 0.3275911*sqrt(lm/2)))
    "q311_breusch_pagan" ->
      """WITH b AS (SELECT floor(epoch(ts) / 3600) - 473702 x,
                  value - 35.0 y
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         m AS (SELECT count(*)::BIGINT n, sum(x) sx, sum(y) sy,
                 sum(x * x) sxx, sum(x * y) sxy FROM b),
         f AS (SELECT n, sx, sy, n * sxx - sx * sx den,
                 (n * sxy - sx * sy) / (n * sxx - sx * sx) b0 FROM m),
         f2 AS (SELECT n, sx, den, b0, (sy - b0 * sx) / n a0 FROM f),
         m2 AS (SELECT n, sx, den, b0, a0,
                 sum(pow(y - a0 - b0 * x, 2)) su,
                 sum(x * pow(y - a0 - b0 * x, 2)) sxu,
                 sum(pow(pow(y - a0 - b0 * x, 2), 2)) suu
               FROM b, f2 GROUP BY 1, 2, 3, 4, 5),
         lmx AS (SELECT n, b0, a0,
                 n * pow(n * sxu - sx * su, 2) / (den * (n * suu - su * su)) lm
               FROM m2),
         pp AS (SELECT n, b0, a0, lm,
                 1 / (1 + 0.3275911 * sqrt(lm / 2)) t FROM lmx)
         SELECT n, round(b0, 6) + 0.0 AS slope, round(a0, 6) + 0.0 AS intercept,
           round(lm, 6) + 0.0 AS lm, 1 AS df,
           round(t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
             + t * (-1.453152027 + t * 1.061405429)))) * exp(-lm / 2), 6)
             + 0.0 AS p_value
         FROM pp""",
    // the q301 day spine; trend via the bounded offsets join; weekday
    // indices re-centered to zero mean
    "q312_seasonal_decompose" ->
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
         FROM detr d LEFT JOIN c ON c.p = d.t % 7 ORDER BY d.t""",
    // the same distinct-edge self-join over parts; AA weight from the
    // part's supplier degree; jaccard from full degrees
    "q313_adamic_adar" ->
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
         ORDER BY p.a, p.b""",
    // endpoint-degree Pearson over the distinct directed edge list;
    // integer moments are exact on both engines
    "q314_assortativity" ->
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
         FROM m, nn""",
    // d-bounded index cross join replays the same raw-moment covariance
    // cell algebra (1-based list access shifted back to 0-based)
    "q315_embedding_cov" ->
      """WITH x AS (SELECT embedding e FROM embeddings
                WHERE embedding IS NOT NULL),
         dd AS (SELECT max(len(e)) d FROM x),
         idx AS (SELECT unnest(range(1, (SELECT d FROM dd) + 1)) i),
         p AS (SELECT a.i i, b.i j FROM idx a, idx b WHERE a.i <= b.i),
         cgg AS (SELECT p.i, p.j, count(*)::BIGINT n,
                 sum(e[p.i]::DOUBLE) si, sum(e[p.j]::DOUBLE) sj,
                 sum(e[p.i]::DOUBLE * e[p.j]::DOUBLE) sij
               FROM x, p GROUP BY 1, 2)
         SELECT i - 1 AS i, j - 1 AS j, round(si / n, 6) + 0.0 AS mean_i,
           round(sj / n, 6) + 0.0 AS mean_j,
           round((sij - si * sj / n) / (n - 1), 6) + 0.0 AS cov
         FROM cgg ORDER BY 1, 2""",
    // the eigen contract: unit norms / zero orthogonality / zero C·v−λv
    // residual are literal at Jacobi precision; the trace is recomputed
    // from the parquet with the q315 covariance moment formula
    "q316_pca_components" ->
      """WITH x AS (SELECT embedding e FROM embeddings
                WHERE embedding IS NOT NULL),
         dd AS (SELECT max(len(e)) d FROM x),
         idx AS (SELECT unnest(range(1, (SELECT d FROM dd) + 1)) i),
         m AS (SELECT i, count(*)::BIGINT n, sum(e[i]::DOUBLE) si,
                 sum(e[i]::DOUBLE * e[i]::DOUBLE) sii
               FROM x, idx GROUP BY i),
         tr AS (SELECT round(sum((sii - si * si / n) / (n - 1)), 6) + 0.0 t
               FROM m)
         SELECT c::INT AS component, 1.0 AS norm, 0.0 AS max_ortho,
           0.0 AS rel_residual, t AS trace, true AS eig_descending
         FROM range(4) r(c), tr ORDER BY component""",
    // whitening contract: z = wᵀ(x−μ)/√λ with λ the Rayleigh quotient of
    // w under the SAME sample covariance forces var_samp(z) = 1 exactly
    // (to fp); decorrelation follows from Jacobi orthogonality
    "q317_pca_whiten" ->
      """SELECT count(*)::BIGINT AS n, 1.0 AS var_z0, 1.0 AS var_z1,
           true AS decorrelated FROM embeddings""",
    // identical midpoint quadrature: F_A by the shifted running sum,
    // P(B>A) = sum fb * F_A / m; engine lgamma differences are ~1e-10
    "q318_bayesian_ab" ->
      """WITH a AS (SELECT count(*)::BIGINT n,
                  sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::BIGINT s
                FROM events WHERE event_type = 'view' AND value IS NOT NULL),
         b AS (SELECT count(*)::BIGINT n,
                  sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::BIGINT s
                FROM events WHERE event_type = 'click' AND value IS NOT NULL),
         pr AS (SELECT a.s + 1.0 aa, a.n - a.s + 1.0 ab,
                 b.s + 1.0 ba, b.n - b.s + 1.0 bb FROM a, b),
         g AS (SELECT (unnest(range(0, 4000)) + 0.5) / 4000.0 x),
         pdf AS (SELECT x,
                 exp(lgamma(aa + ab) - lgamma(aa) - lgamma(ab)
                   + (aa - 1) * ln(x) + (ab - 1) * ln(1 - x)) fa,
                 exp(lgamma(ba + bb) - lgamma(ba) - lgamma(bb)
                   + (ba - 1) * ln(x) + (bb - 1) * ln(1 - x)) fb
               FROM g, pr),
         cum AS (SELECT x, fb,
                 (sum(fa) OVER (ORDER BY x) - 0.5 * fa) / 4000.0 cfa
               FROM pdf),
         p AS (SELECT least(1.0, sum(fb * cfa) / 4000.0) prob FROM cum)
         SELECT a.n AS n_a, a.s AS s_a, b.n AS n_b, b.s AS s_b,
           round((a.s + 1.0) / (a.n + 2.0), 6) + 0.0 AS mean_a,
           round((b.s + 1.0) / (b.n + 2.0), 6) + 0.0 AS mean_b,
           round(prob, 6) + 0.0 AS prob_b_gt_a
         FROM a, b, p""",
    // identical counting conventions: \s+ tokens of the trimmed lowered
    // text, chr(10) lines, replace-based symbol counts
    "q319_gopher_rules" ->
      """WITH d AS (SELECT doc_id, text, lower(trim(text)) lt FROM documents
                WHERE text IS NOT NULL),
         s AS (SELECT doc_id, text,
                 list_filter(regexp_split_to_array(lt, '\s+'),
                   w -> len(w) > 0) toks,
                 string_split(text, chr(10)) ls
               FROM d),
         sig AS (SELECT len(toks) nw,
                 CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE len(regexp_replace(lower(trim(text)), '\s+', '',
                     'g'))::DOUBLE / len(toks) END mw,
                 (len(text) - len(replace(text, '#', ''))
                   + len(text) - len(replace(text, '…', ''))
                   + (len(text) - len(replace(text, '...', ''))) / 3.0)
                   / greatest(len(toks), 1) sym,
                 len(list_filter(ls, l -> regexp_matches(trim(l),
                   '^[-*•‣▪]')))::DOUBLE / greatest(len(ls), 1) bf,
                 len(list_filter(ls, l -> regexp_matches(trim(l),
                   '(\.\.\.|…)$')))::DOUBLE / greatest(len(ls), 1) ef,
                 len(list_filter(toks, w -> regexp_matches(w,
                   '\p{L}')))::DOUBLE / greatest(len(toks), 1) af,
                 len(list_intersect(toks, ['the', 'be', 'to', 'of', 'and',
                   'that', 'have', 'with'])) sh
               FROM s)
         SELECT count(*)::BIGINT n_docs,
           sum(CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0
             END)::BIGINT pass_words,
           sum(CASE WHEN mw >= 3 AND mw <= 10 THEN 1 ELSE 0
             END)::BIGINT pass_mean_word,
           sum(CASE WHEN sym < 0.1 THEN 1 ELSE 0 END)::BIGINT pass_symbol,
           sum(CASE WHEN bf < 0.9 THEN 1 ELSE 0 END)::BIGINT pass_bullet,
           sum(CASE WHEN ef < 0.3 THEN 1 ELSE 0 END)::BIGINT pass_ellipsis,
           sum(CASE WHEN af > 0.8 THEN 1 ELSE 0 END)::BIGINT pass_alpha,
           sum(CASE WHEN sh >= 2 THEN 1 ELSE 0 END)::BIGINT pass_stopwords,
           sum(CASE WHEN nw >= 50 AND nw <= 100000 AND mw >= 3 AND mw <= 10
             AND sym < 0.1 AND bf < 0.9 AND ef < 0.3 AND af > 0.8
             AND sh >= 2 THEN 1 ELSE 0 END)::BIGINT pass_all,
           round(avg(mw), 6) + 0.0 AS avg_mean_word_len
         FROM sig""",
    // the same synthesized '.\n' line structure, then the C4 keep rules
    // per line and doc-level lorem/brace drops
    "q320_c4_filter" ->
      """WITH d AS (SELECT doc_id,
                  replace(text, ' table ', '.' || chr(10)) t
                FROM documents WHERE text IS NOT NULL),
         f AS (SELECT doc_id, lower(t) low FROM d
               WHERE lower(t) NOT LIKE '%lorem ipsum%'
                 AND lower(t) NOT LIKE '%{%'),
         k AS (SELECT doc_id, string_split(low, chr(10)) ls,
                 list_filter(string_split(low, chr(10)), l ->
                   regexp_matches(trim(l), '[.!?"”]$')
                   AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
                   AND l NOT LIKE '%javascript%') kept
               FROM f)
         SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept,
           md5(array_to_string(kept, chr(10))) AS clean_md5
         FROM k WHERE len(kept) > 0 ORDER BY doc_id""",
    // per-dim sums of the normalized vectors; the same pair-free identity
    "q321_isotropy" ->
      """WITH x AS (SELECT embedding e,
                  sqrt(list_sum(list_transform(embedding,
                    v -> v::DOUBLE * v))) nrm
                FROM embeddings WHERE embedding IS NOT NULL),
         u AS (SELECT list_transform(e, v -> v::DOUBLE / nrm) uu
               FROM x WHERE nrm > 0),
         dims AS (SELECT unnest(uu) v,
                 generate_subscripts(uu, 1) i FROM u),
         s AS (SELECT i, sum(v) sv FROM dims GROUP BY 1),
         tot AS (SELECT sum(sv * sv) s2 FROM s),
         nn AS (SELECT count(*)::BIGINT n FROM u)
         SELECT n,
           CASE WHEN n >= 2
             THEN round((s2 - n) / (n * (n - 1.0)), 6) + 0.0
             END AS mean_pairwise_cos
         FROM tot, nn""",
    // identical scaled-prefix EWMA: cum of y*(1/(1-a))^k, first_value
    // y0, lag for the one-step forecast
    "q322_ewma_backtest" ->
      """WITH e AS (SELECT floor(epoch(ts) / 86400)::BIGINT d FROM events
                WHERE ts IS NOT NULL),
         daily AS (SELECT d, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) t),
         series AS (SELECT spine.t, coalesce(daily.y, 0) y
                FROM spine LEFT JOIN daily ON daily.d = spine.t),
         kk AS (SELECT t - (SELECT min(t) FROM series) k, y FROM series),
         c AS (SELECT k, y,
                 sum(CASE WHEN k > 0 THEN y * pow(1 / 0.7, k) ELSE 0 END)
                   OVER (ORDER BY k) cum,
                 first_value(y) OVER (ORDER BY k) y0
               FROM kk),
         s AS (SELECT k, y, pow(0.7, k) * (y0 + 0.3 * cum) sv FROM c),
         f AS (SELECT k, y, lag(sv) OVER (ORDER BY k) fc,
                 lag(y) OVER (ORDER BY k) yp FROM s),
         m AS (SELECT count(*)::BIGINT n_scored, avg(abs(y - fc)) mae_e,
                 avg(abs(y - yp)) mae_n
               FROM f WHERE k > 0),
         nn AS (SELECT count(*)::BIGINT n FROM series)
         SELECT n, n_scored, round(mae_e, 6) + 0.0 AS mae_ewma,
           round(mae_n, 6) + 0.0 AS mae_naive1,
           CASE WHEN mae_n > 0
             THEN round(mae_e / mae_n, 6) + 0.0 END AS rel_mae
         FROM m, nn""",
    // arithmetic day-of-epoch categories; uniform expectation; df = 6
    // closed survival exp(-x/2)(1 + x/2 + (x/2)^2/2)
    "q323_chisq_gof" ->
      """WITH b AS (SELECT (floor(epoch(ts) / 86400)::BIGINT % 7)::VARCHAR v
                FROM events WHERE ts IS NOT NULL),
         o AS (SELECT v, count(*)::BIGINT o FROM b GROUP BY 1),
         e AS (SELECT unnest(range(0, 7))::VARCHAR v, 1.0 / 7 p),
         j AS (SELECT e.v, e.p, coalesce(o.o, 0) o
               FROM e LEFT JOIN o ON o.v = e.v),
         t AS (SELECT sum(o)::BIGINT n FROM j),
         x AS (SELECT sum(pow(o - n * p, 2) / (n * p)) chi2 FROM j, t)
         SELECT n, 7 AS k, round(chi2, 6) + 0.0 AS chi2, 6 AS df,
           round(exp(-chi2 / 2) * (1 + chi2 / 2 + pow(chi2 / 2, 2) / 2), 6)
             + 0.0 AS p_value
         FROM x, t""",
    // observed-cell likelihood-ratio sum; df = 76 survival as the
    // 38-term lgamma series (same even-df closed form, different but
    // equally exact arithmetic)
    "q324_g_test" ->
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
         FROM pp, t""",
    // the same per-user conditional counts and moment-sum variances
    "q325_cronbach" ->
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
         FROM v""",
    // identical logistic pseudo-score; decile cutpoints from the
    // distinct-score cumsum; df = 8 closed survival (4 terms)
    "q326_hosmer_lemeshow" ->
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
         FROM hh, nn""",
    // identical score + rank-exact 20-bin cutpoints; the minimax isotonic
    // fit replayed as a three-way bin join (max over i<=k of min over
    // j>=k of the exact-long block mean)
    "q354_isotonic_calibration" ->
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
         ORDER BY byb.bin""",
    // the q327 rank-overlap algebra per side; Yuen/Welch-Satterthwaite
    // driver arithmetic mirrored expression-for-expression
    "q361_yuen_trimmed" ->
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
         FROM dd""",
    // the same rank-overlap algebra over the distinct-value cumsum
    "q327_robust_location" ->
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
         FROM x""",
    // the wasserstein CDF chain with directional maxima and the same
    // truncated Kuiper series
    "q328_kuiper" ->
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
         FROM pp, t""",
    // the q309 battery, the shared A&S two-sided p, and the Holm
    // step-down (rank window + running max, both over 5 rows)
    "q329_p_adjust" ->
      """WITH b AS (SELECT event_type kk, ts, event_id, value v FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
         m AS (SELECT kk, sum(v) / count(*) mu FROM b GROUP BY 1),
         s AS (SELECT b.kk, ts, event_id,
                 CASE WHEN v > mu THEN 1 ELSE 0 END s
               FROM b JOIN m ON m.kk = b.kk WHERE v <> mu),
         lg AS (SELECT kk, s,
                 lag(s) OVER (PARTITION BY kk ORDER BY ts, event_id) p
               FROM s),
         r AS (SELECT kk, sum(s)::BIGINT n1, sum(1 - s)::BIGINT n2,
                 sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0
                   END)::BIGINT runs
               FROM lg GROUP BY 1),
         z AS (SELECT kk, (runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                   / (pow((n1 + n2)::DOUBLE, 2) * (n1 + n2 - 1))) zz
               FROM r),
         pv AS (SELECT kk, abs(zz) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)) t FROM z),
         pr AS (SELECT kk, t * (0.254829592 + t * (-0.284496736
                 + t * (1.421413741 + t * (-1.453152027
                 + t * 1.061405429)))) * exp(-az * az) p FROM pv),
         hm AS (SELECT kk, p,
                 p * (count(*) OVER () - row_number()
                   OVER (ORDER BY p ASC) + 1) raw
               FROM pr),
         ad AS (SELECT kk, p, least(max(raw) OVER (ORDER BY p ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 1.0) pa
               FROM hm)
         SELECT kk AS "key", round(p, 6) + 0.0 AS p,
           round(pa, 6) + 0.0 AS p_adjusted
         FROM ad ORDER BY kk""",
    // the q326 pseudo-score over fixed-width bins; weighted and max gaps
    "q330_calibration_error" ->
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
         FROM g""",
    // one moment pass over the positive per-user loads
    "q331_inequality" ->
      """WITH u AS (SELECT count(*)::DOUBLE x FROM events
                WHERE user_id IS NOT NULL GROUP BY user_id),
         m AS (SELECT count(*)::BIGINT n, sum(x) sx, sum(x * ln(x)) sxlx,
                 sum(ln(x)) slx, sum(x * x) sxx
               FROM u WHERE x > 0)
         SELECT n, round(sx / n, 6) + 0.0 AS mean,
           round(sxlx / sx - ln(sx / n), 6) + 0.0 AS theil_t,
           round(1 - exp(slx / n) / (sx / n), 6) + 0.0 AS atkinson_1,
           round(((sxx - sx * (sx / n)) / (n - 1)) / pow(sx / n, 2), 6)
             + 0.0 AS cv2
         FROM m""",
    // the pooled-distinct-value cumsum with midrank adjustments; h and g
    // via the same harmonic identities over range spines
    "q332_anderson_darling" ->
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
         FROM a2x, vr, t""",
    // the same zero-filled grid; moment algebra and the MoM NB fit
    "q333_count_model" ->
      """WITH e AS (SELECT user_id u, floor(epoch(ts) / 86400)::BIGINT d
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         cts AS (SELECT u, d, count(*)::DOUBLE c FROM e GROUP BY 1, 2),
         us AS (SELECT DISTINCT u FROM e),
         sp AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) d),
         grid AS (SELECT coalesce(cts.c, 0) c
               FROM us CROSS JOIN sp
               LEFT JOIN cts ON cts.u = us.u AND cts.d = sp.d),
         m AS (SELECT count(*)::BIGINT n, sum(c) s, sum(c * c) q,
                 sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)::BIGINT z
               FROM grid),
         st AS (SELECT n, s / n mu, (q - s * s / n) / (n - 1) v,
                 z::DOUBLE / n zo FROM m)
         SELECT n, round(mu, 6) + 0.0 AS mean, round(v, 6) + 0.0 AS variance,
           round(zo, 6) + 0.0 AS zero_frac_obs,
           round(exp(-mu), 6) + 0.0 AS zero_frac_poisson,
           CASE WHEN v > mu AND mu > 0
             THEN round(mu * mu / (v - mu), 6) + 0.0 END AS nb_r,
           CASE WHEN v > mu AND mu > 0
             THEN round(pow((mu * mu / (v - mu))
               / (mu * mu / (v - mu) + mu), mu * mu / (v - mu)), 6) + 0.0
             END AS zero_frac_nb
         FROM st""",
    // the same pseudo-predictor; cells + marginals + per-class PRF
    "q334_confusion" ->
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
         FROM x ORDER BY cls""",
    // macro over actual-present classes; sklearn zero_division = 0
    "q335_classification_summary" ->
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
         FROM f""",
    // full per-row replay: the 2×2 inverse is closed-form, so DuckDB
    // recomputes every Mahalanobis score from the same parquet (means +
    // sample covariance via the q315 moment formula, then the quadratic
    // form) — value-level pin of the Cholesky whitening path
    "q336_mahalanobis" ->
      """WITH s AS (SELECT count(*)::BIGINT n,
                  sum(embedding[1]::DOUBLE) sx, sum(embedding[2]::DOUBLE) sy,
                  sum(embedding[1]::DOUBLE * embedding[1]::DOUBLE) sxx,
                  sum(embedding[2]::DOUBLE * embedding[2]::DOUBLE) syy,
                  sum(embedding[1]::DOUBLE * embedding[2]::DOUBLE) sxy
                FROM embeddings WHERE embedding IS NOT NULL),
         c AS (SELECT sx / n mx, sy / n my,
                 (sxx - sx * sx / n) / (n - 1) cxx,
                 (syy - sy * sy / n) / (n - 1) cyy,
                 (sxy - sx * sy / n) / (n - 1) cxy FROM s)
         SELECT vec_id,
           round((cyy * (embedding[1]::DOUBLE - mx) * (embedding[1]::DOUBLE - mx)
             - 2 * cxy * (embedding[1]::DOUBLE - mx) * (embedding[2]::DOUBLE - my)
             + cxx * (embedding[2]::DOUBLE - my) * (embedding[2]::DOUBLE - my))
             / (cxx * cyy - cxy * cxy), 6) + 0.0 AS md2
         FROM embeddings, c ORDER BY vec_id""",
    // the same quantized ratings; ordinal index via row_number over the
    // distinct levels; quadratic penalties on observed and expected
    "q337_weighted_kappa" ->
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
         FROM ob, ex, mm, kx""",
    // one conditional-count pass; the same marginal-guarded panel
    "q338_binary_diagnostics" ->
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
         FROM x""",
    // covariance blocks from raw pair moments over the upper triangle;
    // the rectangle/diagonal multiplicities fold the symmetric cells
    "q339_linear_cka" ->
      """WITH x AS (SELECT embedding e FROM embeddings
                WHERE embedding IS NOT NULL),
         idx AS (SELECT unnest(range(1, 65)) i),
         caa AS (SELECT a.i i, b.i j, count(*)::BIGINT n,
                 sum(e[a.i]::DOUBLE) si, sum(e[b.i]::DOUBLE) sj,
                 sum(e[a.i]::DOUBLE * e[b.i]::DOUBLE) sij
               FROM x, idx a, idx b WHERE a.i <= b.i GROUP BY 1, 2),
         cv AS (SELECT i, j, pow((sij - si * sj / n) / (n - 1), 2) c2,
                 max(n) OVER () nn FROM caa),
         f AS (SELECT
                 sum(CASE WHEN i = j THEN c2 ELSE 2 * c2 END) faa,
                 sum(CASE WHEN i <= 16 AND j <= 16 THEN
                   CASE WHEN i = j THEN c2 ELSE 2 * c2 END ELSE 0 END) fbb,
                 sum(CASE WHEN i <= 16 AND j <= 16 AND i <> j THEN 2 * c2
                   WHEN i <= 16 AND j <= 16 AND i = j THEN c2
                   WHEN i <= 16 AND j > 16 THEN c2
                   ELSE 0 END) fab,
                 max(nn) nn
               FROM cv)
         SELECT nn AS n, 64 AS dim_a, 16 AS dim_b,
           CASE WHEN faa > 0 AND fbb > 0
             THEN round(fab / sqrt(faa * fbb), 6) + 0.0 END AS cka
         FROM f""",
    // the same salted md5 per-class rank; id-sum pins the kept set
    "q340_balanced_downsample" ->
      """WITH m AS (SELECT min(c) mn FROM
                (SELECT count(*) c FROM documents WHERE lang IS NOT NULL
                 GROUP BY lang)),
         r AS (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5('balance' || '|' || doc_id::VARCHAR),
                     doc_id) rk
               FROM documents WHERE lang IS NOT NULL)
         SELECT lang, count(*)::BIGINT n_kept, sum(doc_id)::BIGINT id_sum
         FROM r, m WHERE rk <= mn GROUP BY lang ORDER BY lang""",
    // the layout round trip reduces to the source predicate: the pruned
    // read must return exactly the click slice
    "q341_partition_pruning" ->
      """SELECT count(*)::BIGINT AS n,
           round(sum(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS sum_value
         FROM events WHERE event_type = 'click'""",
    // the q326 rank-exact cutpoints on BOTH axes; the same plug-in MI
    "q342_numeric_mi" ->
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
         FROM mi, ha, hb, t""",
    // the same phase-keyed pair join and per-phase tie algebra
    "q343_seasonal_mk" ->
      """WITH days AS (SELECT ts::DATE dd, count(*)::BIGINT y FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         d2 AS (SELECT dd, y,
                 ((dd - DATE '1970-01-01') % 7 + 7) % 7 g FROM days),
         sx AS (SELECT coalesce(sum(CASE WHEN b.y > a.y THEN 1
                   WHEN b.y < a.y THEN -1 ELSE 0 END), 0)::BIGINT s
               FROM d2 a JOIN d2 b ON a.g = b.g AND b.dd > a.dd),
         ps AS (SELECT g, count(*)::BIGINT ng FROM d2 GROUP BY 1),
         tp AS (SELECT g, sum(t * (t - 1) * (t * 2 + 5))::BIGINT tt FROM
                (SELECT g, y, count(*)::BIGINT t FROM d2 GROUP BY 1, 2)
               GROUP BY 1),
         vx AS (SELECT sum((ng * (ng - 1) * (ng * 2 + 5) - tt)::DOUBLE / 18) v,
                 sum(ng)::BIGINT n
               FROM ps JOIN tp USING (g))
         SELECT n AS n_days, 7 AS period, s,
           round(v, 6) + 0.0 AS var_s,
           CASE WHEN v > 0 THEN round(CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
             WHEN s < 0 THEN (s + 1) / sqrt(v) ELSE 0.0 END, 6) + 0.0
             END AS z,
           CASE WHEN v > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
               WHEN s < 0 THEN (s + 1) / sqrt(v) ELSE 0.0 END)
               > 1.959963984540054 THEN 'increasing'
             WHEN v > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
               WHEN s < 0 THEN (s + 1) / sqrt(v) ELSE 0.0 END)
               < -1.959963984540054 THEN 'decreasing'
             ELSE 'none' END AS trend
         FROM sx, vx""",
    // the q326 rank-exact cutpoints on the reference week; eps-floored
    // shares on both sides
    "q344_psi_quantile" ->
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
         FROM x, t""",
    // closed-form 2×2 eigen replay: λ = (t ± √((cxx−cyy)² + 4cxy²))/2,
    // v₁ ∝ (cxy, λ₁−cxx), v₂ = v₁⊥, the operator's sign convention
    // (largest-|coordinate| positive, ties → lower index) as CASE
    "q345_pca2_closed_form" ->
      """WITH s AS (SELECT count(*)::BIGINT n,
                  sum(embedding[1]::DOUBLE) sx, sum(embedding[2]::DOUBLE) sy,
                  sum(embedding[1]::DOUBLE * embedding[1]::DOUBLE) sxx,
                  sum(embedding[2]::DOUBLE * embedding[2]::DOUBLE) syy,
                  sum(embedding[1]::DOUBLE * embedding[2]::DOUBLE) sxy
                FROM embeddings WHERE embedding IS NOT NULL),
         c AS (SELECT (sxx - sx * sx / n) / (n - 1) cxx,
                 (syy - sy * sy / n) / (n - 1) cyy,
                 (sxy - sx * sy / n) / (n - 1) cxy FROM s),
         e AS (SELECT cxx, cyy, cxy, cxx + cyy tr,
                 (cxx + cyy + sqrt((cxx - cyy) * (cxx - cyy)
                   + 4 * cxy * cxy)) / 2 l1,
                 (cxx + cyy - sqrt((cxx - cyy) * (cxx - cyy)
                   + 4 * cxy * cxy)) / 2 l2 FROM c),
         u AS (SELECT l1, l2, tr,
                 cxy / sqrt(cxy * cxy + (l1 - cxx) * (l1 - cxx)) ux,
                 (l1 - cxx) / sqrt(cxy * cxy + (l1 - cxx) * (l1 - cxx)) uy
               FROM e),
         v1 AS (SELECT l1, l2, tr,
                 CASE WHEN (CASE WHEN abs(ux) >= abs(uy) THEN ux
                   ELSE uy END) < 0 THEN -ux ELSE ux END x,
                 CASE WHEN (CASE WHEN abs(ux) >= abs(uy) THEN ux
                   ELSE uy END) < 0 THEN -uy ELSE uy END y
               FROM u),
         v2 AS (SELECT l1, l2, tr, x, y,
                 CASE WHEN (CASE WHEN abs(y) >= abs(x) THEN -y
                   ELSE x END) < 0 THEN y ELSE -y END px,
                 CASE WHEN (CASE WHEN abs(y) >= abs(x) THEN -y
                   ELSE x END) < 0 THEN -x ELSE x END py
               FROM v1)
         SELECT * FROM (
           SELECT 0::INT AS component, 0::INT AS dim,
             round(x, 6) + 0.0 AS value, round(l1, 6) + 0.0 AS eigenvalue,
             round(l1 / tr, 6) + 0.0 AS explained_var_ratio FROM v2
           UNION ALL SELECT 0, 1, round(y, 6) + 0.0, round(l1, 6) + 0.0,
             round(l1 / tr, 6) + 0.0 FROM v2
           UNION ALL SELECT 1, 0, round(px, 6) + 0.0, round(l2, 6) + 0.0,
             round(l2 / tr, 6) + 0.0 FROM v2
           UNION ALL SELECT 1, 1, round(py, 6) + 0.0, round(l2, 6) + 0.0,
             round(l2 / tr, 6) + 0.0 FROM v2)
         ORDER BY component, dim""",
    // FULL replay of the capped simhash pipeline: md5-derived 48-bit
    // token-multiset simhash, 8-bit chunks, bucket sizes, the
    // maxBucket=50 drop, pair join, exact shingle-Jaccard >= 0.8
    "q346_simhash_capped" ->
      """WITH t AS (SELECT doc_id, list_filter(
                  regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks FROM documents),
         tt AS (SELECT doc_id, unnest(toks) tok FROM t WHERE len(toks) >= 3),
         th AS (SELECT doc_id, list_sum(list_transform(range(1, 13), i ->
                 (strpos('0123456789abcdef', md5(tok)[i]) - 1)
                   * (1::BIGINT << (4 * (12 - i)))))::BIGINT h
               FROM tt),
         bt AS (SELECT doc_id, j, sum(2 * ((h >> j) & 1) - 1) cnt
               FROM th, range(0, 48) r(j) GROUP BY 1, 2),
         sh AS (SELECT doc_id, sum(CASE WHEN cnt > 0
                 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT sh
               FROM bt GROUP BY 1),
         ch AS (SELECT doc_id, c, (sh >> (8 * c)) & 255 val
               FROM sh, range(0, 8) r(c)),
         keep AS (SELECT c, val FROM ch GROUP BY c, val
               HAVING count(*) <= 50),
         kc AS (SELECT ch.doc_id, ch.c, ch.val
               FROM ch JOIN keep USING (c, val)),
         cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib
               FROM kc a JOIN kc b USING (c, val) WHERE a.doc_id < b.doc_id),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) sh3
               FROM t WHERE len(toks) >= 3)
         SELECT ia AS id_a, ib AS id_b, round(jac, 4) AS jaccard FROM (
           SELECT ia, ib, len(list_intersect(a.sh3, b.sh3))::DOUBLE
               / len(list_distinct(list_concat(a.sh3, b.sh3)))::DOUBLE jac
           FROM cand JOIN s a ON a.doc_id = ia JOIN s b ON b.doc_id = ib)
         WHERE jac >= 0.8 ORDER BY id_a, id_b""",
    // FULL replay of the capped embedding-LSH pipeline: axis-aligned sign
    // bits, 8 bands x 4 bits (MSB-first like bandBuckets), the
    // maxBucket=40 drop, candidate pairs, exact cosine >= 0.4
    "q347_embedding_neardup_capped" ->
      """WITH bits AS (SELECT vec_id, list_transform(range(1, 33),
                 i -> CASE WHEN embedding[i] >= 0 THEN 1 ELSE 0 END) b
               FROM embeddings),
         bands AS (SELECT vec_id, bd, list_aggregate(list_transform(
                 range(1, 5), k -> b[bd * 4 + k] * (1 << (4 - k))),
                 'sum') v
               FROM bits, range(0, 8) r(bd)),
         keep AS (SELECT bd, v FROM bands GROUP BY bd, v
               HAVING count(*) <= 40),
         kb AS (SELECT bands.vec_id, bands.bd, bands.v
               FROM bands JOIN keep USING (bd, v)),
         cand AS (SELECT DISTINCT a.vec_id ia, b.vec_id ib
               FROM kb a JOIN kb b USING (bd, v) WHERE a.vec_id < b.vec_id)
         SELECT ia AS id_a, ib AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
             b.embedding::DOUBLE[]), 4) AS cosine
         FROM cand JOIN embeddings a ON a.vec_id = ia
           JOIN embeddings b ON b.vec_id = ib
         WHERE list_cosine_similarity(a.embedding::DOUBLE[],
           b.embedding::DOUBLE[]) >= 0.4
         ORDER BY id_a, id_b""",
    // the q249 average-rank spine, pairwise z with the tie-corrected
    // sigma^2, the shared A&S two-sided p, Holm over the pair family
    "q348_dunn_posthoc" ->
      """WITH gv AS (SELECT lang g, n_chars::DOUBLE v FROM documents
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
                 1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) t FROM zz),
         pp AS (SELECT ga, gb, na, nb, ra, rb, z,
                 CASE WHEN z IS NOT NULL THEN least(1.0,
                   t * (0.254829592 + t * (-0.284496736
                     + t * (1.421413741 + t * (-1.453152027
                     + t * 1.061405429)))) * exp(-az * az)) END p
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
         FROM ad ORDER BY group_a, group_b""",
    // the q329 battery with the BY harmonic penalty: c(m) = sum(1/rank)
    // over the battery, running-min monotonicity down the descending p
    "q349_p_adjust_by" ->
      """WITH b AS (SELECT event_type kk, ts, event_id, value v FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
         m AS (SELECT kk, sum(v) / count(*) mu FROM b GROUP BY 1),
         s AS (SELECT b.kk, ts, event_id,
                 CASE WHEN v > mu THEN 1 ELSE 0 END s
               FROM b JOIN m ON m.kk = b.kk WHERE v <> mu),
         lg AS (SELECT kk, s,
                 lag(s) OVER (PARTITION BY kk ORDER BY ts, event_id) p
               FROM s),
         r AS (SELECT kk, sum(s)::BIGINT n1, sum(1 - s)::BIGINT n2,
                 sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0
                   END)::BIGINT runs
               FROM lg GROUP BY 1),
         z AS (SELECT kk, (runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                   / (pow((n1 + n2)::DOUBLE, 2) * (n1 + n2 - 1))) zz
               FROM r),
         pv AS (SELECT kk, abs(zz) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)) t FROM z),
         pr AS (SELECT kk, t * (0.254829592 + t * (-0.284496736
                 + t * (1.421413741 + t * (-1.453152027
                 + t * 1.061405429)))) * exp(-az * az) p FROM pv),
         rkd AS (SELECT kk, p, count(*) OVER () m,
                 count(*) OVER () - row_number() OVER (ORDER BY p DESC)
                   + 1 rnk
               FROM pr),
         cm AS (SELECT sum(1.0 / rnk) OVER () hm, kk, p, m, rnk FROM rkd),
         raw AS (SELECT kk, p, p * m * hm / rnk raw FROM cm),
         ad AS (SELECT kk, p, least(min(raw) OVER (ORDER BY p DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 1.0) pa
               FROM raw)
         SELECT kk AS "key", round(p, 6) + 0.0 AS p,
           round(pa, 6) + 0.0 AS p_adjusted
         FROM ad ORDER BY kk""",
    // the KM fixed-point ln cumsum (q235's 1e12 trick) per parity group,
    // then RMST by parts: τ·S(τ) + Σ tᵢ·ΔSᵢ with every τ-window sum
    // quantized to BIGINT before summing (order-independent on both
    // engines); Klein variance via the expanded Σw·A² identity
    "q353_rmst" ->
      """WITH pu AS (SELECT user_id, min(floor(epoch(ts)/3600)) AS f,
                  max(floor(epoch(ts)/3600)) AS l
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY 1),
         h AS (SELECT max(l) AS hm FROM pu),
         bl AS (SELECT (CASE WHEN user_id % 2 = 0 THEN 'even'
                        ELSE 'odd' END) AS g,
                  (l - f)::BIGINT AS life, (hm - l < 24) AS cens
                FROM pu, h),
         g1 AS (SELECT g, life,
                  sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
                  count(*)::BIGINT AS al
                FROM bl GROUP BY 1, 2),
         t AS (SELECT *, coalesce(sum(al) OVER (PARTITION BY g ORDER BY life
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS bef,
                 sum(al) OVER (PARTITION BY g) AS n
               FROM g1),
         x AS (SELECT *, (n - bef)::BIGINT AS nr,
                 (d > 0 AND d = n - bef) AS dead,
                 CASE WHEN d > 0 AND d < n - bef
                      THEN round(ln(1 - d / (n - bef)::DOUBLE)
                        * 1e12)::BIGINT
                      ELSE 0 END AS lnq
               FROM t),
         y AS (SELECT *, coalesce(sum(lnq) OVER (PARTITION BY g
                  ORDER BY life
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS lb
               FROM x),
         z AS (SELECT *, exp(lb / 1e12) AS sbef,
                 CASE WHEN dead THEN 0.0
                      ELSE exp((lb + lnq) / 1e12) END AS s
               FROM y),
         a1 AS (SELECT *, CASE WHEN d > 0
                  THEN round(life * (sbef - s) * 1e12)::BIGINT
                  ELSE 0 END AS aq
                FROM z),
         a2 AS (SELECT *, coalesce(sum(aq) OVER (PARTITION BY g
                  ORDER BY life
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS ab
                FROM a1),
         a3 AS (SELECT *, life * s + (ab + aq) / 1e12 AS area,
                 CASE WHEN d > 0 AND NOT dead
                      THEN d / (nr::DOUBLE * (nr - d))
                      ELSE 0.0 END AS w
                FROM a2),
         gr AS (SELECT g, max(n)::BIGINT AS n FROM t GROUP BY 1),
         f AS (SELECT g, sum(aq)::BIGINT AS saq,
                 sum(round(w * 1e12)::BIGINT)::BIGINT AS sw,
                 sum(round(area * w * 1e12)::BIGINT)::BIGINT AS saw,
                 sum(round(area * area * w * 1e9)::BIGINT)::BIGINT AS sa2w,
                 min(CASE WHEN d > 0 THEN s END) AS stau,
                 sum(d)::BIGINT AS ev
               FROM a3 WHERE life <= 700 GROUP BY 1),
         r AS (SELECT gr.g, 700::BIGINT AS tau, gr.n,
                 coalesce(ev, 0)::BIGINT AS events,
                 700.0 * coalesce(stau, 1.0) + coalesce(saq, 0) / 1e12
                   AS rm,
                 coalesce(sw, 0) / 1e12 AS swd,
                 coalesce(saw, 0) / 1e12 AS sawd,
                 coalesce(sa2w, 0) / 1e9 AS sa2wd
               FROM gr LEFT JOIN f ON gr.g = f.g)
         SELECT g AS grp, tau, n, events,
           round(rm, 6) + 0.0 AS rmst,
           round(sqrt(greatest(rm * rm * swd - 2.0 * rm * sawd + sa2wd,
             0.0)), 6) + 0.0 AS rmst_se
         FROM r ORDER BY grp""",
    // rank-exact decile cutpoints over the distinct-score cumsum (the
    // q326 pattern), bin-desc cumulative longs, one mirrored double
    "q360_qini" ->
      """WITH pu AS (SELECT user_id,
                  CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END t,
                  max(CASE WHEN event_type = 'purchase' AND value > 80
                      THEN 1 ELSE 0 END)::BIGINT y,
                  count(*)::DOUBLE s
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY user_id),
         dc AS (SELECT s, count(*)::BIGINT c FROM pu GROUP BY 1),
         cm AS (SELECT s, sum(c) OVER (ORDER BY s) hi FROM dc),
         nn AS (SELECT count(*)::BIGINT n FROM pu),
         rk AS (SELECT DISTINCT ((j * n + 9) // 10) r
               FROM unnest(range(1, 10)) u(j), nn),
         cuts AS (SELECT DISTINCT min(s) cut FROM cm, rk WHERE hi >= r
               GROUP BY r),
         bb AS (SELECT t, y,
                 (SELECT count(*) FROM cuts WHERE pu.s > cut) b FROM pu),
         byb AS (SELECT b, count(*)::BIGINT nb,
                 sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT nt,
                 sum(CASE WHEN t <> 1 THEN 1 ELSE 0 END)::BIGINT nc,
                 sum(CASE WHEN t = 1 THEN y ELSE 0 END)::BIGINT yt,
                 sum(CASE WHEN t <> 1 THEN y ELSE 0 END)::BIGINT yc
               FROM bb GROUP BY 1),
         cum AS (SELECT row_number() OVER (ORDER BY b DESC) decile, nb,
                 sum(nt) OVER w cnt, sum(nc) OVER w cnc,
                 sum(yt) OVER w cyt, sum(yc) OVER w cyc
               FROM byb
               WINDOW w AS (ORDER BY b DESC ROWS UNBOUNDED PRECEDING))
         SELECT decile::INT AS decile, nb AS n_bin,
           cnt::BIGINT AS cum_treated, cnc::BIGINT AS cum_control,
           cyt::BIGINT AS cum_y_treated, cyc::BIGINT AS cum_y_control,
           (CASE WHEN cnc = 0 THEN NULL
            ELSE round(cyt - cyc * (cnt::DOUBLE / cnc), 6) + 0.0 END)
             AS qini
         FROM cum ORDER BY decile""",
    // the IPF replay (rakeCtes): 5 unrolled alternating-scaling rounds,
    // exact decimal margin sums, 12-dp re-quantization per half-step
    "q358_rake_weights" ->
      s"""WITH ${rakeCtes(iterations = 5,
        Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
          "zh" -> 0.15))}
         SELECT r AS row_key, c AS col_key, n,
           round(CAST(w AS DOUBLE) / n, 6) + 0.0 AS weight,
           round(CAST(w AS DOUBLE) / nt, 6) + 0.0 AS cell_share
         FROM w5, nn ORDER BY row_key, col_key""",
    // per-source (count, sum) + the global prior; the one LOO double
    // expression mirrored
    "q368_target_encoding" ->
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
         ORDER BY b.doc_id""",
    // poissonCtes (whose trailing no-step pass sc5/gt5 prices the SE at
    // the converged cb4): Pearson X^2 terms from the same sc5 means,
    // rounded to 12dp before the exact decimal sum, SEs scaled by sqrt(phi)
    "q367_quasi_poisson" ->
      s"""WITH ${poissonCtes(iterations = 4)},
         ph0 AS (SELECT CAST(sum(CAST(round((y - CAST(mu AS DOUBLE))
                   * (y - CAST(mu AS DOUBLE)) / CAST(mu AS DOUBLE), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) x2
               FROM sc5),
         ph AS (SELECT x2 / (n - 2) phi FROM ph0, nn),
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, b0, b1, phi,
                 sqrt(h11 / det) * sqrt(phi) se0,
                 sqrt(h00 / det) * sqrt(phi) se1 FROM fin, nn, ph),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n, round(phi, 6) + 0.0 AS phi,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(phi, 6) + 0.0,
             round(b1, 6) + 0.0, round(se1, 6) + 0.0, round(z1, 6) + 0.0,
             round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term""",
    // poissonCtes warm-up -> moment alpha -> 4 unrolled NB2 Fisher
    // iterations (nbCtes); SE from the trailing ng5 at the converged ncb4
    "q375_negative_binomial" ->
      s"""WITH ${nbCtes(nbIterations = 4)},
         fin AS (SELECT a, b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM ncb4, ng5, al),
         st AS (SELECT n, a, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n, round(a, 6) + 0.0 AS alpha,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(a, 6) + 0.0,
             round(b1, 6) + 0.0, round(se1, 6) + 0.0, round(z1, 6) + 0.0,
             round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term""",
    // the q370 logistic Newton refit with T = parity as the response
    // (binomialCtes yExpr), propensity = sc5's converged 12-dp mean,
    // exact clip, decimal-exact Hajek sums, re-rounded arm means, one
    // phi-squared reduce — the full IPW replay
    "q371_ipw_ate" ->
      s"""WITH ${binomialCtes(iterations = 4,
          yExpr = "max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)",
          extraCols = """,
             max(CASE WHEN event_type = 'purchase' AND value > 80
               THEN 1 ELSE 0 END)::DOUBLE yo""")},
         ec AS (SELECT y, yo,
                 greatest(0.01, least(0.99, CAST(mu AS DOUBLE))) e
               FROM sc5),
         s1 AS (SELECT count(*)::BIGINT n, sum(y)::BIGINT nt,
             CAST(sum(CAST(round(CAST(y AS DOUBLE) / e, 12)
               AS DECIMAL(28,12))) AS DOUBLE) sw1,
             CAST(sum(CAST(round(CAST(y AS DOUBLE) * yo / e, 12)
               AS DECIMAL(28,12))) AS DOUBLE) swy1,
             CAST(sum(CAST(round((1.0 - CAST(y AS DOUBLE)) / (1.0 - e), 12)
               AS DECIMAL(28,12))) AS DOUBLE) sw0,
             CAST(sum(CAST(round((1.0 - CAST(y AS DOUBLE)) * yo
               / (1.0 - e), 12) AS DECIMAL(28,12))) AS DOUBLE) swy0
           FROM ec),
         m AS (SELECT n, nt, round(swy1 / sw1, 12) mu1,
                 round(swy0 / sw0, 12) mu0,
                 round(round(swy1 / sw1, 12) - round(swy0 / sw0, 12), 12)
                   ate
               FROM s1),
         v AS (SELECT CAST(sum(CAST(round(
                 (CAST(y AS DOUBLE) * (yo - mu1) / e
                   - (1.0 - CAST(y AS DOUBLE)) * (yo - mu0) / (1.0 - e))
                 * (CAST(y AS DOUBLE) * (yo - mu1) / e
                   - (1.0 - CAST(y AS DOUBLE)) * (yo - mu0) / (1.0 - e)),
                 9) AS DECIMAL(28,9))) AS DOUBLE) sphi
               FROM ec, m),
         f AS (SELECT n, nt, mu1, mu0, ate, sqrt(sphi) / n se FROM m, v),
         zz AS (SELECT *, ate / se z, abs(ate / se) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(ate / se) / sqrt(2.0)) t
               FROM f)
         SELECT n, nt AS n_treated, round(mu1, 6) + 0.0 AS mu_treated,
           round(mu0, 6) + 0.0 AS mu_control, round(ate, 6) + 0.0 AS ate,
           round(se, 6) + 0.0 AS se, round(z, 6) + 0.0 AS z,
           round(least(1.0, t * (0.254829592 + t * (-0.284496736
             + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
             * exp(-az * az)), 6) + 0.0 AS p_value
         FROM zz""",
    // the logistic-Newton replay (binomialCtes): 4 unrolled iterations on
    // exact decimal moments with 12-dp bounded means, closed-form 2x2
    // step, SE from the trailing no-step information at the converged
    // cb4, shared A&S two-sided p
    "q370_logistic_glm" ->
      s"""WITH ${binomialCtes(iterations = 4)},
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(b1, 6) + 0.0,
             round(se1, 6) + 0.0, round(z1, 6) + 0.0, round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term""",
    // the Poisson-Newton replay (poissonCtes): 4 unrolled iterations on
    // exact decimal moment sums, closed-form 2x2 step, SE from the
    // Fisher information re-evaluated at the converged cb4 (gt5 — the
    // trailing no-step pass), shared A&S two-sided p
    "q356_poisson_glm" ->
      s"""WITH ${poissonCtes(iterations = 4)},
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(b1, 6) + 0.0,
             round(se1, 6) + 0.0, round(z1, 6) + 0.0, round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term""",
    // the full Breslow-Newton replay (coxCtes): 4 unrolled iterations,
    // exact decimal risk-set sums, 12-dp term/β rounding, closed-form
    // 2×2 solve, SE from the final information, shared A&S two-sided p
    // per-arm per-value counts, exclusive-count windows, rank ceil(q*n)
    // hit per block — the repo's tie-collapsing cutpoint convention
    "q383_qte" ->
      """WITH du AS (SELECT count(*)::BIGINT v,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ct AS (SELECT v::DOUBLE v, count(*)::BIGINT c FROM du
               WHERE t = 1 GROUP BY 1),
         cc AS (SELECT v::DOUBLE v, count(*)::BIGINT c FROM du
               WHERE t = 0 GROUP BY 1),
         wt AS (SELECT *, coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT e FROM ct),
         wc AS (SELECT *, coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT e FROM cc),
         nt AS (SELECT sum(c)::BIGINT n FROM ct),
         nc AS (SELECT sum(c)::BIGINT n FROM cc),
         qs AS (SELECT unnest(range(1, 10))::BIGINT i),
         ht AS (SELECT i, min(v) qv FROM qs, wt, nt
               WHERE (i * n + 9) // 10 > e
                 AND (i * n + 9) // 10 <= e + c GROUP BY i),
         hc AS (SELECT i, min(v) qv FROM qs, wc, nc
               WHERE (i * n + 9) // 10 > e
                 AND (i * n + 9) // 10 <= e + c GROUP BY i)
         SELECT round(i / 10.0, 1) + 0.0 AS quantile,
           (SELECT n FROM nt) AS n_treated,
           (SELECT n FROM nc) AS n_control,
           round(ht.qv, 6) + 0.0 AS q_treated,
           round(hc.qv, 6) + 0.0 AS q_control,
           round(ht.qv - hc.qv, 6) + 0.0 AS qte
         FROM qs JOIN ht USING (i) JOIN hc USING (i)
         ORDER BY quantile""",
    // one 4-long reduce + the closed mSPRT mixture formula
    "q380_msprt" ->
      """WITH du AS (SELECT
                 max(CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ag AS (SELECT sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT na,
                 sum(CASE WHEN t <> 0 THEN 1 ELSE 0 END)::BIGINT nb,
                 sum(CASE WHEN t = 0 THEN y ELSE 0 END)::BIGINT sa,
                 sum(CASE WHEN t <> 0 THEN y ELSE 0 END)::BIGINT sb
               FROM du),
         st AS (SELECT na, nb, sa::DOUBLE / na pa, sb::DOUBLE / nb pb,
                 (sa + sb)::DOUBLE / (na + nb) pp FROM ag),
         vv AS (SELECT *, pp * (1.0 - pp) * (1.0 / na + 1.0 / nb) v,
                 pb - pa delta FROM st),
         lm AS (SELECT *, sqrt(v / (v + 0.0001))
                 * exp(delta * delta * 0.0001
                   / (2.0 * v * (v + 0.0001))) lam FROM vv),
         f AS (SELECT *, least(1.0, 1.0 / lam) pav FROM lm)
         SELECT na AS n_a, nb AS n_b, round(pa, 6) + 0.0 AS p_a,
           round(pb, 6) + 0.0 AS p_b, round(delta, 6) + 0.0 AS delta,
           round(lam, 6) + 0.0 AS lambda_stat,
           round(pav, 6) + 0.0 AS p_always, (pav < 0.05) AS reject_05
         FROM f""",
    // per-group exact long sums, moment prior (between-group variance
    // minus average m(1-m)/n noise), James-Stein shrink toward the
    // grand rate
    "q381_eb_rates" ->
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
         FROM g, m, tau ORDER BY grp""",
    // distinct (side, min-shingle key) pairs -> the Chapman closed form
    "q382_chapman" ->
      """WITH toks AS (SELECT source, text,
                 CASE WHEN length(trim(text)) = 0 THEN []
                      ELSE string_split_regex(lower(trim(text)), '\s+')
                      END AS t
               FROM documents WHERE source IN ('src0', 'src1')),
         k AS (SELECT source,
                 CASE WHEN len(t) >= 3
                   THEN list_aggregate(list_transform(range(1, len(t) - 1),
                        i -> md5(array_to_string(t[i:i+2], ' '))), 'min')
                   END mk
               FROM toks),
         d AS (SELECT DISTINCT source, mk FROM k WHERE mk IS NOT NULL),
         ag AS (SELECT
                 count(DISTINCT CASE WHEN source = 'src0' THEN mk END)
                   ::BIGINT na,
                 count(DISTINCT CASE WHEN source = 'src1' THEN mk END)
                   ::BIGINT nb,
                 count(DISTINCT mk)::BIGINT tot FROM d),
         f AS (SELECT na, nb, (na + nb - tot)::BIGINT m, tot,
                 (na + 1.0) * (nb + 1.0) / (na + nb - tot + 1.0) - 1.0
                   nhat,
                 (na + 1.0) * (nb + 1.0) * (tot - nb) * (tot - na)
                   / ((na + nb - tot + 1.0) * (na + nb - tot + 1.0)
                     * (na + nb - tot + 2.0)) varhat
               FROM ag)
         SELECT na AS n_a, nb AS n_b, m AS overlap, tot AS observed,
           round(nhat, 6) + 0.0 AS n_hat,
           round(sqrt(greatest(varhat, 0.0)), 6) + 0.0 AS se,
           round(CASE WHEN nhat > 0 THEN tot / nhat ELSE 1.0 END, 6)
             + 0.0 AS coverage
         FROM f""",
    // per-stratum exact integer moment sums, textbook sample stddev,
    // HALF_UP-rounded budget*share clamped to the stratum size
    "q378_neyman_allocation" ->
      """WITH g AS (SELECT lang stratum, count(*)::BIGINT n_rows,
                 sum(n_chars::HUGEINT) s, sum(n_chars::HUGEINT * n_chars) q
               FROM documents
               WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         m AS (SELECT stratum, n_rows,
                 CASE WHEN n_rows < 2 THEN 0.0
                   ELSE sqrt(greatest(0.0,
                     (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                       * CAST(s AS DOUBLE) / n_rows) / (n_rows - 1.0)))
                   END sd
               FROM g),
         t AS (SELECT sum(n_rows * sd) tw FROM m),
         f AS (SELECT stratum, n_rows, sd,
                 CASE WHEN tw > 0 THEN n_rows * sd / tw ELSE 0.0 END wsh
               FROM m, t),
         a AS (SELECT *, least(n_rows,
                 round(1000 * wsh)::BIGINT) alloc FROM f)
         SELECT stratum, n_rows, round(sd, 6) + 0.0 AS stddev,
           round(wsh, 6) + 0.0 AS weight_share, alloc,
           round(CAST(alloc AS DOUBLE) / n_rows, 6) + 0.0 AS rate
         FROM a ORDER BY stratum""",
    // the exact 9-moment reduce and the closed-form Frisch-Waugh
    // 2-regressor solution, classical sigma^2 * cXX / det variance
    "q379_regression_ate" ->
      """WITH du AS (SELECT
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   ::BIGINT y,
                 CAST((sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) - 24)
                   / 10.0 AS DECIMAL(8,4)) x,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         mo AS (SELECT count(*)::BIGINT n, sum(t)::DOUBLE st,
                 sum(y)::DOUBLE sy, CAST(sum(x) AS DOUBLE) sx,
                 sum(t * y)::DOUBLE sty,
                 CAST(sum(CAST(t AS DECIMAL(10,0)) * x) AS DOUBLE) stx,
                 CAST(sum(CAST(y AS DECIMAL(18,0)) * x) AS DOUBLE) sxy,
                 CAST(sum(x * x) AS DOUBLE) sxx, sum(y * y)::DOUBLE syy
               FROM du),
         cm AS (SELECT n, st - st * st / n ctt, sxx - sx * sx / n cxx,
                 stx - st * sx / n ctx, sty - st * sy / n cty,
                 sxy - sx * sy / n cxy, syy - sy * sy / n cyy
               FROM mo),
         sol AS (SELECT n, ctt * cxx - ctx * ctx det,
                 (cty * cxx - ctx * cxy) / (ctt * cxx - ctx * ctx) ate,
                 (cxy * ctt - ctx * cty) / (ctt * cxx - ctx * ctx) bx,
                 cty, cxy, cyy, cxx
               FROM cm),
         st2 AS (SELECT n, ate, bx,
                 sqrt(greatest(cyy - ate * cty - bx * cxy, 0.0)
                   / (n - 3.0) * cxx / det) se
               FROM sol),
         zz AS (SELECT *, ate / se z, abs(ate / se) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(ate / se) / sqrt(2.0)) tt
               FROM st2)
         SELECT n, round(ate, 6) + 0.0 AS ate, round(se, 6) + 0.0 AS se,
           round(z, 6) + 0.0 AS z,
           round(least(1.0, tt * (0.254829592 + tt * (-0.284496736
             + tt * (1.421413741 + tt * (-1.453152027
             + tt * 1.061405429)))) * exp(-az * az)), 6) + 0.0 AS p_value,
           round(bx, 6) + 0.0 AS beta_covariate
         FROM zz""",
    // gammaCtes: constant-XtX Fisher scoring, 4 unrolled score reduces,
    // Pearson dispersion at the converged beta (scf), closed-form 2x2 SE
    "q388_gamma_glm" ->
      s"""WITH ${gammaCtes(iterations = 4)},
         ph0 AS (SELECT CAST(sum(CAST(round((CAST(y AS DOUBLE)
                   - CAST(mu AS DOUBLE)) * (CAST(y AS DOUBLE)
                   - CAST(mu AS DOUBLE)) / (CAST(mu AS DOUBLE)
                   * CAST(mu AS DOUBLE)), 12) AS DECIMAL(28,12)))
                   AS DOUBLE) x2
               FROM scf),
         ph AS (SELECT x2 / (n - 2) phi FROM ph0, nn),
         st AS (SELECT n, b0, b1, phi,
                 sqrt(phi * s11 / det) se0,
                 sqrt(phi * s00 / det) se1 FROM cb4, dt, nn, ph),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n, round(phi, 6) + 0.0 AS phi,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, round(phi, 6) + 0.0,
             round(b1, 6) + 0.0, round(se1, 6) + 0.0, round(z1, 6) + 0.0,
             round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term""",
    // the q371 propensity replay (binomialCtes with the parity response)
    // + per-arm closed-form OLS outcome models from exact moments + one
    // 12-dp psi reduce — consistent if EITHER model is right
    "q389_aipw_ate" ->
      s"""WITH ${binomialCtes(iterations = 4,
          yExpr = "max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)",
          extraCols = """,
             max(CASE WHEN event_type = 'purchase' AND value > 80
               THEN 1 ELSE 0 END)::BIGINT yo""")},
         mo AS (SELECT sum(y)::BIGINT n1, (count(*) - sum(y))::BIGINT n0,
                 CAST(sum(CASE WHEN y = 1 THEN x0
                   ELSE CAST(0 AS DECIMAL(8,4)) END) AS DOUBLE) sx1,
                 sum(CASE WHEN y = 1 THEN yo ELSE 0 END)::DOUBLE sy1,
                 CAST(sum(CASE WHEN y = 1
                   THEN CAST(yo AS DECIMAL(18,0)) * x0
                   ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE) sxy1,
                 CAST(sum(CASE WHEN y = 1 THEN x0 * x0
                   ELSE CAST(0 AS DECIMAL(16,8)) END) AS DOUBLE) sxx1,
                 CAST(sum(CASE WHEN y = 0 THEN x0
                   ELSE CAST(0 AS DECIMAL(8,4)) END) AS DOUBLE) sx0,
                 sum(CASE WHEN y = 0 THEN yo ELSE 0 END)::DOUBLE sy0,
                 CAST(sum(CASE WHEN y = 0
                   THEN CAST(yo AS DECIMAL(18,0)) * x0
                   ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE) sxy0,
                 CAST(sum(CASE WHEN y = 0 THEN x0 * x0
                   ELSE CAST(0 AS DECIMAL(16,8)) END) AS DOUBLE) sxx0
               FROM du),
         co AS (SELECT n1, n0,
                 round((sxy1 - sx1 * sy1 / n1)
                   / (sxx1 - sx1 * sx1 / n1), 12) b1c,
                 round((sxy0 - sx0 * sy0 / n0)
                   / (sxx0 - sx0 * sx0 / n0), 12) b0c
               FROM mo),
         ci AS (SELECT co.n1, co.n0, b1c, b0c,
                 round(sy1 / co.n1 - b1c * sx1 / co.n1, 12) a1c,
                 round(sy0 / co.n0 - b0c * sx0 / co.n0, 12) a0c
               FROM co, mo),
         ps AS (SELECT sc5.y, sc5.yo, sc5.x0,
                 greatest(0.01, least(0.99, CAST(mu AS DOUBLE))) e,
                 a1c + CAST(x0 AS DOUBLE) * b1c m1,
                 a0c + CAST(x0 AS DOUBLE) * b0c m0
               FROM sc5, ci),
         pz AS (SELECT (m1 - m0 + CAST(y AS DOUBLE) * (yo - m1) / e
                 - (1.0 - CAST(y AS DOUBLE)) * (yo - m0) / (1.0 - e)) psi
               FROM ps),
         s1 AS (SELECT
                 CAST(sum(CAST(round(psi, 12) AS DECIMAL(28,12)))
                   AS DOUBLE) sp,
                 CAST(sum(CAST(round(psi * psi, 9) AS DECIMAL(28,9)))
                   AS DOUBLE) sp2
               FROM pz),
         f AS (SELECT n, n1, round(sp / n, 12) ate, sp, sp2 FROM s1, nn, ci),
         g AS (SELECT n, n1, ate,
                 sqrt(greatest(sp2 - 2.0 * ate * sp + n * ate * ate, 0.0))
                   / n se
               FROM f),
         zz AS (SELECT *, ate / se z, abs(ate / se) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(ate / se) / sqrt(2.0)) t
               FROM g)
         SELECT n, n1 AS n_treated, round(ate, 6) + 0.0 AS ate,
           round(se, 6) + 0.0 AS se, round(z, 6) + 0.0 AS z,
           round(least(1.0, t * (0.254829592 + t * (-0.284496736
             + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
             * exp(-az * az)), 6) + 0.0 AS p_value
         FROM zz""",
    // the q369 anchor recipe: recompute (n, n_events) over the
    // positive-duration subjects from the parquet, pin the booleans
    "q401_weibull_aft" ->
      """WITH pu AS (SELECT user_id,
                  min(floor(epoch(ts) / 3600))::BIGINT f,
                  max(floor(epoch(ts) / 3600))::BIGINT l
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY 1),
         hz AS (SELECT max(l) hm FROM pu),
         du AS (SELECT l - f t,
                 CASE WHEN (hm - l) < 24 THEN 0 ELSE 1 END ev
               FROM pu, hz),
         fl AS (SELECT * FROM du WHERE t >= 1),
         nn AS (SELECT count(*)::BIGINT n, sum(ev)::BIGINT ne FROM fl)
         SELECT c AS term, n, ne AS n_events, true AS converged,
           true AS se_positive, true AS theta_finite
         FROM nn, (VALUES ('intercept'), ('ln_scale'), ('x_events')) t(c)
         ORDER BY term""",
    // generic mid-rank Page replay: item-keyed self-join for doubled
    // ranks (exact longs), row_number condition order, closed-form
    // moments, one-sided reflected A&S p
    "q398_page_trend" ->
      """WITH pv AS (SELECT user_id it,
                 floor(epoch(ts) / 604800)::BIGINT c, count(*)::BIGINT v
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2),
         kk AS (SELECT count(DISTINCT c)::BIGINT k FROM pv),
         cm AS (SELECT it FROM pv GROUP BY it
               HAVING count(*) = (SELECT k FROM kk)),
         fl AS (SELECT pv.* FROM pv JOIN cm USING (it)),
         ji AS (SELECT c, row_number() OVER (ORDER BY c)::BIGINT j
               FROM (SELECT DISTINCT c FROM pv)),
         r2 AS (SELECT a.it, a.c,
                 2 + sum(CASE WHEN b.v < a.v THEN 2
                   WHEN b.v = a.v THEN 1 ELSE 0 END)::BIGINT r2
               FROM fl a JOIN fl b ON a.it = b.it AND a.c <> b.c
               GROUP BY a.it, a.c, a.v),
         ag AS (SELECT sum(j * r2)::BIGINT l2,
                 count(DISTINCT it)::BIGINT nb
               FROM r2 JOIN ji USING (c)),
         st AS (SELECT l2 / 2.0 l, nb, k,
                 nb * k * (k + 1.0) * (k + 1.0) / 4.0 ml,
                 nb * k * k * (k + 1.0) * (k + 1.0) * (k - 1.0) / 144.0 vl
               FROM ag, kk),
         zz AS (SELECT *, (l - ml) / sqrt(vl) z FROM st),
         sf AS (SELECT *, abs(z) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) tt FROM zz),
         pw AS (SELECT *, 0.5 * tt * (0.254829592 + tt * (-0.284496736
                 + tt * (1.421413741 + tt * (-1.453152027
                 + tt * 1.061405429)))) * exp(-az * az) half FROM sf)
         SELECT nb AS n_items, k, round(l, 6) + 0.0 AS l_stat,
           round(ml, 6) + 0.0 AS mean_l, round(vl, 6) + 0.0 AS var_l,
           round(z, 6) + 0.0 AS z,
           round(least(1.0, CASE WHEN z >= 0 THEN half
             ELSE 1.0 - half END), 6) + 0.0 AS p_value
         FROM pw""",
    // one exact count reduce; per-arm Wilson score bounds; the Newcombe
    // square-and-add difference interval
    "q399_newcombe_ci" ->
      """WITH du AS (SELECT
                 max(CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ag AS (SELECT sum(1 - t)::BIGINT na, sum(t)::BIGINT nb,
                 sum((1 - t) * y)::BIGINT sa, sum(t * y)::BIGINT sb
               FROM du),
         zz AS (SELECT 1.959963985 zc, 1.959963985 * 1.959963985 z2),
         wa AS (SELECT na, nb, sa, sb, zc, z2, sa::DOUBLE / na pa,
                 (sa::DOUBLE / na + z2 / (2.0 * na)) / (1.0 + z2 / na) ca,
                 zc * sqrt((sa::DOUBLE / na) * (1.0 - sa::DOUBLE / na)
                   / na + z2 / (4.0 * na * na)) / (1.0 + z2 / na) ha
               FROM ag, zz),
         wb AS (SELECT *, sb::DOUBLE / nb pb,
                 (sb::DOUBLE / nb + z2 / (2.0 * nb)) / (1.0 + z2 / nb) cb,
                 zc * sqrt((sb::DOUBLE / nb) * (1.0 - sb::DOUBLE / nb)
                   / nb + z2 / (4.0 * nb * nb)) / (1.0 + z2 / nb) hb
               FROM wa),
         f AS (SELECT na, nb, pa, pb, ca - ha la, ca + ha ua,
                 cb - hb lb, cb + hb ub, pb - pa delta FROM wb)
         SELECT na AS n_a, nb AS n_b, round(pa, 6) + 0.0 AS p_a,
           round(pb, 6) + 0.0 AS p_b,
           round(la, 6) + 0.0 AS wilson_lo_a,
           round(ua, 6) + 0.0 AS wilson_hi_a,
           round(lb, 6) + 0.0 AS wilson_lo_b,
           round(ub, 6) + 0.0 AS wilson_hi_b,
           round(delta, 6) + 0.0 AS delta,
           round(delta - sqrt((pb - lb) * (pb - lb)
             + (ua - pa) * (ua - pa)), 6) + 0.0 AS ci_lo,
           round(delta + sqrt((ub - pb) * (ub - pb)
             + (pa - la) * (pa - la)), 6) + 0.0 AS ci_hi
         FROM f""",
    // the q358 IPF replay joined back onto documents by cell, then the
    // two-pass Hajek mean + linearized-residual reduce (ipwAte recipe)
    "q400_weighted_mean" ->
      s"""WITH ${rakeCtes(iterations = 5,
        Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
          "zh" -> 0.15))},
         wu AS (SELECT r, c, CAST(w AS DOUBLE) / n u FROM w5),
         j AS (SELECT d.n_chars y, wu.u w FROM documents d
               JOIN wu ON d.lang = wu.r AND d.source = wu.c),
         m AS (SELECT count(*)::BIGINT n,
             CAST(sum(CAST(round(w, 12) AS DECIMAL(28,12)))
               AS DOUBLE) sw,
             CAST(sum(CAST(round(w * y, 12) AS DECIMAL(28,12)))
               AS DOUBLE) swy
           FROM j),
         mm AS (SELECT n, sw, round(swy / sw, 12) wm FROM m),
         v AS (SELECT CAST(sum(CAST(round((w * (y - wm))
                 * (w * (y - wm)), 9) AS DECIMAL(28,9))) AS DOUBLE) sr
               FROM j, mm),
         f AS (SELECT n, sw, wm,
                 sqrt(greatest(sr, 0.0)) / sw se FROM mm, v)
         SELECT n, round(sw, 6) + 0.0 AS sum_w,
           round(wm, 6) + 0.0 AS wmean, round(se, 6) + 0.0 AS se,
           round(wm - 1.959963985 * se, 6) + 0.0 AS ci_lo,
           round(wm + 1.959963985 * se, 6) + 0.0 AS ci_hi
         FROM f""",
    // six exact HUGEINT moments -> doubles -> the closed Deming root
    // (lambda = 1), Pearson r from the same centered moments
    "q396_deming" ->
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
         FROM f""",
    // the same six moments with the 6x token estimate; population-moment
    // CCC (Lin's form) and the sample-sd Bland-Altman limits
    "q397_method_agreement" ->
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
         FROM f""",
    // 8 statically-unrolled MATERIALIZED peel rounds (>= the measured
    // fixpoint depth; extra rounds are idempotent on the fixed point),
    // then in-core degrees from the surviving subgraph
    "q395_kcore" -> {
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
    },
    // expAftCtes: 4 unrolled weighted-moment reduces (w = t*e^eta),
    // closed-form 2x2 steps, SE from the trailing gt5 at cb4
    "q392_exponential_aft" ->
      s"""WITH ${expAftCtes(iterations = 4)},
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, sd, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'intercept' AS term, n, sd AS n_events,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_events', n, sd,
             round(b1, 6) + 0.0, round(se1, 6) + 0.0, round(z1, 6) + 0.0,
             round(p1, 6) + 0.0
           FROM pp)
         ORDER BY term""",
    // per-group exact moment sums in one conditional reduce, per-group
    // closed-form OLS, and the twofold decomposition from B's structure
    "q393_oaxaca" ->
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
         FROM f""",
    // one exact 2x2 reduce, Wald log-RR interval, and the VanderWeele-
    // Ding transform at the point and the near-null CI bound
    "q394_e_value" ->
      """WITH du AS (SELECT
                 max(CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ag AS (SELECT sum(t)::BIGINT n1, (count(*) - sum(t))::BIGINT n0,
                 sum(t * y)::BIGINT a, sum((1 - t) * y)::BIGINT c
               FROM du),
         st AS (SELECT n1, n0,
                 (a::DOUBLE / n1) / (c::DOUBLE / n0) rr,
                 sqrt(1.0 / a - 1.0 / n1 + 1.0 / c - 1.0 / n0) seln
               FROM ag),
         ci AS (SELECT *, exp(ln(rr) - 1.959963985 * seln) lo,
                 exp(ln(rr) + 1.959963985 * seln) hi FROM st),
         ev AS (SELECT *,
                 CASE WHEN rr >= 1.0 THEN rr + sqrt(rr * (rr - 1.0))
                   ELSE (1.0 / rr)
                     + sqrt((1.0 / rr) * (1.0 / rr - 1.0)) END e_pt,
                 CASE WHEN lo <= 1.0 AND hi >= 1.0 THEN 1.0
                   WHEN rr >= 1.0 THEN lo + sqrt(lo * (lo - 1.0))
                   ELSE (1.0 / hi)
                     + sqrt((1.0 / hi) * (1.0 / hi - 1.0)) END e_ci
               FROM ci)
         SELECT n1 AS n_exposed, n0 AS n_unexposed,
           round(rr, 6) + 0.0 AS rr, round(lo, 6) + 0.0 AS rr_lo,
           round(hi, 6) + 0.0 AS rr_hi, round(e_pt, 6) + 0.0 AS e_value,
           round(e_ci, 6) + 0.0 AS e_value_ci
         FROM ev""",
    // the q371 propensity replay, the q344 rank-exact cutpoint idiom on
    // the 12-dp propensity (quintile ranks ceil(i*n/5)), per-stratum
    // exact long sums, treated-share-weighted difference + variance
    "q390_propensity_strata" ->
      s"""WITH ${binomialCtes(iterations = 4,
          yExpr = "max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)",
          extraCols = """,
             max(CASE WHEN event_type = 'purchase' AND value > 80
               THEN 1 ELSE 0 END)::BIGINT yo""")},
         ee AS (SELECT y t, yo, CAST(mu AS DOUBLE) e FROM sc5),
         dc AS (SELECT e, count(*)::BIGINT c FROM ee GROUP BY 1),
         cm AS (SELECT e, sum(c) OVER (ORDER BY e) hi FROM dc),
         n2 AS (SELECT count(*)::BIGINT nq FROM ee),
         rk AS (SELECT DISTINCT ((j * nq + 4) // 5) r
               FROM unnest(range(1, 5)) u(j), n2),
         cuts AS (SELECT DISTINCT min(e) cut FROM cm, rk WHERE hi >= r
               GROUP BY r),
         sb AS (SELECT t, yo,
                 1 + (SELECT count(*) FROM cuts WHERE ee.e > cut) s
               FROM ee),
         per AS (SELECT s, sum(t)::BIGINT n1,
                 (count(*) - sum(t))::BIGINT n0,
                 sum(t * yo)::BIGINT sy1,
                 sum((1 - t) * yo)::BIGINT sy0
               FROM sb GROUP BY s),
         nt AS (SELECT sum(n1)::BIGINT ntr FROM per),
         us AS (SELECT * FROM per WHERE n1 > 0 AND n0 > 0),
         t1 AS (SELECT sum(n1)::BIGINT n1u, count(*)::BIGINT ku FROM us),
         at AS (SELECT sum((n1::DOUBLE / n1u)
                 * (sy1::DOUBLE / n1 - sy0::DOUBLE / n0)) att
               FROM us, t1),
         sv AS (SELECT sqrt(sum((n1::DOUBLE / n1u) * (n1::DOUBLE / n1u)
                 * (greatest((sy1 - sy1::DOUBLE * sy1 / n1)
                     / (n1 - 1.0), 0.0) / n1
                   + greatest((sy0 - sy0::DOUBLE * sy0 / n0)
                     / (n0 - 1.0), 0.0) / n0))) sev
               FROM us, t1),
         zz AS (SELECT att, sev, att / sev z, abs(att / sev) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(att / sev) / sqrt(2.0)) t
               FROM at, sv)
         SELECT nq AS n, ntr AS n_treated, 5::BIGINT AS k_strata,
           ku AS k_used, round(att, 6) + 0.0 AS att,
           round(sev, 6) + 0.0 AS se, round(z, 6) + 0.0 AS z,
           round(least(1.0, t * (0.254829592 + t * (-0.284496736
             + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
             * exp(-az * az)), 6) + 0.0 AS p_value
         FROM zz, n2, nt, t1""",
    // the q358 IPF replay (rakeCtes w5), per-cell unit weight w/n, and
    // the 12/9-dp quantized Kish sums
    "q391_design_effect" ->
      s"""WITH ${rakeCtes(iterations = 5,
        Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
          "zh" -> 0.15))},
         wu AS (SELECT n, CAST(w AS DOUBLE) / n u FROM w5),
         ag AS (SELECT sum(n)::BIGINT nu,
             CAST(sum(CAST(round(n * u, 12) AS DECIMAL(28,12)))
               AS DOUBLE) s1,
             CAST(sum(CAST(round(n * u * u, 9) AS DECIMAL(28,9)))
               AS DOUBLE) s2
           FROM wu),
         f AS (SELECT nu, s1, s2, nu * s2 / (s1 * s1) deff FROM ag)
         SELECT nu AS n_units, round(s1, 6) + 0.0 AS sum_w,
           round(deff, 6) + 0.0 AS deff,
           round(s1 * s1 / s2, 6) + 0.0 AS n_eff,
           round(sqrt(greatest(deff - 1.0, 0.0)), 6) + 0.0 AS cv_weights
         FROM f""",
    // the calendar-midpoint split, exact per-user integer change sums,
    // and the closed-form Welch algebra on the per-arm changes
    "q384_did" ->
      """WITH eh AS (SELECT user_id, event_type,
                 floor(epoch(ts) / 3600)::BIGINT hr
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         md AS (SELECT (min(hr) + max(hr)) // 2 mid FROM eh),
         du AS (SELECT user_id,
                 sum(CASE WHEN event_type = 'purchase' AND hr <= mid
                   THEN 1 ELSE 0 END)::BIGINT ypre,
                 sum(CASE WHEN event_type = 'purchase' AND hr > mid
                   THEN 1 ELSE 0 END)::BIGINT ypost,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM eh, md GROUP BY user_id, mid),
         ag AS (SELECT sum(t)::BIGINT n1, sum(1 - t)::BIGINT n0,
                 sum(t * ypre)::BIGINT p1, sum(t * ypost)::BIGINT q1,
                 sum((1 - t) * ypre)::BIGINT p0,
                 sum((1 - t) * ypost)::BIGINT q0,
                 sum(t * (ypost - ypre) * (ypost - ypre))::BIGINT s1,
                 sum((1 - t) * (ypost - ypre) * (ypost - ypre))::BIGINT s0
               FROM du),
         st AS (SELECT n1, n0, p1, q1, p0, q0,
                 (q1 - p1)::DOUBLE / n1 - (q0 - p0)::DOUBLE / n0 did,
                 sqrt(greatest((s1 - (q1 - p1)::DOUBLE * (q1 - p1) / n1)
                     / (n1 - 1.0), 0.0) / n1 +
                   greatest((s0 - (q0 - p0)::DOUBLE * (q0 - p0) / n0)
                     / (n0 - 1.0), 0.0) / n0) se
               FROM ag),
         zz AS (SELECT *, did / se z, abs(did / se) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(did / se) / sqrt(2.0)) tt
               FROM st)
         SELECT n1 AS n_treated, n0 AS n_control,
           round(p1::DOUBLE / n1, 6) + 0.0 AS pre_treated,
           round(q1::DOUBLE / n1, 6) + 0.0 AS post_treated,
           round(p0::DOUBLE / n0, 6) + 0.0 AS pre_control,
           round(q0::DOUBLE / n0, 6) + 0.0 AS post_control,
           round(did, 6) + 0.0 AS did, round(se, 6) + 0.0 AS se,
           round(z, 6) + 0.0 AS z,
           round(least(1.0, tt * (0.254829592 + tt * (-0.284496736
             + tt * (1.421413741 + tt * (-1.453152027
             + tt * 1.061405429)))) * exp(-az * az)), 6) + 0.0 AS p_value
         FROM zz""",
    // one exact count reduce; the published z quantiles; achieved power
    // via the reflected A&S survival (q lands either side of zero)
    "q385_power_mde" ->
      """WITH du AS (SELECT
                 max(CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         ag AS (SELECT sum(1 - t)::BIGINT na, sum(t)::BIGINT nb,
                 sum((1 - t) * y)::BIGINT sa, sum(t * y)::BIGINT sb
               FROM du),
         st AS (SELECT na, nb, sa::DOUBLE / na pa, sb::DOUBLE / nb pb,
                 (sa + sb)::DOUBLE / (na + nb) pp FROM ag),
         vv AS (SELECT *, pb - pa delta,
                 sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)) se
               FROM st),
         qq AS (SELECT *, abs(delta) / se - 1.959963985 q,
                 (1.959963985 + 0.8416212336) zsum FROM vv),
         sf AS (SELECT *, abs(q) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(q) / sqrt(2.0)) tt FROM qq),
         pw AS (SELECT *, 0.5 * tt * (0.254829592 + tt * (-0.284496736
                 + tt * (1.421413741 + tt * (-1.453152027
                 + tt * 1.061405429)))) * exp(-az * az) half FROM sf)
         SELECT na AS n_a, nb AS n_b,
           round(pa, 6) + 0.0 AS p_a, round(pb, 6) + 0.0 AS p_b,
           round(delta, 6) + 0.0 AS delta,
           round(zsum * se, 6) + 0.0 AS mde,
           CASE WHEN delta = 0 THEN NULL ELSE
             ceil(zsum * zsum * 2.0 * pp * (1.0 - pp)
               / (delta * delta))::BIGINT END AS n_required_per_arm,
           round(1.0 - (CASE WHEN q >= 0 THEN half
             ELSE 1.0 - half END), 6) + 0.0 AS power_at_n
         FROM pw""",
    // exact arm counts vs the 50/50 design; chi2_1 survival as the
    // reflected normal: p = 2*Phi(-sqrt(chi2)) via the erf polynomial
    "q386_srm" ->
      """WITH du AS (SELECT (user_id % 2)::VARCHAR arm FROM events
               WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY user_id),
         c AS (SELECT arm, count(*)::BIGINT n FROM du GROUP BY arm),
         t AS (SELECT sum(n)::BIGINT tot FROM c),
         x AS (SELECT sum((n - 0.5 * tot) * (n - 0.5 * tot)
                 / (0.5 * tot)) chi2 FROM c, t),
         p AS (SELECT chi2, sqrt(chi2) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * sqrt(chi2) / sqrt(2.0)) tt
               FROM x),
         pv AS (SELECT chi2, least(1.0, tt * (0.254829592
                 + tt * (-0.284496736 + tt * (1.421413741
                 + tt * (-1.453152027 + tt * 1.061405429))))
                 * exp(-az * az)) pval FROM p)
         SELECT c.arm, c.n, round(0.5 * t.tot, 6) + 0.0 AS expected,
           round(pv.chi2, 6) + 0.0 AS chi2, 1::BIGINT AS df,
           round(pv.pval, 6) + 0.0 AS p_value, pv.pval < 0.001 AS srm_flag
         FROM c, t, pv ORDER BY c.arm""",
    // enrollment quintiles, cumulative pooled z per look via a 5-row
    // window, and the OBF sqrt(K/k) boundary from the published constant
    "q387_obf_sequential" ->
      """WITH eh AS (SELECT user_id,
                 floor(epoch(ts) / 3600)::BIGINT hr,
                 CASE WHEN event_type = 'purchase' AND value > 80
                   THEN 1 ELSE 0 END cv
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         du AS (SELECT user_id, min(hr) f, max(cv)::BIGINT y,
                 (CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT t
               FROM eh GROUP BY user_id),
         sp AS (SELECT min(f) lo, max(f) hi FROM du),
         lk AS (SELECT least(5, 1 + (f - lo) * 5 // (hi - lo + 1)) look,
                 t, y FROM du, sp),
         per AS (SELECT look, sum(1 - t)::BIGINT na, sum(t)::BIGINT nb,
                 sum((1 - t) * y)::BIGINT xa, sum(t * y)::BIGINT xb
               FROM lk GROUP BY look),
         kk AS (SELECT count(*)::BIGINT ktot FROM per),
         cum AS (SELECT look,
                 sum(na) OVER (ORDER BY look)::BIGINT cna,
                 sum(nb) OVER (ORDER BY look)::BIGINT cnb,
                 sum(xa) OVER (ORDER BY look)::BIGINT cxa,
                 sum(xb) OVER (ORDER BY look)::BIGINT cxb,
                 row_number() OVER (ORDER BY look)::BIGINT k
               FROM per),
         st AS (SELECT look, cna, cnb, cxa, cxb, k, ktot,
                 (cxa + cxb)::DOUBLE / (cna + cnb) pp,
                 cxb::DOUBLE / cnb - cxa::DOUBLE / cna delta
               FROM cum, kk),
         zz AS (SELECT *, CASE WHEN pp > 0 AND pp < 1 THEN
                 delta / sqrt(pp * (1.0 - pp)
                   * (1.0 / cna + 1.0 / cnb)) END z,
                 2.0401 * sqrt(ktot::DOUBLE / k) bnd
               FROM st)
         SELECT look, cna AS n_a, cnb AS n_b, cxa AS x_a, cxb AS x_b,
           round(delta, 6) + 0.0 AS delta, round(z, 6) + 0.0 AS z,
           round(bnd, 6) + 0.0 AS boundary,
           coalesce(abs(z) > bnd, FALSE) AS crossed
         FROM zz ORDER BY look""",
    // the q28 min-shingle mirror + a per-bucket (quality desc, id asc)
    // argmax — row_number over the same key on both engines
    "q377_canonical_dedup" ->
      """WITH toks AS (SELECT doc_id, n_chars,
                 CASE WHEN length(trim(text)) = 0 THEN []
                      ELSE string_split_regex(lower(trim(text)), '\s+')
                      END AS t
               FROM documents),
         k AS (SELECT doc_id, n_chars,
                 CASE WHEN len(t) >= 3
                   THEN list_aggregate(list_transform(range(1, len(t) - 1),
                        i -> md5(array_to_string(t[i:i+2], ' '))), 'min')
                   END mk
               FROM toks),
         r AS (SELECT mk, doc_id, n_chars,
                 row_number() OVER (PARTITION BY mk
                   ORDER BY n_chars DESC, doc_id ASC) rn,
                 count(*) OVER (PARTITION BY mk)::BIGINT c
               FROM k WHERE mk IS NOT NULL)
         SELECT mk AS cluster_key, c AS n_docs, doc_id AS canonical_id,
           n_chars AS canonical_quality, (c - 1)::BIGINT AS n_dropped
         FROM r WHERE rn = 1 ORDER BY cluster_key""",
    // per-side value cells, the cell cross-join difference table, the
    // exclusive-count window, and four exact order statistics (two
    // middles + the Lehmann CI ranks) resolved per block
    "q376_hodges_lehmann" ->
      """WITH av AS (SELECT round(value, 1) + 0.0 v FROM events
                WHERE value IS NOT NULL AND event_type = 'view'),
         bv AS (SELECT round(value, 1) + 0.0 v FROM events
                WHERE value IS NOT NULL AND event_type = 'click'),
         ca AS (SELECT v va, count(*)::BIGINT wa FROM av GROUP BY 1),
         cb AS (SELECT v vb, count(*)::BIGINT wb FROM bv GROUP BY 1),
         nn AS (SELECT (SELECT sum(wa) FROM ca)::BIGINT na,
                 (SELECT sum(wb) FROM cb)::BIGINT nb),
         df AS (SELECT (vb - va) d, sum(wb * wa)::BIGINT c
               FROM cb, ca GROUP BY 1),
         cum AS (SELECT *, coalesce(sum(c) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT b FROM df),
         tot AS (SELECT sum(c)::BIGINT np FROM df),
         rk AS (SELECT na, nb, np, (np + 1) // 2 r1, (np + 2) // 2 r2,
                 greatest(1, floor(np / 2.0 - 1.959963984540054
                   * sqrt(na::DOUBLE * nb * (na + nb + 1) / 12.0))
                   ::BIGINT + 1) klo,
                 least(np, np - floor(np / 2.0 - 1.959963984540054
                   * sqrt(na::DOUBLE * nb * (na + nb + 1) / 12.0))
                   ::BIGINT) khi
               FROM nn, tot),
         os AS (SELECT
                 min(CASE WHEN b < r1 AND b + c >= r1 THEN d END) o1,
                 min(CASE WHEN b < r2 AND b + c >= r2 THEN d END) o2,
                 min(CASE WHEN b < klo AND b + c >= klo THEN d END) olo,
                 min(CASE WHEN b < khi AND b + c >= khi THEN d END) ohi
               FROM cum, rk)
         SELECT na AS n_a, nb AS n_b, np AS n_pairs,
           round((o1 + o2) / 2.0, 6) + 0.0 AS hl_shift,
           round(olo, 6) + 0.0 AS ci_lo, round(ohi, 6) + 0.0 AS ci_hi
         FROM os, rk""",
    // the md5 unit-bucket mirror, per-bucket exact decimal(38,12) sums,
    // leave-one-out replicates from exact subtractions, (B-1)/B variance
    "q374_jackknife_ratio" ->
      """WITH e AS (SELECT
                 ('0x' || substr(md5('jk:' || user_id::VARCHAR), 1, 8))
                   ::UBIGINT % 32 b,
                 CASE WHEN event_type = 'purchase'
                   THEN coalesce(value, 0.0) ELSE 0.0 END rev
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         pb AS (SELECT b, count(*)::BIGINT c,
                 sum(CAST(round(CAST(rev AS DOUBLE), 12)
                   AS DECIMAL(38,12))) sn,
                 sum(CAST(round(1.0, 12) AS DECIMAL(38,12))) sd
               FROM e GROUP BY 1),
         tt AS (SELECT sum(c)::BIGINT n, sum(sn) tn, sum(sd) td,
                 count(*)::BIGINT bn FROM pb),
         reps AS (SELECT CAST(tn - sn AS DOUBLE)
                 / CAST(td - sd AS DOUBLE) r
               FROM pb, tt),
         mm AS (SELECT avg(r) rbar, count(*)::BIGINT bn2 FROM reps),
         vv AS (SELECT sqrt((bn2 - 1.0) / bn2
                 * sum((r - rbar) * (r - rbar))) se
               FROM reps, mm GROUP BY bn2),
         f AS (SELECT n, CAST(tn AS DOUBLE) / CAST(td AS DOUBLE) ratio,
                 se FROM tt, vv)
         SELECT n, 32::INT AS buckets, round(ratio, 6) + 0.0 AS ratio,
           round(se, 6) + 0.0 AS se,
           round(ratio - 1.959963984540054 * se, 6) + 0.0 AS ci_lo,
           round(ratio + 1.959963984540054 * se, 6) + 0.0 AS ci_hi
         FROM f""",
    // exact block-rank Gini: per-value counts, exclusive count window,
    // HUGEINT moment sums (mirroring the decimal(38,0) exact sums), the
    // boundary block of each top-share threshold resolved per block
    "q373_gini_concentration" ->
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
         FROM agg, rr""",
    // the rmst cumsum recipe with competing first events: all-cause KM
    // via the 1e12-quantized exclusive ln cumsum, per-type increments
    // S(t-)*d_k/n quantized to 1e12 longs before the tau-filtered sum
    "q372_cumulative_incidence" ->
      """WITH pu AS (SELECT user_id,
                  min(floor(epoch(ts) / 3600))::BIGINT f,
                  max(floor(epoch(ts) / 3600))::BIGINT l,
                  min(CASE WHEN event_type = 'purchase'
                    THEN floor(epoch(ts) / 3600) END)::BIGINT p,
                  min(CASE WHEN event_type = 'error'
                    THEN floor(epoch(ts) / 3600) END)::BIGINT e
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY 1),
         hz AS (SELECT max(l) hm FROM pu),
         du AS (SELECT
                 CASE WHEN p IS NOT NULL AND (e IS NULL OR p <= e)
                        THEN 'purchase'
                      WHEN e IS NOT NULL THEN 'error' END k,
                 (CASE WHEN p IS NOT NULL AND (e IS NULL OR p <= e)
                         THEN p - f
                       WHEN e IS NOT NULL THEN e - f
                       ELSE hm - f END)::BIGINT life
               FROM pu, hz),
         gl AS (SELECT life, count(*)::BIGINT alln,
                 sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT dall,
                 sum(CASE WHEN k = 'error' THEN 1 ELSE 0 END)::BIGINT d0,
                 sum(CASE WHEN k = 'purchase' THEN 1 ELSE 0 END)::BIGINT d1
               FROM du GROUP BY 1),
         nn AS (SELECT sum(alln)::BIGINT n FROM gl),
         w AS (SELECT gl.*, nn.n,
                 coalesce(sum(alln) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) b
               FROM gl, nn),
         l1 AS (SELECT *, (n - b)::BIGINT nr,
                 CASE WHEN dall > 0 AND dall < (n - b)
                   THEN round(ln(1.0 - dall::DOUBLE / (n - b))
                     * 1e12)::BIGINT ELSE 0 END lnq
               FROM w),
         l2 AS (SELECT *, coalesce(sum(lnq) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) lb
               FROM l1),
         inc AS (SELECT life, d0, d1,
                 CASE WHEN nr > 0 AND d0 > 0 THEN
                   round(exp(lb / 1e12) * d0 / nr * 1e12)::BIGINT
                   ELSE 0 END i0,
                 CASE WHEN nr > 0 AND d1 > 0 THEN
                   round(exp(lb / 1e12) * d1 / nr * 1e12)::BIGINT
                   ELSE 0 END i1
               FROM l2),
         f AS (SELECT sum(i0)::BIGINT c0, sum(i1)::BIGINT c1,
                 sum(d0)::BIGINT e0, sum(d1)::BIGINT e1
               FROM inc WHERE life <= 700)
         SELECT * FROM (
           SELECT 'error' AS event_type, 700::BIGINT AS tau, n,
             e0 AS events, round(c0 / 1e12, 6) + 0.0 AS cif FROM f, nn
           UNION ALL SELECT 'purchase', 700, n, e1,
             round(c1 / 1e12, 6) + 0.0 FROM f, nn)
         ORDER BY event_type""",
    // fixed-point contract for the d=3 Gaussian-elimination path: the
    // anchors (n, n_events) recompute from the parquet with the same
    // duration construction; the convergence/SE/finiteness booleans pin
    // to true (the score at beta-hat is computed by the operator itself
    // from the per-duration decimal sums — the q316 residual pattern)
    "q369_cox_d3_contract" ->
      """WITH pu AS (SELECT user_id,
                  min(floor(epoch(ts) / 3600))::BIGINT f,
                  max(floor(epoch(ts) / 3600))::BIGINT l
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY 1),
         hz AS (SELECT max(l) hm FROM pu),
         du AS (SELECT CASE WHEN (hm - l) < 24 THEN 0 ELSE 1 END ev
               FROM pu, hz),
         nn AS (SELECT count(*)::BIGINT n, sum(ev)::BIGINT ne FROM du)
         SELECT c AS covariate, n, ne AS n_events, true AS converged,
           true AS se_positive, true AS beta_finite
         FROM nn, (VALUES ('x_events'), ('x_highval'), ('x_purch')) t(c)
         ORDER BY covariate""",
    "q352_cox_ph" ->
      s"""WITH ${coxCtes(iterations = 4)},
         fin AS (SELECT b0, b1, h00, h01, h11,
                 h00 * h11 - h01 * h01 det FROM cb4, gt5),
         st AS (SELECT n, ne, b0, b1, sqrt(h11 / det) se0,
                 sqrt(h00 / det) se1 FROM fin, nn),
         zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 1.0 / (1.0 + 0.3275911 * abs(z0) / sqrt(2.0)) t0,
                 abs(z1) / sqrt(2.0) az1,
                 1.0 / (1.0 + 0.3275911 * abs(z1) / sqrt(2.0)) t1 FROM zz),
         pp AS (SELECT *,
                 CASE WHEN z0 IS NOT NULL THEN
                   least(1.0, t0 * (0.254829592 + t0 * (-0.284496736
                     + t0 * (1.421413741 + t0 * (-1.453152027
                     + t0 * 1.061405429)))) * exp(-az0 * az0)) END p0,
                 CASE WHEN z1 IS NOT NULL THEN
                   least(1.0, t1 * (0.254829592 + t1 * (-0.284496736
                     + t1 * (1.421413741 + t1 * (-1.453152027
                     + t1 * 1.061405429)))) * exp(-az1 * az1)) END p1
               FROM pv)
         SELECT * FROM (
           SELECT 'x_events' AS covariate, n, ne AS n_events,
             round(b0, 6) + 0.0 AS beta, round(se0, 6) + 0.0 AS se,
             round(z0, 6) + 0.0 AS z, round(p0, 6) + 0.0 AS p_value FROM pp
           UNION ALL SELECT 'x_highval', n, ne, round(b1, 6) + 0.0,
             round(se1, 6) + 0.0, round(z1, 6) + 0.0, round(p1, 6) + 0.0
           FROM pp)
         ORDER BY covariate""",
    // per-language moments, Welch weights w = n/s², the 1951 F* and
    // Welch-Satterthwaite df2 — pure moment algebra, replayed verbatim
    "q351_welch_anova" ->
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
         FROM x""",
    // naive pairwise J* over the (week, bucket) count cells (bounded by
    // buckets x weeks), tie-corrected Hollander-Wolfe variance, shared
    // A&S two-sided p — every ingredient half-integer-exact
    "q350_jonckheere" ->
      """WITH gv AS (SELECT floor(epoch(ts) / 604800)::BIGINT::VARCHAR wk,
                  floor(value) vb
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         pgv AS (SELECT wk, vb, count(*)::BIGINT c FROM gv GROUP BY 1, 2),
         nn AS (SELECT count(*)::BIGINT n FROM gv),
         gsz AS (SELECT wk, sum(c)::DOUBLE ng FROM pgv GROUP BY 1),
         jj AS (SELECT sum(a.c::DOUBLE * b.c *
                 CASE WHEN a.vb < b.vb THEN 1.0 WHEN a.vb = b.vb THEN 0.5
                   ELSE 0.0 END) j
               FROM pgv a JOIN pgv b ON a.wk < b.wk),
         tm AS (SELECT sum(t * (t - 1) * (t * 2 + 5)) t1,
                 sum(t * (t - 1) * (t - 2)) t2, sum(t * (t - 1)) t3
               FROM (SELECT sum(c)::DOUBLE t FROM pgv GROUP BY vb)),
         gm AS (SELECT sum(ng * ng) sn2,
                 sum(ng * (ng - 1) * (ng * 2 + 5)) g1,
                 sum(ng * (ng - 1) * (ng - 2)) g2,
                 sum(ng * (ng - 1)) g3, count(*)::BIGINT k FROM gsz),
         st AS (SELECT n, k, j, (n::DOUBLE * n - sn2) / 4.0 meanj,
                 (n::DOUBLE * (n - 1) * (n::DOUBLE * 2 + 5) - g1 - t1)
                   / 72.0
                   + g2 * t2 / (36.0 * n * (n - 1.0) * (n - 2))
                   + g3 * t3 / (8.0 * n * (n - 1.0)) varj
               FROM nn, jj, tm, gm),
         zz AS (SELECT *, CASE WHEN k >= 2 AND varj > 0
                 THEN (j - meanj) / sqrt(varj) END z FROM st),
         pz AS (SELECT *, abs(z) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) t FROM zz)
         SELECT n, k, round(j, 4) + 0.0 AS j_stat,
           round(meanj, 4) + 0.0 AS mean_j, round(varj, 4) + 0.0 AS var_j,
           round(z, 6) + 0.0 AS z,
           CASE WHEN z IS NOT NULL THEN round(least(1.0,
             t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
               + t * (-1.453152027 + t * 1.061405429)))) * exp(-az * az)),
             6) + 0.0 END AS p_value
         FROM pz""",
    // (user, event_type) contingency cells; items with >= 2 ratings;
    // the unequal-n Fleiss generalization
    "q306_fleiss_kappa" ->
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
         FROM ia, pe""",
    // one moment pass per cohort, reshaped to per-covariate rows
    "q299_covariate_balance" ->
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
         FROM u ORDER BY 1""",
    // the wasserstein CTE chain with squared gaps, doubled
    "q300_energy" ->
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
         FROM w, t""",
    // zero-filled day spine; two shifted equi-joins, one reduce
    "q301_mase" ->
      """WITH e AS (SELECT floor(epoch(ts) / 86400)::BIGINT d FROM events
                WHERE ts IS NOT NULL),
         daily AS (SELECT d, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) d),
         series AS (SELECT spine.d t, coalesce(daily.y, 0) y
                FROM spine LEFT JOIN daily ON daily.d = spine.d),
         sc AS (SELECT s.y, s7.y ys, s1.y y1
                FROM series s
                JOIN series s7 ON s.t = s7.t + 7
                JOIN series s1 ON s.t = s1.t + 1),
         nn AS (SELECT count(*)::BIGINT n FROM series),
         t AS (SELECT count(*)::BIGINT ns, avg(abs(y - ys)) ms,
                 avg(abs(y - y1)) m1
               FROM sc)
         SELECT n, ns AS n_scored, round(ms, 6) + 0.0 AS mae_seasonal,
           round(m1, 6) + 0.0 AS mae_naive1,
           CASE WHEN m1 > 0 THEN round(ms / m1, 6) + 0.0 END AS mase
         FROM t, nn""",
    // identical bigram extraction (toks[i], toks[i+1]), count tables,
    // interpolated-KN formula with the same discount and floor
    "q298_kn_bigram" ->
      """WITH dd AS (SELECT doc_id, lang,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> len(x) > 0) toks
                FROM documents WHERE lang IS NOT NULL),
         tb AS (SELECT toks[i] v, toks[i+1] w
                FROM dd, unnest(range(1, len(toks))) r(i)
                WHERE doc_id % 2 = 0),
         bc AS (SELECT v, w, count(*)::BIGINT cvw FROM tb GROUP BY 1, 2),
         ctx AS (SELECT v, sum(cvw)::BIGINT cv, count(*)::BIGINT n1v
                FROM bc GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT tbn FROM bc),
         cont AS (SELECT w, count(*)::DOUBLE / (SELECT tbn FROM tot) pc
                FROM bc GROUP BY 1),
         te AS (SELECT doc_id, lang, toks[i] v, toks[i+1] w
                FROM dd, unnest(range(1, len(toks))) r(i)
                WHERE doc_id % 2 = 1),
         j AS (SELECT te.doc_id, te.lang,
                 greatest(CASE WHEN ctx.cv IS NOT NULL AND ctx.cv > 0 THEN
                     (greatest(coalesce(bc.cvw, 0)::DOUBLE - 0.75, 0)
                      + 0.75 * ctx.n1v * coalesce(cont.pc, 0)) / ctx.cv
                   ELSE coalesce(cont.pc, 0) END, 1e-10) p
               FROM te
               LEFT JOIN bc ON te.v = bc.v AND te.w = bc.w
               LEFT JOIN ctx ON te.v = ctx.v
               LEFT JOIN cont ON te.w = cont.w)
         SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_bigrams,
           round(avg(-ln(p)), 6) + 0.0 AS avg_nll,
           round(exp(avg(-ln(p))), 4) + 0.0 AS ppl
         FROM j GROUP BY 1 ORDER BY 1""",
    // same distinct-|d| average-rank cumsum and tie-corrected variance
    "q294_wilcoxon" ->
      """WITH pu AS (SELECT user_id,
                  sum(CASE WHEN ts::DATE < DATE '2024-01-16'
                    THEN 1 ELSE 0 END)::DOUBLE x,
                  sum(CASE WHEN ts::DATE >= DATE '2024-01-16'
                    THEN 1 ELSE 0 END)::DOUBLE y
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                GROUP BY 1),
         dd AS (SELECT x - y d FROM pu),
         nz AS (SELECT abs(d) v, d FROM dd WHERE d <> 0),
         byv AS (SELECT v, count(*)::BIGINT cnt,
                  sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT pos
                FROM nz GROUP BY 1),
         c AS (SELECT v, cnt, pos,
                 coalesce(sum(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bef
               FROM byv),
         t AS (SELECT sum(pos * (bef + (cnt + 1) / 2.0)) wp,
                 sum(cnt::DOUBLE * cnt * cnt - cnt) tmass,
                 sum(cnt)::BIGINT n
               FROM c),
         np AS (SELECT count(*)::BIGINT npairs FROM pu)
         SELECT npairs AS n_pairs, n AS n_nonzero, wp AS w_plus,
           n::DOUBLE * (n + 1) / 2 - wp AS w_minus,
           round((wp - n::DOUBLE * (n + 1) / 4)
             / sqrt(n::DOUBLE * (n + 1) * (2 * n + 1) / 24 - tmass / 48), 6)
             + 0.0 AS z
         FROM t, np""",
    // within-block average ranks via RANGE-frame peer counts; the
    // tie-general chi2 with A - C in the denominator
    "q295_friedman" ->
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
         FROM f, nb""",
    // three Pearson marginals from one pass -> the first-order identity
    "q296_partial_corr" ->
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
         FROM c""",
    // the anova moment pass + sum ni^2 for the unbalanced k0
    "q297_icc" ->
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
         FROM f""",
    // identical md5 slicing (one digest, four 8-hex-char row hashes),
    // cells, and min-over-rows probe
    "q291_count_min" ->
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
         FROM est JOIN ex USING (sk)""",
    // k-bounded count table -> the exact one-degree trend algebra
    "q292_cochran_armitage" ->
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
         FROM f""",
    // q259's scored frame + the placement-variance algebra
    "q293_auc_delong" ->
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
         FROM sef""",
    // same distinct-value inclusive CDFs; Anderson's exact null moments
    "q288_cvm" ->
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
         FROM f""",
    // per-side counts -> the Wald/Woolf log-scale CIs and Cohen's h
    "q289_risk_ratio" ->
      """WITH b AS (SELECT user_id % 2 = 0 ev, event_type = 'error' er
                FROM events
                WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         sa AS (SELECT count(*)::BIGINT n1, sum(CASE WHEN er THEN 1 ELSE 0
                  END)::BIGINT k1 FROM b WHERE ev),
         sb AS (SELECT count(*)::BIGINT n2, sum(CASE WHEN er THEN 1 ELSE 0
                  END)::BIGINT k2 FROM b WHERE NOT ev),
         f AS (SELECT n1, k1, n2, k2, n1::DOUBLE nd1, k1::DOUBLE kd1,
                 n2::DOUBLE nd2, k2::DOUBLE kd2, 1.959963984540054 zc
               FROM sa, sb),
         g AS (SELECT *, kd1 / nd1 p1, kd2 / nd2 p2,
                 sqrt(1 / kd1 - 1 / nd1 + 1 / kd2 - 1 / nd2) rrse,
                 (kd1 * (nd2 - kd2)) / (kd2 * (nd1 - kd1)) orr,
                 sqrt(1 / kd1 + 1 / (nd1 - kd1) + 1 / kd2
                   + 1 / (nd2 - kd2)) orse
               FROM f),
         h AS (SELECT *, sqrt(p1 * (1 - p1) / nd1 + p2 * (1 - p2) / nd2) rdse
               FROM g)
         SELECT n1 AS n_a, k1 AS k_a, n2 AS n_b, k2 AS k_b,
           round(p1, 6) + 0.0 AS p_a, round(p2, 6) + 0.0 AS p_b,
           CASE WHEN k2 > 0 THEN round(p1 / p2, 6) + 0.0 END AS risk_ratio,
           CASE WHEN k1 > 0 AND k2 > 0
             THEN round(exp(ln(p1 / p2) - zc * rrse), 6) + 0.0 END AS rr_lo,
           CASE WHEN k1 > 0 AND k2 > 0
             THEN round(exp(ln(p1 / p2) + zc * rrse), 6) + 0.0 END AS rr_hi,
           CASE WHEN k1 > 0 AND k2 > 0 AND k1 < n1 AND k2 < n2
             THEN round(orr, 6) + 0.0 END AS odds_ratio,
           CASE WHEN k1 > 0 AND k2 > 0 AND k1 < n1 AND k2 < n2
             THEN round(exp(ln(orr) - zc * orse), 6) + 0.0 END AS or_lo,
           CASE WHEN k1 > 0 AND k2 > 0 AND k1 < n1 AND k2 < n2
             THEN round(exp(ln(orr) + zc * orse), 6) + 0.0 END AS or_hi,
           round(p1 - p2, 6) + 0.0 AS risk_diff,
           round(p1 - p2 - zc * rdse, 6) + 0.0 AS rd_lo,
           round(p1 - p2 + zc * rdse, 6) + 0.0 AS rd_hi,
           round(2 * asin(sqrt(p1)) - 2 * asin(sqrt(p2)), 6) + 0.0 AS cohens_h
         FROM h""",
    // q235's duration construction; hazard + variance through the same
    // 1e12 fixed-point prefix sums
    "q290_nelson_aalen" ->
      """WITH pu AS (SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
                FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS hm FROM events),
         bl AS (SELECT floor((floor(epoch(coalesce(p, hm))) -
                  floor(epoch(f))) / 3600)::BIGINT AS life,
                  (p IS NULL) AS cens
                FROM pu, h),
         g AS (SELECT life,
                 sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
                 sum(CASE WHEN cens THEN 1 ELSE 0 END)::BIGINT AS cns,
                 count(*)::BIGINT AS al
               FROM bl GROUP BY 1),
         w AS (SELECT *, coalesce(sum(al) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
                 (SELECT sum(al) FROM g) AS n
               FROM g),
         x AS (SELECT life, d, cns, (n - bef)::BIGINT AS nr,
                 round(d / (n - bef)::DOUBLE * 1e12)::BIGINT AS hq,
                 round(d / ((n - bef)::DOUBLE * (n - bef)) * 1e12)::BIGINT
                   AS vq
               FROM w),
         y AS (SELECT *, sum(hq) OVER (ORDER BY life
                 ROWS UNBOUNDED PRECEDING) AS hc,
                 sum(vq) OVER (ORDER BY life
                 ROWS UNBOUNDED PRECEDING) AS vc
               FROM x)
         SELECT life AS hours, nr AS n_risk, d AS n_events, cns AS n_censored,
           round(hc / 1e12, 6) + 0.0 AS cum_hazard,
           round(vc / 1e12, 8) + 0.0 AS var_hazard,
           round(exp(-hc / 1e12), 6) + 0.0 AS survival_na
         FROM y WHERE d > 0 ORDER BY 1""",
    // replay the md5 split, moment-sum OLS, row_number order statistic
    // and coverage reduce
    "q287_conformal" ->
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
         FROM cov""",
    // DuckDB's native jaro_winkler_similarity IS the independent oracle
    // for the kernel (conventions brute-force matched over random pairs)
    "q286_jaro_winkler" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
         p AS (SELECT a.p_name na, b.p_name nb
               FROM n a JOIN n b
                 ON substr(a.p_name, 1, 2) = substr(b.p_name, 1, 2)
                AND a.p_name < b.p_name)
         SELECT na AS name_a, nb AS name_b,
           round(jaro_winkler_similarity(na, nb), 6) + 0.0 AS jw
         FROM p WHERE jaro_winkler_similarity(na, nb) >= 0.8
         ORDER BY name_a, name_b""",
    // same doc_id-ordered token positions, first-occurrence minima,
    // checkpoint prefix counts and log-log OLS
    "q285_heaps_law" ->
      """WITH t AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(
                    text || ' uid' || doc_id::VARCHAR)), '\s+'),
                    x -> len(x) > 0) toks
                FROM documents),
         d AS (SELECT doc_id, toks, len(toks) len FROM t),
         o AS (SELECT doc_id, toks,
                 coalesce(sum(len) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) doff
               FROM d),
         tok AS (SELECT doff + i gpos, toks[i] term
                FROM o, unnest(range(1, len(toks) + 1)) r(i)),
         fo AS (SELECT term, min(gpos) fp FROM tok GROUP BY 1),
         nt AS (SELECT sum(len)::BIGINT n FROM d),
         spine AS (SELECT i::INT i, (i * n) // 10 np
                FROM nt, unnest(range(1, 11)) s(i)),
         curve AS (SELECT s.i, s.np, count(fo.term)::BIGINT v
                FROM spine s LEFT JOIN fo ON fo.fp <= s.np GROUP BY 1, 2),
         pts AS (SELECT ln(np::DOUBLE) x, ln(v::DOUBLE) y FROM curve
                WHERE np > 0 AND v > 0),
         mm AS (SELECT avg(x) mx, avg(y) my FROM pts),
         ss AS (SELECT sum((x - mx) * (x - mx)) sxx,
                 sum((x - mx) * (y - my)) sxy,
                 sum((y - my) * (y - my)) syy
               FROM pts, mm),
         fit AS (SELECT CASE WHEN sxx > 0 AND syy > 0 THEN sxy / sxx END beta,
                 CASE WHEN sxx > 0 AND syy > 0 THEN my - sxy / sxx * mx END lk,
                 CASE WHEN sxx > 0 AND syy > 0
                   THEN sxy * sxy / (sxx * syy) END r2
               FROM ss, mm)
         SELECT i, np AS n_prefix, v AS v_types,
           round(beta, 6) + 0.0 AS beta, round(lk, 6) + 0.0 AS log_k,
           round(r2, 6) + 0.0 AS r2
         FROM curve, fit ORDER BY i""",
    // replay the identical sketch: same md5-prefix hash, same k smallest
    // DISTINCT values, same closed-form estimator
    "q284_kmv_distinct" ->
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
         FROM est, ex""",
    // same hypergeometric enumeration with DuckDB's lgamma; the 1e-7
    // relative slack keeps mirror-table inclusion engine-stable
    "q283_fisher_exact" ->
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
         FROM t""",
    // the purchase-rate hour spine; scaled-CUSUM argmax with the same
    // double expressions, earliest-hour tie-break on the unrounded stat
    "q364_changepoint" ->
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h, event_type
                FROM events WHERE ts IS NOT NULL),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
         sp AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
         hc AS (SELECT h, sum(CASE WHEN event_type = 'purchase'
                  THEN 1 ELSE 0 END)::BIGINT AS y
               FROM e GROUP BY 1),
         ser AS (SELECT sp.h AS t, coalesce(y, 0)::BIGINT AS y
                FROM sp LEFT JOIN hc ON sp.h = hc.h),
         nn AS (SELECT count(*)::BIGINT n, count(*)::DOUBLE nd,
                 sum(y)::BIGINT sn, sum(y)::DOUBLE snd FROM ser),
         w AS (SELECT t, y,
                 sum(y) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) sk,
                 row_number() OVER (ORDER BY t) k
               FROM ser),
         st AS (SELECT t, k, sk::DOUBLE skd,
                 abs(sk::DOUBLE - k::DOUBLE * snd / nd)
                   / sqrt(k::DOUBLE * (nd - k::DOUBLE) / nd) stat
               FROM w, nn WHERE k < n),
         best AS (SELECT * FROM st ORDER BY stat DESC, t ASC LIMIT 1)
         SELECT n, t AS change_at, k::BIGINT AS k,
           round(stat, 6) + 0.0 AS stat,
           round(skd / k, 6) + 0.0 AS mean_before,
           round((sn - skd) / (n - k), 6) + 0.0 AS mean_after
         FROM best, nn""",
    // the two-rate hour spine; restricted vs unrestricted OLS from ten
    // exact BIGINT moments, centered/2x2/RSS arithmetic mirrored
    // expression-for-expression
    "q357_granger" ->
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h, event_type
                FROM events WHERE ts IS NOT NULL),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
         sp AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
         hc AS (SELECT h,
                 sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   ::BIGINT AS x,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   ::BIGINT AS y
               FROM e GROUP BY 1),
         ser AS (SELECT sp.h AS t, coalesce(x, 0)::BIGINT AS x,
                 coalesce(y, 0)::BIGINT AS y
                FROM sp LEFT JOIN hc ON sp.h = hc.h),
         pr AS (SELECT c.y AS z, l.y AS w, l.x AS v
                FROM ser c JOIN ser l ON c.t = l.t + 1),
         mm AS (SELECT count(*)::BIGINT n, sum(z)::BIGINT sz,
                 sum(w)::BIGINT sw, sum(v)::BIGINT sv,
                 sum(z * z)::BIGINT szz, sum(w * w)::BIGINT sww,
                 sum(v * v)::BIGINT svv, sum(z * w)::BIGINT szw,
                 sum(z * v)::BIGINT szv, sum(w * v)::BIGINT swv
               FROM pr),
         cc AS (SELECT n,
                 szz - sz::DOUBLE * sz / n AS czz,
                 sww - sw::DOUBLE * sw / n AS cww,
                 svv - sv::DOUBLE * sv / n AS cvv,
                 szw - sz::DOUBLE * sw / n AS czw,
                 szv - sz::DOUBLE * sv / n AS czv,
                 swv - sw::DOUBLE * sv / n AS cwv
               FROM mm),
         sl AS (SELECT n, czz, czw, czv,
                 czz - czw / cww * czw AS rssr,
                 cww * cvv - cwv * cwv AS det,
                 (cvv * czw - cwv * czv) AS nbo,
                 (cww * czv - cwv * czw) AS nbc
               FROM cc),
         fin AS (SELECT n, nbo / det AS bo, nbc / det AS bc,
                 czz - nbo / det * czw - nbc / det * czv AS rssu, rssr
               FROM sl)
         SELECT n, round(bo, 6) + 0.0 AS beta_own,
           round(bc, 6) + 0.0 AS beta_cross,
           round((rssr - rssu) * (n - 3.0) / rssu, 6) + 0.0 AS f,
           (n - 3)::BIGINT AS df2,
           ((rssr - rssu) * (n - 3.0) / rssu > 3.8415) AS granger_5pct
         FROM fin""",
    // the same zero-filled hour spine; lag pairs via the t = t' + 1
    // self-join; all six OLS moments are exact BIGINT sums, the gamma/
    // SE/t arithmetic mirrors the driver expression-for-expression
    "q355_dickey_fuller" ->
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
         sp AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
         hc AS (SELECT h, count(*)::BIGINT AS y FROM e GROUP BY 1),
         ser AS (SELECT sp.h AS t, coalesce(y, 0)::BIGINT AS y
                FROM sp LEFT JOIN hc ON sp.h = hc.h),
         pr AS (SELECT l.y AS x, (c.y - l.y) AS dy
                FROM ser c JOIN ser l ON c.t = l.t + 1),
         mm AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                 sum(dy)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
                 sum(x * dy)::BIGINT AS sxy, sum(dy * dy)::BIGINT AS syy
               FROM pr),
         cc AS (SELECT n, sxx - sx::DOUBLE * sx / n AS cxx,
                 sxy - sx::DOUBLE * sy / n AS cxy,
                 syy - sy::DOUBLE * sy / n AS cyy
               FROM mm),
         r AS (SELECT n, cxy / cxx AS gamma,
                 sqrt(greatest((cyy - cxy / cxx * cxy) / (n - 2.0), 0.0)
                   / cxx) AS se
               FROM cc)
         SELECT n, round(gamma, 6) + 0.0 AS gamma,
           round(se, 6) + 0.0 AS se_gamma,
           round(gamma / se, 6) + 0.0 AS df_stat,
           (gamma / se < -2.86) AS stationary_5pct
         FROM r""",
    // zero-filled hour spine; r_k via the h = h' + k self-join; chi2(10)
    // survival = exp(-q/2) * sum_{j<5} (q/2)^j / j!
    "q282_ljung_box" ->
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         hourly AS (SELECT h, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(h) FROM e),
                  (SELECT max(h) FROM e) + 1)) h),
         series AS (SELECT spine.h, coalesce(hourly.y, 0) y
                FROM spine LEFT JOIN hourly USING (h)),
         st AS (SELECT count(*)::BIGINT n, sum(y) / count(*) mu,
                  sum(y * y) - count(*) * pow(sum(y) / count(*), 2) ss
                FROM series),
         lagk AS (SELECT t.k, a.y ya, b.y yb
                FROM series a
                CROSS JOIN (SELECT unnest(range(1, 11)) k) t
                JOIN series b ON a.h = b.h + t.k),
         rk AS (SELECT k, st.n,
                  sum((ya - st.mu) * (yb - st.mu)) / st.ss r
                FROM lagk, st GROUP BY k, st.mu, st.ss, st.n),
         qq AS (SELECT n, n::DOUBLE * (n + 2) * sum(r * r / (n - k)) q,
                  max(CASE WHEN k = 1 THEN r END) r1
                FROM rk GROUP BY n)
         SELECT n, 10 AS lags, round(r1, 6) + 0.0 AS r1,
           round(q, 6) + 0.0 AS q_stat,
           round(least(1.0, exp(-q / 2) * (1 + q / 2 + pow(q / 2, 2) / 2
             + pow(q / 2, 3) / 6 + pow(q / 2, 4) / 24)), 6) + 0.0 AS p_value
         FROM qq""",
    // W1 = sum |F_a - F_b| * gap over consecutive merged distinct values
    "q280_wasserstein" ->
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
         FROM w, t""",
    // per-weekday 2x2 tables -> hypergeometric mean/variance, pooled with
    // the 0.5 continuity correction; MH odds ratio alongside
    "q273_cmh" ->
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
         FROM agg""",
    // the q273 strata; MH odds ratio from 12-dp-quantized long sums, the
    // STRICTLY-in-bounds quadratic root per stratum (boundary strata —
    // no in-bounds root — are excluded from both the BD sum and the df
    // count, mirroring breslowDay's K_eff rule), 9-dp-quantized BD
    // contributions; the even-df closed-form survival is specialized to
    // the keff = 7 this data yields (all 7 dow strata contribute)
    "q365_breslow_day" ->
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
         FROM f""",
    // the q235 duration construction split even/odd; at-risk prefixes via
    // exclusive cumulative exits, pooled hypergeometric O/E/V
    "q274_log_rank" ->
      """WITH pu AS (SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
                FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS hm FROM events),
         bl AS (SELECT floor((floor(epoch(coalesce(p, hm))) -
                  floor(epoch(f))) / 3600)::BIGINT AS life,
                  (p IS NULL) AS cens,
                  CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g
                FROM pu, h),
         gl AS (SELECT life,
                 sum(CASE WHEN g = 'even' AND NOT cens THEN 1 ELSE 0 END)::BIGINT da,
                 sum(CASE WHEN g = 'odd' AND NOT cens THEN 1 ELSE 0 END)::BIGINT db,
                 sum(CASE WHEN g = 'even' THEN 1 ELSE 0 END)::BIGINT alla,
                 sum(CASE WHEN g = 'odd' THEN 1 ELSE 0 END)::BIGINT allb
               FROM bl GROUP BY 1),
         w AS (SELECT *,
                 coalesce(sum(alla) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) ba,
                 coalesce(sum(allb) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bb,
                 (SELECT sum(alla) FROM gl) na,
                 (SELECT sum(allb) FROM gl) nb
               FROM gl),
         x AS (SELECT da, db, (na - ba)::BIGINT nra, (nb - bb)::BIGINT nrb
               FROM w WHERE da + db > 0),
         agg AS (SELECT sum(da)::BIGINT oa, sum(db)::BIGINT ob,
             sum((da + db)::DOUBLE * nra / (nra + nrb)) ea,
             sum(CASE WHEN nra + nrb > 1 THEN
               (da + db)::DOUBLE * nra / (nra + nrb) * nrb / (nra + nrb)
                 * (nra + nrb - da - db) / (nra + nrb - 1) ELSE 0.0 END) va
           FROM x),
         tot AS (SELECT (SELECT sum(alla) FROM gl)::BIGINT na,
                   (SELECT sum(allb) FROM gl)::BIGINT nb)
         SELECT 'even' AS group_a, 'odd' AS group_b, tot.na AS n_a,
           tot.nb AS n_b, agg.oa AS events_a, agg.ob AS events_b,
           round(agg.ea, 6) + 0.0 AS expected_a,
           round(agg.va, 6) + 0.0 AS var_a,
           (CASE WHEN agg.va > 0 THEN
             round((agg.oa - agg.ea) * (agg.oa - agg.ea) / agg.va, 6) END)
             + 0.0 AS chi2
         FROM agg, tot""",
    // integer-exact S and tie mass over the bounded day-pair join;
    // continuity-corrected z with the shared z-critical literal
    "q272_mann_kendall" ->
      """WITH d AS (SELECT ts::DATE AS day, count(*)::BIGINT y FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         s AS (SELECT sum(CASE WHEN b.y > a.y THEN 1
                          WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT s
               FROM d a JOIN d b ON b.day > a.day),
         tt AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT m
                FROM (SELECT count(*)::BIGINT t FROM d GROUP BY y) ts2),
         nn AS (SELECT count(*)::BIGINT n FROM d),
         v AS (SELECT nn.n, s.s,
                 (nn.n::DOUBLE * (nn.n - 1) * (2 * nn.n + 5) - tt.m) / 18.0
                   vs
               FROM nn, s, tt)
         SELECT n AS n_days, s,
           round(vs, 4) + 0.0 AS var_s,
           (CASE WHEN vs > 0 THEN round(CASE WHEN s > 0
               THEN (s - 1) / sqrt(vs)
               WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END, 6) END)
             + 0.0 AS z,
           CASE WHEN vs > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(vs)
                  WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END)
                  > 1.959963984540054 THEN 'increasing'
                WHEN vs > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(vs)
                  WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END)
                  < -1.959963984540054 THEN 'decreasing'
                ELSE 'none' END AS trend
         FROM v""",
    // 3-iteration EM replayed as chained CTEs (fsCtes); per-field
    // weights from the final parameter row
    "q268_fs_weights" ->
      s"""WITH ${fsCtes(3)}
         SELECT field,
           round(m, 6) + 0.0 AS m, round(u, 6) + 0.0 AS u,
           round(ln(m / u), 6) + 0.0 AS w_agree,
           round(ln((1 - m) / (1 - u)), 6) + 0.0 AS w_disagree,
           round(lam, 6) + 0.0 AS lambda
         FROM (
           SELECT 'nation_agree' field, m1 m, u1 u, lam FROM s3
           UNION ALL SELECT 'segment_agree', m2, u2, lam FROM s3
           UNION ALL SELECT 'balance_agree', m3, u3, lam FROM s3)
         ORDER BY field""",
    // same EM fit; per-pattern likelihood ratio and posterior
    "q269_fs_posteriors" ->
      s"""WITH ${fsCtes(3)},
         fin AS (SELECT p.g1, p.g2, p.g3, p.n,
             (CASE WHEN g1 THEN s3.m1 ELSE 1 - s3.m1 END)
               * (CASE WHEN g2 THEN s3.m2 ELSE 1 - s3.m2 END)
               * (CASE WHEN g3 THEN s3.m3 ELSE 1 - s3.m3 END) pm,
             (CASE WHEN g1 THEN s3.u1 ELSE 1 - s3.u1 END)
               * (CASE WHEN g2 THEN s3.u2 ELSE 1 - s3.u2 END)
               * (CASE WHEN g3 THEN s3.u3 ELSE 1 - s3.u3 END) pu,
             s3.lam
           FROM p, s3)
         SELECT g1 AS nation_agree, g2 AS segment_agree,
           g3 AS balance_agree, n AS n_pairs,
           round(ln(pm / pu), 6) + 0.0 AS llr,
           round((lam * pm) / (lam * pm + (1 - lam) * pu), 6) + 0.0
             AS posterior
         FROM fin ORDER BY nation_agree, segment_agree, balance_agree""",
    // same q72-convention tokenizer; OTHER bucket keyed by '' (impossible
    // as a real token), global support contains every source's support
    "q245_source_divergence" ->
      """WITH toks AS (SELECT source,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents WHERE source IS NOT NULL),
         vocab AS (SELECT term FROM (
             SELECT term, count(*) AS c FROM toks
             GROUP BY 1 ORDER BY c DESC, term ASC LIMIT 200)),
         b AS (SELECT t.source,
                 CASE WHEN v.term IS NOT NULL THEN t.term ELSE '' END AS t
               FROM toks t LEFT JOIN vocab v ON t.term = v.term),
         ps AS (SELECT source, t, count(*)::BIGINT AS cs FROM b GROUP BY 1, 2),
         ts AS (SELECT source, sum(cs) AS ts FROM ps GROUP BY 1),
         g AS (SELECT t, sum(cs) AS cg FROM ps GROUP BY 1),
         tg AS (SELECT sum(cg) AS tg FROM g)
         SELECT ps.source, max(ts.ts)::BIGINT AS n_tokens,
           round(greatest(sum((cs / ts.ts::DOUBLE)
             * ln((cs / ts.ts::DOUBLE) / (cg / tg.tg::DOUBLE))), 0.0), 6)
             + 0.0 AS kl_nats
         FROM ps JOIN ts USING (source) JOIN g USING (t) CROSS JOIN tg
         GROUP BY ps.source ORDER BY ps.source""",
    // same var_samp/covar_samp primitives; the adjusted variance uses the
    // exact identity var_y - cov^2/var_x on both engines
    "q244_cuped" ->
      """WITH pu AS (SELECT user_id,
                  sum(CASE WHEN ts::DATE < DATE '2024-01-08' THEN 1 ELSE 0 END)
                    ::DOUBLE AS x,
                  sum(CASE WHEN ts::DATE >= DATE '2024-01-08' THEN 1 ELSE 0 END)
                    ::DOUBLE AS y
                FROM events GROUP BY 1),
         s AS (SELECT count(*)::BIGINT AS n, var_samp(x) AS vx,
                 var_samp(y) AS vy, covar_samp(x, y) AS cxy, avg(y) AS my
               FROM pu)
         SELECT n,
           (CASE WHEN vx > 0 THEN round(cxy / vx, 6) END) + 0.0 AS theta,
           round(my, 6) + 0.0 AS mean_metric,
           round(vy, 6) + 0.0 AS var_metric,
           round(CASE WHEN vx > 0 THEN vy - cxy * cxy / vx ELSE vy END, 6)
             + 0.0 AS var_adjusted,
           (CASE WHEN vy > 0 THEN round(1.0 - (CASE WHEN vx > 0
                 THEN vy - cxy * cxy / vx ELSE vy END) / vy, 6) END)
             + 0.0 AS var_reduction
         FROM s""",
    // same md5->uniform (q102 convention) -> shared Poisson(1) inverse-CDF
    // literals; replicate means are exact dyadic ratios (integer n_chars),
    // percentile interpolation is the same (n-1)p formula on both engines
    "q243_bootstrap_ci" ->
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
         FROM st, ci""",
    // identical md5 relabeling per (seed, perm, side, id), coin WEIGHTED
    // at n_a/(n_a+n_b) (unconditional randomization conditioning on the
    // observed imbalance in expectation); u = hex8/2^32 exactly as q243,
    // so both engines compare the identical exact double. Integer-valued
    // n_chars makes every group mean bit-exact, so the >= count can never
    // sit on a float boundary; add-one p estimator
    "q242_permutation_test" ->
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
         FROM obs, c""",
    // top-500 en vocabulary (count desc, term asc — deterministic cut),
    // per-lang token coverage; same q72-convention tokenizer
    "q241_oov_rate" ->
      """WITH toks AS (SELECT lang,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents WHERE lang IS NOT NULL),
         ref AS (SELECT term FROM (
             SELECT term, count(*) AS cnt FROM toks WHERE lang = 'en'
             GROUP BY 1 ORDER BY cnt DESC, term ASC LIMIT 500)),
         m AS (SELECT t.lang, t.term, (r.term IS NULL) AS oov
               FROM toks t LEFT JOIN ref r ON t.term = r.term)
         SELECT lang, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN oov THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           round(sum(CASE WHEN oov THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6)
             + 0.0 AS oov_rate
         FROM m GROUP BY lang ORDER BY lang""",
    // head fingerprint = first 40 chars of lowercased whitespace-collapsed
    // text; top head per source by (count desc, head asc)
    "q237_boilerplate" ->
      """WITH h AS (SELECT source,
             substr(regexp_replace(lower(trim(text)), '[ \t\n\r]+', ' ', 'g'),
               1, 40) AS hd
           FROM documents WHERE source IS NOT NULL),
         c AS (SELECT source, hd, count(*)::BIGINT AS hc FROM h GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY hc DESC, hd ASC) AS rk FROM c)
         SELECT source, sum(hc)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_distinct_heads,
           max(CASE WHEN rk = 1 THEN hc END)::BIGINT AS top_count,
           round(max(CASE WHEN rk = 1 THEN hc END) / sum(hc)::DOUBLE, 6)
             AS top_share,
           max(CASE WHEN rk = 1 THEN hd END) AS top_head
         FROM r GROUP BY source ORDER BY source""",
    // χ² over ALL kₐ·k_b cells from observed cells only: an empty cell's
    // term is its expected count e, and Σ_all e = n, so the empty-cell
    // mass is n − Σ_observed e. MI empty cells contribute 0.
    "q223_lang_source_assoc" ->
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
         FROM z""",
    // per-pair replay of the q223 chain over pair-suffixed CTEs, unioned
    "q228_assoc_matrix" -> {
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
    },
    // Fingerprint = the q150 whitespace-normalized md5; first-seen batch
    // per fingerprint, inclusive running distinct count over the batch
    // spine (batches are distinct rows, so RANGE ≡ ROWS here)
    "q224_novelty_curve" ->
      """WITH b AS (SELECT floor(doc_id / 100)::BIGINT AS batch,
                  md5(array_to_string(
                    CASE WHEN length(trim(text)) = 0 THEN []
                         ELSE string_split_regex(lower(trim(text)), '\s+') END,
                    ' ')) AS fp
                FROM documents),
         pb AS (SELECT batch, count(*)::BIGINT AS n_docs FROM b GROUP BY 1),
         fs AS (SELECT fp, min(batch) AS batch FROM b GROUP BY 1),
         nn AS (SELECT batch, count(*)::BIGINT AS n_new FROM fs GROUP BY 1),
         c AS (SELECT pb.batch, pb.n_docs, coalesce(nn.n_new, 0)::BIGINT AS n_new
               FROM pb LEFT JOIN nn USING (batch))
         SELECT batch, n_docs, n_new,
           (sum(n_new) OVER (ORDER BY batch))::BIGINT AS cum_new,
           round(n_new::DOUBLE / n_docs, 6) AS novelty_rate
         FROM c ORDER BY batch""",
    // Centroid = per-dim mean (q82's construction); dist = 1 − cos to the
    // OWN label's centroid; z over the label's population σ; top-5 per
    // label by dist desc, id asc
    "q225_mislabel_candidates" ->
      """WITH ex AS (SELECT label, vec_id, embedding::DOUBLE[] AS e
                     FROM embeddings),
         cent AS (SELECT label, list(m ORDER BY dim) AS c FROM (
                    SELECT label, i AS dim, avg(e[i]) AS m
                    FROM ex, unnest(range(1, len(e) + 1)) AS u(i)
                    GROUP BY label, i) GROUP BY label),
         d AS (SELECT ex.label, vec_id,
                 1 - list_cosine_similarity(e, c) AS dist
               FROM ex JOIN cent USING (label)),
         s AS (SELECT label, avg(dist) AS mu, stddev_pop(dist) AS sigma
               FROM d GROUP BY label),
         r AS (SELECT d.label, vec_id, dist,
                 CASE WHEN sigma > 0 THEN (dist - mu) / sigma END AS z,
                 row_number() OVER (PARTITION BY d.label
                   ORDER BY round(dist, 4) DESC, vec_id ASC) AS rank
               FROM d JOIN s USING (label))
         SELECT label, vec_id AS id, round(dist, 4) + 0.0 AS dist,
                round(z, 4) + 0.0 AS z, rank
         FROM r WHERE rank <= 5 ORDER BY label, rank""",
    // Orphans = fact keys with no surviving dim key (dim drops keys ≡ 3
    // mod 10); null fact keys counted separately on both sides
    "q109_referential" ->
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
             AS n_orphans) t""",
    // Validity intervals: next change's seq (exclusive) per key via lead;
    // open interval ⇒ current row
    "q110_scd2_history" ->
      """SELECT o_custkey, o_orderkey AS valid_from,
                lead(o_orderkey) OVER w AS valid_to,
                CASE WHEN lead(o_orderkey) OVER w IS NULL THEN 1 ELSE 0 END
                  AS is_current,
                round(o_totalprice, 2) AS price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_custkey, valid_from""",
    // Whole-day gaps strictly between active days; lead over distinct
    // (user, epoch-day) on both sides
    "q111_activity_gaps" ->
      """WITH ud AS (SELECT DISTINCT user_id,
                       date_diff('day', DATE '1970-01-01', ts::DATE) AS day
                     FROM events),
         w AS (SELECT user_id, day,
                 lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
               FROM ud)
         SELECT user_id, (day + 1)::BIGINT AS gap_start_day,
                (nxt - 1)::BIGINT AS gap_end_day,
                (nxt - day - 1)::BIGINT AS n_missing
         FROM w WHERE nxt > day + 1 ORDER BY user_id, gap_start_day""",
    // Consecutive-pair transitions within (user, day); epoch_us ordering
    // mirrors Spark's micros timestamps, event_id breaks ties identically
    "q112_event_transitions" ->
      """WITH t AS (
           SELECT event_type,
                  lead(event_type) OVER (
                    PARTITION BY user_id, date_diff('day', DATE '1970-01-01', ts::DATE)
                    ORDER BY epoch_us(ts), event_id) AS nxt
           FROM events),
         c AS (SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
               FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2),
         s AS (SELECT sum(n) AS total FROM c)
         SELECT from_type, to_type, n::BIGINT AS n,
                round(n::DOUBLE / total, 6) AS share
         FROM c CROSS JOIN s ORDER BY from_type, to_type""",
    // GROUP BY ROLLUP with the standard grouping bitmask; '(all)' labels
    // replace the NULL group markers on both engines
    "q113_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
                coalesce(l_linestatus, '(all)') AS l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty, count(*)::BIGINT AS n,
                GROUPING(l_returnflag, l_linestatus)::BIGINT AS grp
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY grp, l_returnflag, l_linestatus""",
    // Pivot ≡ conditional aggregation with an explicit value list
    "q114_pivot" ->
      """SELECT hour(ts)::INT AS hour_of_day,
                sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS "view",
                sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
                sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
                sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error
         FROM events GROUP BY 1 ORDER BY hour_of_day""",
    // Smoothed log rate ratio per term between snapshot halves; the
    // 6-dp-rounded score is the ranking key on both engines so the k
    // boundary survives last-ulp ln() differences
    "q115_trending_terms" ->
      """WITH t AS (
           SELECT doc_id % 2 = 0 AS is_a,
                  unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> len(x) > 0)) AS term
           FROM documents),
         c AS (SELECT term, count(*) FILTER (WHERE is_a) AS n_a,
                      count(*) FILTER (WHERE NOT is_a) AS n_b
               FROM t GROUP BY term),
         tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c),
         s AS (SELECT term, n_a, n_b,
                 round(ln(((n_b + 1) / (tb + 1)) / ((n_a + 1) / (ta + 1))), 6) AS score
               FROM c CROSS JOIN tot)
         SELECT term, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b, score
         FROM s ORDER BY score DESC, term LIMIT 50""",
    // Equi-depth buckets from interpolated quartiles (quantile_cont ≡
    // percentile parity); assignment is the same <= chain on both engines
    "q116_quantile_bins" ->
      """WITH q AS (SELECT quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS qs
                    FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                CASE WHEN l_extendedprice <= qs[1] THEN 1
                     WHEN l_extendedprice <= qs[2] THEN 2
                     WHEN l_extendedprice <= qs[3] THEN 3
                     ELSE 4 END AS l_extendedprice_bucket
         FROM lineitem CROSS JOIN q ORDER BY l_orderkey, l_linenumber""",
    // Per-group E-S keys (q102's md5-uint32 construction) ranked by the
    // same (key desc, id) row_number per lang
    "q117_weighted_group_sample" ->
      """WITH s AS (
           SELECT doc_id, lang, n_chars,
                  ln((('0x' || substr(md5('wg:' || doc_id::VARCHAR), 1, 8))::UBIGINT + 0.5)
                     / 4294967296.0) / n_chars AS k
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         r AS (SELECT doc_id, lang, n_chars,
                 row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id)
                   AS quota_rank
               FROM s)
         SELECT doc_id, lang, n_chars, quota_rank
         FROM r WHERE quota_rank <= 10 ORDER BY doc_id""",
    // Duration-weighted mean in epoch-micros; (ts, event_id) ordering
    // makes the value→duration pairing deterministic under timestamp ties
    "q118_time_weighted" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value
                    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         w AS (SELECT user_id, value,
                 (lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t)::DOUBLE
                   AS dt
               FROM e)
         SELECT user_id, round(sum(value * dt) / sum(dt), 4) AS twa,
                count(*)::BIGINT AS n_intervals, sum(dt)::BIGINT AS total_duration
         FROM w WHERE dt IS NOT NULL AND dt > 0
         GROUP BY user_id ORDER BY user_id""",
    // First-seen day per user, then a running sum over the bounded
    // per-day table
    "q119_adoption_curve" ->
      """WITH f AS (SELECT user_id,
                      min(date_diff('day', DATE '1970-01-01', ts::DATE)) AS day
                    FROM events GROUP BY user_id),
         c AS (SELECT day, count(*) AS new_users FROM f GROUP BY day)
         SELECT day::BIGINT AS day, new_users::BIGINT AS new_users,
                sum(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                  AS cum_users
         FROM c ORDER BY day""",
    // Interpolated per-group quantiles (quantile_cont ≡ percentile
    // parity); p cast to DOUBLE to match Spark's double literal array
    "q120_group_percentiles" -> {
      def block(p: String) =
        s"""SELECT event_type, $p::DOUBLE AS p,
            round(quantile_cont(value, $p), 4) AS value
            FROM events GROUP BY event_type"""
      Seq("0.5", "0.9", "0.99").map(block)
        .mkString("", "\nUNION ALL\n", "\nORDER BY event_type, p")
    },
    // Unordered type-pair co-occurrence over distinct (user, day, type)
    // baskets; lift from the same three count tables
    "q121_basket_lift" ->
      """WITH bk AS (SELECT DISTINCT user_id,
                       date_diff('day', DATE '1970-01-01', ts::DATE) AS d,
                       event_type AS t
                     FROM events),
         nb AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, d FROM bk)),
         s AS (SELECT t, count(*) AS n1 FROM bk GROUP BY t),
         p AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_ab
               FROM bk a JOIN bk b ON a.user_id = b.user_id AND a.d = b.d
                 AND a.t < b.t
               GROUP BY 1, 2)
         SELECT type_a, type_b, n_ab::BIGINT AS n_ab,
                round((n_ab::DOUBLE * nb.n) / (sa.n1 * sb.n1), 4) AS lift
         FROM p
         JOIN s sa ON sa.t = type_a
         JOIN s sb ON sb.t = type_b
         CROSS JOIN nb
         ORDER BY type_a, type_b""",
    // Windowed interpolated median over the trailing 24 buckets, current
    // excluded — quantile_cont as a window aggregate on both engines
    "q122_rolling_median" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n
                    FROM events GROUP BY 1),
         w AS (SELECT bucket, n,
                 quantile_cont(n, 0.5) OVER (ORDER BY bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS med,
                 count(*) OVER (ORDER BY bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS cnt
               FROM c)
         SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                n::BIGINT AS n_events, round(med, 4) AS med
         FROM w WHERE cnt = 24 ORDER BY bucket""",
    // q98's sequential-min funnel times: duration = final advance − first
    // advance per fully-converted user, interpolated percentiles
    "q123_funnel_time" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         s1 AS (SELECT user_id, min(t) AS t FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t
                WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s2 ON e.user_id = s2.user_id AND e.t > s2.t
                WHERE e.event_type = 'purchase' GROUP BY e.user_id),
         d AS (SELECT (s3.t - s1.t)::DOUBLE AS dur
               FROM s3 JOIN s1 USING (user_id))
         SELECT count(*)::BIGINT AS n_converted,
                round(quantile_cont(dur, 0.5), 4) AS p50_us,
                round(quantile_cont(dur, 0.9), 4) AS p90_us
         FROM d""",
    // cume_dist has identical tie semantics on both engines (share of
    // group with value <= this row's)
    "q124_percentile_rank" ->
      """SELECT event_id, event_type, round(value, 2) AS value,
                round(cume_dist() OVER (PARTITION BY event_type ORDER BY value), 6)
                  AS pct_rank
         FROM events ORDER BY event_id""",
    // (x - min) / (max - min) per group; exact min/max make the scaled
    // value identical double arithmetic on both engines
    "q125_minmax_scale" ->
      """WITH s AS (SELECT l_returnflag, min(l_quantity) AS mn, max(l_quantity) AS mx
                    FROM lineitem GROUP BY l_returnflag)
         SELECT l_orderkey, l_linenumber,
                round(CASE WHEN mx = mn THEN 0.0
                           ELSE (l_quantity - mn) / (mx - mn) END, 6) AS q_scaled
         FROM lineitem JOIN s USING (l_returnflag)
         ORDER BY l_orderkey, l_linenumber""",
    // Group median/MAD via quantile_cont (interpolation parity proven by
    // q17/q97); MAD = 0 groups yield NULL on both engines
    "q126_group_robust_z" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                    FROM events GROUP BY event_type),
         d AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
               FROM events JOIN m USING (event_type) GROUP BY event_type)
         SELECT event_id, event_type,
                CASE WHEN mad > 0
                     THEN round((value - med) / (1.4826 * mad), 4) END AS robust_z
         FROM events JOIN m USING (event_type) JOIN d USING (event_type)
         ORDER BY event_id""",
    // q63's recursive-CTE components + per-component argmax(n_chars)
    "q127_cluster_reps" ->
      s"""WITH RECURSIVE pairs AS (${jaccardPairsSql(0.7)}),
          e AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
          reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
          comp AS (SELECT a AS doc_id, min(b) AS component
                   FROM reach GROUP BY a),
          j AS (SELECT c.component, d.doc_id, d.n_chars
                FROM comp c JOIN documents d USING (doc_id)),
          r AS (SELECT component, doc_id, n_chars,
                  row_number() OVER (PARTITION BY component
                    ORDER BY n_chars DESC, doc_id) AS rn
                FROM j)
          SELECT component, doc_id, n_chars FROM r WHERE rn = 1
          ORDER BY component""",
    // The salted join must be INVISIBLE in the result: oracle is the
    // plain join + the DECIMAL money-sum contract
    "q128_salted_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
                round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE
                  AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    // Shannon entropy (nats) + Gini over each source's language mix;
    // shares from exact integer counts, terms rounded 6dp
    "q129_source_entropy" ->
      """WITH c AS (SELECT source, lang, count(*) AS n FROM documents
                    WHERE source IS NOT NULL AND lang IS NOT NULL
                    GROUP BY 1, 2),
         t AS (SELECT source, sum(n) AS tot FROM c GROUP BY source)
         SELECT c.source AS "group", t.tot::BIGINT AS n_rows,
                count(*)::BIGINT AS n_categories,
                round(-sum((n / tot) * ln(n / tot)), 6) AS entropy,
                round(1.0 - sum((n / tot) * (n / tot)), 6) AS gini
         FROM c JOIN t USING (source)
         GROUP BY c.source, t.tot ORDER BY "group"""",
    // Distinct 3-shingle sets per half (hashes Spark-side ≡ strings
    // oracle-side, q88's established equivalence), set-overlap counts
    "q130_corpus_overlap" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         ga AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 2 = 0),
         gb AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 2 <> 0)
         SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
                n_i::BIGINT AS n_intersect,
                (n_a + n_b - n_i)::BIGINT AS n_union,
                round(n_i::DOUBLE / (n_a + n_b - n_i), 6) AS jaccard
         FROM (SELECT (SELECT count(*) FROM ga) AS n_a,
                      (SELECT count(*) FROM gb) AS n_b,
                      (SELECT count(*) FROM ga JOIN gb USING (g)) AS n_i)""",
    // Two-sample KS over empirical CDFs at distinct values; exact
    // integer cumulative counts make the per-value deltas bit-identical
    "q131_ks_drift" ->
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
         FROM c CROSS JOIN t GROUP BY ta, tb""",
    // JSON field extraction parity: get_json_object ≡ json_extract on
    // the same path, integer-cast before aggregation
    "q132_json_props" ->
      """SELECT event_type, count(*) AS n,
                sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
                round(avg(json_extract(props, '$.k')::INT), 4) AS avg_k,
                min(json_extract(props, '$.k')::INT)::INT AS min_k,
                max(json_extract(props, '$.k')::INT)::INT AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    // q98's CTEs with the anchored 12h window: stage-2+ advances must
    // fall within s1.t + W (first-entry anchoring, not re-anchoring)
    "q133_funnel_within" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         s1 AS (SELECT user_id, min(t) AS t FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t
                  AND e.t - s1.t <= 43200000000
                WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
                JOIN s2 ON e.user_id = s2.user_id AND e.t > s2.t
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'purchase' AND e.t - s1.t <= 43200000000
                GROUP BY e.user_id),
         c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
         b AS (SELECT n AS base FROM c WHERE stage = 1)
         SELECT stage, stage_name, n::BIGINT AS n_users,
                round(n::DOUBLE / base, 4) AS conversion
         FROM c CROSS JOIN b ORDER BY stage""",
    // Publish-gate composition: each block mirrors its standalone oracle
    // (q108-family rules, q101 psi, q131 ks, q130 overlap); pass flags
    // computed on ROUNDED values so the boundary is engine-exact
    "q134_publish_gate" ->
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
         ORDER BY metric""",
    // Sentence contract mirror: split on [.!?]+ runs, count segments with
    // an ASCII alphanumeric; words from the shared tokenizer mirror
    "q135_sentence_stats" ->
      """WITH t AS (
           SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '[.!?]+'),
               s -> regexp_matches(s, '[A-Za-z0-9]'))) AS n_sentences,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS n_words
           FROM documents)
         SELECT doc_id, n_sentences::INT AS n_sentences, n_words::INT AS n_words,
                CASE WHEN n_sentences > 0
                     THEN round(n_words::DOUBLE / n_sentences, 4) END
                  AS words_per_sentence
         FROM t ORDER BY doc_id""",
    // Flesch proxy: same sentence/word mirrors + [aeiouy]+ vowel-group
    // count (regexp_extract_all ≡ regexp_count, non-overlapping greedy)
    "q136_readability" ->
      """WITH t AS (
           SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '[.!?]+'),
               s -> regexp_matches(s, '[A-Za-z0-9]'))) AS s,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS w,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS v
           FROM documents)
         SELECT doc_id,
                CASE WHEN s > 0 AND w > 0
                     THEN round(206.835 - 1.015 * (w::DOUBLE / s)
                                - 84.6 * (v::DOUBLE / w), 4) END
                  AS reading_ease
         FROM t ORDER BY doc_id""",
    // q107's construction with the type in every key: per-type hourly
    // counts, per-type trailing baseline
    "q137_rate_anomaly_by_type" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                      count(*) AS n
                    FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, bucket, n,
                 avg(n) OVER win AS mu,
                 stddev_samp(n) OVER win AS sd,
                 count(*) OVER win AS cnt
               FROM c
               WINDOW win AS (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                n::BIGINT AS n_events, round((n - mu) / sd, 3) AS z
         FROM w WHERE cnt = 24 AND sd > 0
         ORDER BY event_type, bucket""",
    // q131's construction with source in every key; md5 halves (id parity
    // is confounded with source blocks); one-sided groups excluded
    "q138_ks_by_source" ->
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
         FROM c GROUP BY grp, ta, tb ORDER BY "group"""",
    // q41's session assignment (micros gap rule, event_id tiebreak) +
    // q98's sequential-min funnel keyed by (user, session)
    "q139_session_funnel" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type
                    FROM events),
         g AS (SELECT user_id, event_id, t, event_type,
                 CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         s AS (SELECT user_id, t, event_type,
                 sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM g),
         s1 AS (SELECT user_id, sid, min(t) AS t FROM s
                WHERE event_type = 'view' GROUP BY 1, 2),
         s2 AS (SELECT s.user_id, s.sid, min(s.t) AS t FROM s
                JOIN s1 ON s.user_id = s1.user_id AND s.sid = s1.sid
                  AND s.t > s1.t
                WHERE s.event_type = 'click' GROUP BY 1, 2),
         s3 AS (SELECT s.user_id, s.sid, min(s.t) AS t FROM s
                JOIN s2 ON s.user_id = s2.user_id AND s.sid = s2.sid
                  AND s.t > s2.t
                WHERE s.event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
         b AS (SELECT n AS base FROM c WHERE stage = 1)
         SELECT stage, stage_name, n::BIGINT AS n_sessions,
                round(n::DOUBLE / base, 4) AS conversion
         FROM c CROSS JOIN b ORDER BY stage""",
    // q45's mirror plus the tolerance predicate in the join condition:
    // a too-stale view leaves the purchase row with NULL attribution
    "q140_asof_tolerance" ->
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
         WHERE rn = 1 ORDER BY event_id""",
    // Salted two-phase aggregation must equal the plain GROUP BY; the
    // double sum rounds at 4 dp (house convention — accumulation order
    // differs between the salted partial merge and DuckDB's serial sum)
    "q141_salted_agg" ->
      """SELECT event_type, count(*) AS count_all,
                round(sum(value), 4) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    // Blocked Levenshtein self-linkage: DuckDB recomputes the same blocks
    // and edit distances (block = 16-char name prefix, distance cap 1)
    "q142_fuzzy_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                levenshtein(a.c_name, b.c_name) AS dist
         FROM customer a JOIN customer b
           ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
          AND a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY id_a, id_b""",
    // Winnowing re-derived in SQL: same md5 k-gram hashes (k=3), same
    // w=4 window minima (1-based positions here, 0-based in Spark — the
    // complete-window filters pos <= m-3 / pos <= m-4 are equivalent),
    // same distinct-per-doc signature; min/max pin the actual hash values
    "q143_winnow" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_transform(range(1, len(toks) - 1),
                  i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
           FROM t WHERE len(toks) >= 3),
         e AS (
           SELECT doc_id, len(hs) AS m,
                  unnest(list_transform(range(1, len(hs) + 1),
                    i -> struct_pack(pos := i, h := hs[i]))) AS u
           FROM s WHERE len(hs) >= 4),
         w AS (
           SELECT doc_id, m, u.pos AS pos,
                  min(u.h) OVER (PARTITION BY doc_id ORDER BY u.pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM e),
         f AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= m - 3)
         SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp, max(fp) AS max_fp
         FROM f GROUP BY doc_id ORDER BY doc_id""",
    // Exact max-cosine per train vector over the broadcast test set
    "q144_embed_decontam" ->
      """SELECT t.vec_id AS id,
                round(max(list_cosine_similarity(
                  t.embedding::DOUBLE[], q.embedding::DOUBLE[])), 4) AS max_cosine,
                max(list_cosine_similarity(
                  t.embedding::DOUBLE[], q.embedding::DOUBLE[])) >= 0.8 AS contaminated
         FROM (SELECT * FROM embeddings WHERE vec_id >= 10) t
         CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q
         GROUP BY t.vec_id ORDER BY id""",
    // Char-trigram LM re-derived in SQL: same ASCII normalization
    // (strip-then-lower — [A-Za-z] kept, all else one space), same add-1
    // smoothed conditional P(c3|c1c2) with vocab 27, natural log in both
    "q145_charlm_score" ->
      """WITH nd AS (
           SELECT doc_id, lang,
                  trim(lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g'))) AS norm
           FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(norm) - 2, 0) + 1),
                    i -> substr(norm, i, 3))) AS gram
           FROM nd),
         ref AS (
           SELECT gram, count(*) AS gc
           FROM (SELECT unnest(list_transform(range(1, greatest(len(norm) - 2, 0) + 1),
                   i -> substr(norm, i, 3))) AS gram
                 FROM nd WHERE lang = 'en')
           GROUP BY gram),
         pre AS (
           SELECT substr(gram, 1, 2) AS prefix, sum(gc) AS pc
           FROM ref GROUP BY 1),
         scored AS (
           SELECT g.doc_id, count(*) AS n_grams,
                  avg(-ln((coalesce(ref.gc, 0) + 1.0) /
                          (coalesce(pre.pc, 0) + 27.0))) AS nll
           FROM g LEFT JOIN ref ON g.gram = ref.gram
                  LEFT JOIN pre ON substr(g.gram, 1, 2) = pre.prefix
           GROUP BY g.doc_id)
         SELECT d.doc_id, coalesce(s.n_grams, 0)::BIGINT AS n_grams,
                round(s.nll, 4) AS avg_nll
         FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
         ORDER BY d.doc_id""",
    // dHash of the 4-tone 16×8 layout, derived cell by cell: pooled cells
    // are (a a b b c c (c+d)/2 d d), so row bits 1,3,5,6 encode b>a, c>b,
    // d>c, d>c; all 8 grid rows are identical, hence the ×0x0101010101010101
    "q146_image_dhash" ->
      """WITH p AS (
           SELECT doc_id,
                  doc_id % 256 AS a, (doc_id * 3 + 17) % 256 AS b,
                  (doc_id * 5 + 89) % 256 AS c, (doc_id * 11 + 201) % 256 AS d
           FROM documents WHERE doc_id <= 200)
         SELECT doc_id,
                ((CASE WHEN b > a THEN 2 ELSE 0 END) +
                 (CASE WHEN c > b THEN 8 ELSE 0 END) +
                 (CASE WHEN d > c THEN 96 ELSE 0 END))::BIGINT
                  * 72340172838076673 AS dhash,
                true AS decoded
         FROM p ORDER BY doc_id""",
    // Linear multi-touch attribution via a plain inequality join at oracle
    // scale; per-term value/n is bit-identical, the 4dp round absorbs
    // summation-order drift in the per-touch credit sum
    "q147_multitouch" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS t_us, event_id AS touch_event
                    FROM events WHERE event_type = 'view'),
              c AS (SELECT user_id, epoch_us(ts) AS c_us, event_id AS conv_event, value
                    FROM events WHERE event_type = 'purchase'),
              j AS (SELECT t.touch_event, t.user_id, c.conv_event, c.value,
                      count(*) OVER (PARTITION BY c.conv_event) AS n
                    FROM t JOIN c ON t.user_id = c.user_id
                      AND t.t_us >= c.c_us - 7200000000
                      AND t.t_us < c.c_us)
         SELECT touch_event, user_id, count(*)::BIGINT AS n_convs,
                round(sum(value / n), 4) AS credit
         FROM j GROUP BY touch_event, user_id ORDER BY touch_event""",
    // Audio energy hash, derived bit by bit from the generated level
    // sequence: bit j compares segments j+1 and j, whose integer levels
    // are (doc_id + 7j + 7) % 9 + 1 vs (doc_id + 7j) % 9 + 1
    "q148_audio_dhash" ->
      """SELECT doc_id,
                list_sum(list_transform(range(0, 63),
                  j -> CASE WHEN (doc_id + 7*j + 7) % 9 > (doc_id + 7*j) % 9
                       THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS ahash,
                true AS decoded
         FROM documents WHERE doc_id <= 200 ORDER BY doc_id""",
    // Least-squares trend per event type over hourly counts; x is exact
    // integer hours on both engines, regr_* aggregates match to 4dp
    "q149_trend_slope" ->
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
         FROM x GROUP BY event_type ORDER BY event_type""",
    // Per-source duplication over the cross-engine md5 fingerprint
    "q150_dedup_report" ->
      """WITH f AS (
           SELECT source,
                  md5(array_to_string(
                    CASE WHEN length(trim(text)) = 0 THEN []
                         ELSE string_split_regex(lower(trim(text)), '\s+') END,
                    ' ')) AS fp
           FROM documents),
         g AS (SELECT source, fp, count(*) AS n FROM f GROUP BY 1, 2)
         SELECT source, sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct,
                round(1.0 - count(*)::DOUBLE / sum(n)::DOUBLE, 6) AS dup_rate
         FROM g GROUP BY source ORDER BY source""",
    // Sketch capacity exceeds the key cardinality ⇒ exact top-k counts
    "q151_heavy_sketch" ->
      """WITH c AS (SELECT event_type AS key, count(*) AS "count"
                    FROM events GROUP BY 1)
         SELECT row_number() OVER (ORDER BY "count" DESC, key ASC) AS rank,
                key, "count", 0::BIGINT AS err
         FROM c ORDER BY "count" DESC, key ASC LIMIT 5""",
    // Per-dimension stats over unnested (dim, value) pairs; float→double
    // widening is exact on both engines, aggregates round at 4dp
    "q152_dim_stats" ->
      """WITH e AS (
           SELECT u.d AS dim, u.v AS v FROM (
             SELECT unnest(list_transform(range(1, len(embedding) + 1),
               i -> struct_pack(d := i - 1, v := embedding[i]::DOUBLE))) AS u
             FROM embeddings))
         SELECT dim, count(*)::BIGINT AS n, round(avg(v), 4) AS mean,
                round(stddev_pop(v), 4) AS std,
                round(min(v), 4) AS min, round(max(v), 4) AS max
         FROM e GROUP BY dim ORDER BY dim""",
    // Same per-dim moments joined back: z = (v - mean)/std, 0 for constant
    // dims, long-form output for the hash compare
    "q153_znorm_dims" ->
      """WITH e AS (
           SELECT vec_id, u.d AS dim, u.v AS v FROM (
             SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
               i -> struct_pack(d := i - 1, v := embedding[i]::DOUBLE))) AS u
             FROM embeddings)),
         s AS (SELECT dim, avg(v) AS m, stddev_pop(v) AS sd FROM e GROUP BY dim)
         SELECT e.vec_id, e.dim,
                round(CASE WHEN s.sd > 0 THEN (e.v - s.m) / s.sd ELSE 0.0 END, 4)
                  + 0.0 AS z
         FROM e JOIN s ON e.dim = s.dim
         ORDER BY e.vec_id, e.dim""",
    // Identical-hash image pairs derived from the q146 closed form: two
    // images collide iff their three tone-order predicates agree
    "q155_image_neardup" ->
      """WITH p AS (
           SELECT doc_id,
                  ((CASE WHEN (doc_id*3+17) % 256 > doc_id % 256 THEN 2 ELSE 0 END) +
                   (CASE WHEN (doc_id*5+89) % 256 > (doc_id*3+17) % 256 THEN 8 ELSE 0 END) +
                   (CASE WHEN (doc_id*11+201) % 256 > (doc_id*5+89) % 256 THEN 96 ELSE 0 END)) AS rb
           FROM documents WHERE doc_id <= 120)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM p a JOIN p b ON a.rb = b.rb AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b""",
    // Footer stats re-derived from the data (single row group at oracle
    // scale — pyarrow's default row-group size far exceeds sf0.01):
    // numeric footer min/max are untruncated, so equality is exact
    "q156_rowgroup_stats" ->
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
         ORDER BY column_name, row_group""",
    // Exact top-5 different-label neighbors per anchor in DuckDB
    "q157_hard_negatives" ->
      """SELECT anchor_id, anchor_label, nbr_id, nbr_label,
                round(cos, 4) AS cosine, rank
         FROM (
           SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                  c.vec_id AS nbr_id, c.label AS nbr_label,
                  list_cosine_similarity(a.embedding::DOUBLE[],
                                         c.embedding::DOUBLE[]) AS cos,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                                    c.embedding::DOUBLE[]) DESC,
                             c.vec_id ASC) AS rank
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) a
           WHERE c.label <> a.label) t
         WHERE rank <= 5 ORDER BY anchor_id, rank""",
    // Overlapping epoch-aligned 2h/1h windows: each event contributes to
    // exactly the two windows starting at trunc(h) and trunc(h) − 1h
    "q158_sliding_hours" ->
      """WITH x AS (
           SELECT date_trunc('hour', ts) AS h0, event_type, value FROM events),
         w AS (
           SELECT h0 AS ws, event_type, value FROM x
           UNION ALL
           SELECT h0 - INTERVAL 1 HOUR, event_type, value FROM x)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
                count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
         FROM w GROUP BY ws, event_type ORDER BY win_start, event_type""",
    // Words via \s+ tokens, subwords via the q27 lookaround-free transition
    // mirror; fertility on the exact integer sums
    "q159_fertility" ->
      """WITH t AS (
           SELECT lang,
                  len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                      x -> len(x) > 0)) AS nw,
                  len(list_filter(regexp_split_to_array(
                      regexp_replace(regexp_replace(lower(trim(text)),
                        '(\pL)(\pN)', '\1 \2', 'g'), '(\pN)(\pL)', '\1 \2', 'g'),
                      '[^\pL\pN]+'), x -> len(x) > 0)) AS ns
           FROM documents)
         SELECT lang, count(*)::BIGINT AS n_docs, sum(nw)::BIGINT AS n_words,
                sum(ns)::BIGINT AS n_subwords,
                CASE WHEN sum(nw) > 0
                     THEN round(sum(ns)::DOUBLE / sum(nw)::DOUBLE, 4) END AS fertility
         FROM t GROUP BY lang ORDER BY lang""",
    // Pearson over (n_t, n_{t-1}) pairs of observed hours per type; corr
    // skips NULL-lag head rows on both engines
    "q160_autocorr" ->
      """WITH h AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         l AS (
           SELECT event_type, n,
                  lag(n) OVER (PARTITION BY event_type ORDER BY h) AS pn
           FROM h)
         SELECT event_type, count(pn)::BIGINT AS n_pairs,
                round(corr(n, pn), 4) AS autocorr
         FROM l GROUP BY event_type ORDER BY event_type""",
    // Σ 2^(−age/24h) against the fixed 2024-02-01 reference instant
    "q161_decay_activity" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
                round(sum(power(2.0,
                  -((1706745600000000 - epoch_us(ts))::DOUBLE / 3600000000.0)
                    / 24.0)), 4) AS decay_score
         FROM events GROUP BY user_id ORDER BY user_id""",
    // Dense per-type hourly spine from first to last observed hour; gap
    // hours carry n_events 0 and the forward-filled mean value (rounded
    // AFTER the fill on both engines)
    "q162_resample" ->
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
         FROM j ORDER BY event_type, hour""",
    // Exact empirical inverse-CDF transform: target rank = row_number over
    // (value, id) / n (deterministic ties), norm = smallest ref value whose
    // CDF reaches that rank; both rank ratios are exact integer divisions
    "q163_quantile_norm" ->
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
         FROM tr ORDER BY event_id""",
    // Audio collision structure: bit j is a function of (doc_id + 7j) mod 9
    // and the 9 rotations of that period-9 pattern are distinct, so clips
    // collide exactly on doc_id mod 9
    "q164_audio_neardup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM (SELECT doc_id FROM documents WHERE doc_id <= 120) a
         JOIN (SELECT doc_id FROM documents WHERE doc_id <= 120) b
           ON a.doc_id % 9 = b.doc_id % 9 AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b""",
    // q158's sliding expansion, restricted to windows whose end the
    // 1-hour watermark closed (append-mode emission contract)
    "q165_sliding_stream" ->
      """WITH wm AS (
           SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events),
         x AS (
           SELECT date_trunc('hour', ts) AS h0, event_type, value FROM events),
         w AS (
           SELECT h0 AS ws, event_type, value FROM x
           UNION ALL
           SELECT h0 - INTERVAL 1 HOUR, event_type, value FROM x)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
                count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
         FROM w, wm WHERE epoch_us(ws) + 7200000000 <= wm_us
         GROUP BY ws, event_type ORDER BY win_start, event_type""",
    // q143's winnowed signatures self-joined on the fingerprint: pairs
    // sharing >= 2 selected hashes, with the shared count
    "q167_winnow_pairs" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_transform(range(1, len(toks) - 1),
                  i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
           FROM t WHERE len(toks) >= 3),
         e AS (
           SELECT doc_id, len(hs) AS m,
                  unnest(list_transform(range(1, len(hs) + 1),
                    i -> struct_pack(pos := i, h := hs[i]))) AS u
           FROM s WHERE len(hs) >= 4),
         w AS (
           SELECT doc_id, m, u.pos AS pos,
                  min(u.h) OVER (PARTITION BY doc_id ORDER BY u.pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM e),
         f AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= m - 3)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
         FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY id_a, id_b""",
    // The q146/q148 closed forms with the gate predicates applied: dhash
    // bit 1 ⇔ b > a, ahash bit 0 ⇔ (id+7)%9 > id%9
    "q168_multimodal_gate" ->
      """WITH p AS (
           SELECT doc_id,
                  doc_id % 256 AS a, (doc_id*3+17) % 256 AS b,
                  (doc_id*5+89) % 256 AS c, (doc_id*11+201) % 256 AS d
           FROM documents WHERE doc_id <= 120)
         SELECT doc_id,
                ((CASE WHEN b > a THEN 2 ELSE 0 END) +
                 (CASE WHEN c > b THEN 8 ELSE 0 END) +
                 (CASE WHEN d > c THEN 96 ELSE 0 END))::BIGINT
                  * 72340172838076673 AS dhash,
                list_sum(list_transform(range(0, 63),
                  j -> CASE WHEN (doc_id + 7*j + 7) % 9 > (doc_id + 7*j) % 9
                       THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS ahash
         FROM p
         WHERE b > a AND (doc_id + 7) % 9 > doc_id % 9
         ORDER BY doc_id""",
    // Components over identical-hash cliques = the tone-ordering classes,
    // labeled by each class's minimum doc_id
    "q169_image_clusters" ->
      """WITH p AS (
           SELECT doc_id,
                  ((CASE WHEN (doc_id*3+17) % 256 > doc_id % 256 THEN 2 ELSE 0 END) +
                   (CASE WHEN (doc_id*5+89) % 256 > (doc_id*3+17) % 256 THEN 8 ELSE 0 END) +
                   (CASE WHEN (doc_id*11+201) % 256 > (doc_id*5+89) % 256 THEN 96 ELSE 0 END)) AS rb
           FROM documents WHERE doc_id <= 120)
         SELECT p.doc_id, (SELECT min(p2.doc_id) FROM p p2 WHERE p2.rb = p.rb) AS component
         FROM p ORDER BY doc_id""",
    // Constant oracle: every I/O contract row must come back true
    "q170_io_contracts" ->
      """SELECT * FROM (VALUES
           ('footer_kv_roundtrip', true),
           ('hash_detects_corruption', true),
           ('hash_matches_copy', true),
           ('junk_rejected', true),
           ('kv_rewrite_keeps_validity', true),
           ('single_file_sink', true),
           ('valid_parquet', true)) AS t(check_name, passed)
         ORDER BY check_name""",
    // Same construction as q131's KS but over the continuous events.value
    // column (the engine side runs its distributed CDF; the oracle's
    // single-threaded window is exact at oracle scale)
    "q171_ks_continuous" ->
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
         FROM c CROSS JOIN t GROUP BY ta, tb""",
    // Partition pruning changes the FILES READ, not the answer: the oracle
    // recomputes the earliest-day rollup over the flat table
    "q172_partition_prune" ->
      """SELECT event_type, count(*) AS n,
                round(sum(value::DECIMAL(18,4)), 4)::DOUBLE AS sum_value
         FROM events
         WHERE ts::DATE = (SELECT min(ts::DATE) FROM events)
         GROUP BY event_type ORDER BY event_type""",
    // MAD z-scores: both engines interpolate the same exact medians
    // (quantile_cont parity), so the flag boundary is bit-identical
    "q97_mad_outliers" ->
      """WITH m AS (SELECT quantile_cont(value, 0.5) AS med FROM events),
         d AS (SELECT quantile_cont(abs(value - med), 0.5) AS mad
               FROM events CROSS JOIN m)
         SELECT event_id, round(value, 2) AS value,
                round((value - med) / (1.4826 * mad), 4) AS robust_z
         FROM events CROSS JOIN m CROSS JOIN d
         WHERE abs(value - med) > 3.5 * 1.4826 * mad
         ORDER BY event_id""",
    // Per-pack rollup of the q47 offset-packing construction
    "q96_packing_stats" ->
      """WITH p AS (
           SELECT doc_id, n_chars, (start_offset // 65536)::BIGINT AS pack_id
           FROM (SELECT doc_id, n_chars,
                   coalesce(sum(n_chars) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                     AS start_offset
                 FROM documents) t)
         SELECT pack_id, count(*)::BIGINT AS n_docs,
                sum(n_chars)::BIGINT AS total_size,
                round(sum(n_chars)::DOUBLE / 65536, 4) AS fill
         FROM p GROUP BY pack_id ORDER BY pack_id""",
    // Zipf fit: identical rank construction (count desc, term asc) and
    // natural-log regression on both engines
    "q95_zipf_fit" ->
      """WITH t AS (
           SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ex AS (SELECT unnest(toks) AS term FROM t),
         c AS (SELECT term, count(*) AS c FROM ex GROUP BY term),
         top AS (SELECT term, c FROM c ORDER BY c DESC, term LIMIT 1000),
         r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rank
               FROM top)
         SELECT count(*)::BIGINT AS n_terms,
                round(regr_slope(ln(c), ln(rank)), 4) AS slope,
                round(regr_intercept(ln(c), ln(rank)), 4) AS intercept,
                round(regr_r2(ln(c), ln(rank)), 4) AS r2
         FROM r""",
    // Pair attribution over the q48 shingle construction: distinct
    // 3-gram intersection counts per (train, eval) pair
    "q93_contamination_pairs" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         te AS (SELECT doc_id AS test_id, unnest(sh) AS g FROM s WHERE doc_id % 20 = 0),
         tr AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM s WHERE doc_id % 20 <> 0)
         SELECT train_id, test_id, count(*)::BIGINT AS n_shared
         FROM tr JOIN te USING (g)
         GROUP BY train_id, test_id
         HAVING count(*) >= 2
         ORDER BY train_id, test_id""",
    // Inclusive running-cost window per lang, biggest-first, hard cap
    "q94_token_budget" ->
      """SELECT doc_id, lang, n_chars, budget_used::BIGINT AS budget_used FROM (
           SELECT doc_id, lang, n_chars,
                  sum(n_chars) OVER (PARTITION BY lang
                    ORDER BY n_chars DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) AS budget_used
           FROM documents) t
         WHERE budget_used <= 50000
         ORDER BY doc_id""",
    // Keyed diff: full outer join on the key, presence markers decide
    // added/removed, null-safe IS DISTINCT FROM decides changed;
    // changed_columns mirrors concat_ws's null-skipping on both engines
    "q91_keyed_diff" ->
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
         ORDER BY c_custkey""",
    // Pairwise centroid cosine over the same per-label means as q87
    "q92_centroid_matrix" ->
      """WITH cm AS (
           SELECT label, i, avg(embedding[i]::DOUBLE) AS m
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
           GROUP BY label, i),
         cent AS (SELECT label, list(m ORDER BY i) AS centroid
                  FROM cm GROUP BY label)
         SELECT a.label AS label_a, b.label AS label_b,
                round(list_cosine_similarity(a.centroid, b.centroid), 4) AS cosine
         FROM cent a JOIN cent b ON a.label < b.label
         ORDER BY label_a, label_b""",
    // Winsorize: exact interpolated quantiles (quantile_cont parity with
    // Spark's percentile, proven by q17), then a pure clamp projection
    "q89_winsorize" ->
      """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.01) AS lo_e,
                           quantile_cont(l_extendedprice, 0.99) AS hi_e,
                           quantile_cont(l_quantity, 0.01) AS lo_q,
                           quantile_cont(l_quantity, 0.99) AS hi_q
                    FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                round(least(greatest(l_extendedprice, lo_e), hi_e), 2) AS extendedprice_w,
                round(least(greatest(l_quantity, lo_q), hi_q), 2) AS quantity_w
         FROM lineitem CROSS JOIN b
         ORDER BY l_orderkey, l_linenumber""",
    // Per-group numeric profile, long form; one SQL block per column
    "q90_group_profile" -> {
      def block(c: String) =
        s"""SELECT l_returnflag AS "group", '$c' AS column_name,
            count(*) AS n, count(*) - count($c) AS n_missing,
            count(DISTINCT $c) AS n_distinct,
            round(avg($c), 4) AS mean, round(stddev_samp($c), 4) AS std,
            min($c)::DOUBLE AS min, max($c)::DOUBLE AS max
            FROM lineitem GROUP BY l_returnflag"""
      Seq("l_quantity", "l_discount").map(block)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"group\", column_name")
    },
    // Novelty: df over distinct 3-shingles (hashes Spark-side, strings
    // oracle-side — identical absent 64-bit collisions), per-doc share of
    // df=1 shingles
    "q88_novelty_score" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         ex AS (SELECT doc_id, unnest(sh) AS h FROM s),
         dfq AS (SELECT h, count(*) AS df FROM ex GROUP BY h)
         SELECT e.doc_id, count(*)::BIGINT AS n_shingles,
                sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
                round(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
                  AS novelty
         FROM ex e JOIN dfq d USING (h)
         GROUP BY e.doc_id ORDER BY e.doc_id""",
    // Temperature rebalancing: rate_g = (n_min/n_g)^(1-alpha); membership
    // is the shared md5-hex bucket contract, threshold rendered in-plan
    // with printf('%04x') on both engines
    "q84_temperature_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         m AS (SELECT min(n) AS nmin FROM c),
         r AS (SELECT lang, pow(nmin::DOUBLE / n::DOUBLE, 0.5) AS rate
               FROM c CROSS JOIN m)
         SELECT d.doc_id, d.lang, round(r.rate, 4) AS keep_rate
         FROM documents d JOIN r USING (lang)
         WHERE r.rate >= 1.0
            OR substring(md5('t:' || d.doc_id::VARCHAR), 1, 4) <
               printf('%04x', CAST(least(floor(r.rate * 65536), 65535) AS BIGINT))
         ORDER BY d.doc_id""",
    // Symmetric int8 quantization: scale = max|v|/127, code = floor(v/scale
    // + 0.5) — identical IEEE steps on both engines, so every integer
    // invariant matches exactly
    "q85_quantize_i8" ->
      """WITH e AS (
           SELECT vec_id, unnest(embedding)::DOUBLE AS v FROM embeddings),
         s AS (SELECT vec_id, max(abs(v)) / 127.0 AS scale
               FROM e GROUP BY vec_id),
         q AS (SELECT e.vec_id, s.scale,
                 CASE WHEN s.scale = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(floor(e.v / s.scale + 0.5) AS BIGINT) END AS code
               FROM e JOIN s USING (vec_id))
         SELECT vec_id, round(any_value(scale), 8) AS scale,
                count(*)::INT AS n_dims, sum(code)::BIGINT AS sum_q,
                sum(abs(code))::BIGINT AS sum_abs_q,
                min(code)::INT AS min_q, max(code)::INT AS max_q
         FROM q GROUP BY vec_id ORDER BY vec_id""",
    // Posting lists over the shared tokenizer; df bounds on the aggregate
    "q86_inverted_index" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
         p AS (SELECT term, doc_id, count(*) AS tf FROM ex GROUP BY term, doc_id)
         SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tf_total,
                string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
         FROM p GROUP BY term HAVING count(*) >= 3
         ORDER BY term""",
    // Cosine to the group's own mean vector; the outlier flag compares the
    // ROUNDED cosine so both engines land on the same boundary decision
    "q87_centroid_outliers" ->
      """WITH cm AS (
           SELECT label, i, avg(embedding[i]::DOUBLE) AS m
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
           GROUP BY label, i),
         cent AS (SELECT label, list(m ORDER BY i) AS centroid
                  FROM cm GROUP BY label)
         SELECT e.vec_id, e.label,
                round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 4) AS cosine,
                (round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 4) < 0.5)::INT
                  AS is_outlier
         FROM embeddings e JOIN cent c USING (label)
         ORDER BY e.vec_id""",
    // Element-wise mean embedding per label; dim is 0-based
    "q82_group_centroids" ->
      """SELECT label, (i - 1)::INT AS dim,
           round(avg(embedding[i]::DOUBLE), 4) + 0.0 AS value,
           count(*)::BIGINT AS n_vectors
         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
         GROUP BY label, dim ORDER BY label, dim""",
    // Pairwise Pearson correlations: both engines compute the sample
    // coefficient via mergeable co-moments
    "q80_correlations" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
        yield (cols(i), cols(j))
      pairs.map { case (a, b) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, round(corr($a, $b), 4) AS pearson FROM lineitem"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
    },
    // Unigram cross-entropy under the corpus's own distribution; mean of
    // -ln p over token occurrences, perplexity = exp(mean)
    "q79_unigram_loss" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
         cnt AS (SELECT term, count(*) AS c FROM ex GROUP BY term),
         tot AS (SELECT count(*) AS n_total FROM ex),
         doc AS (
           SELECT e.doc_id, count(*) AS n_tokens,
                  sum(-ln(c.c::DOUBLE / tot.n_total)) AS s
           FROM ex e JOIN cnt c USING (term) CROSS JOIN tot
           GROUP BY e.doc_id)
         SELECT doc_id, n_tokens::BIGINT AS n_tokens,
                round(s / n_tokens, 4) AS log_loss,
                round(exp(s / n_tokens), 4) AS perplexity
         FROM doc ORDER BY doc_id""",
    // Upsert: refreshed keys replaced, new keys appended, rest untouched
    "q77_upsert" ->
      """SELECT c_custkey, c_name, c_nationkey,
           round(CASE WHEN c_custkey % 7 = 3 THEN c_acctbal + 100.0
                      ELSE c_acctbal END, 2) AS acctbal
         FROM customer
         UNION ALL
         SELECT c_custkey + 1000000, 'new_' || c_name, c_nationkey, 0.0
         FROM customer WHERE c_custkey < 20
         ORDER BY c_custkey""",
    // CDC fold: %10=0 keys deleted (delete at seq 2 wins), %10=5 keys
    // rewritten by the seq-2 upsert, everything else untouched
    "q78_cdc_apply" ->
      """SELECT c_custkey, c_name,
           round(CASE WHEN c_custkey % 10 = 5 THEN 999.0
                      ELSE c_acctbal END, 2) AS acctbal
         FROM customer
         WHERE c_custkey % 10 <> 0
         ORDER BY c_custkey""",
    // Containment: |A∩B|/|A| and |A∩B|/|B| per pair, either direction
    // over the threshold; exact recall (every qualifying pair shares a
    // shingle, so the relational self-join sees it)
    "q75_containment" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh))::DOUBLE AS inter,
             len(a.sh)::DOUBLE AS sz_a, len(b.sh)::DOUBLE AS sz_b
           FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b,
           round(inter / sz_a, 4) AS cont_a_in_b,
           round(inter / sz_b, 4) AS cont_b_in_a,
           round(inter / (sz_a + sz_b - inter), 4) AS jaccard
         FROM p
         WHERE greatest(inter / sz_a, inter / sz_b) >= 0.6
         ORDER BY id_a, id_b""",
    // Distinct-shingle doc-frequency histogram (8-byte hashes Spark-side,
    // strings oracle-side — identical absent 64-bit collisions)
    "q76_df_histogram" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         dfq AS (
           SELECT h, count(*) AS doc_freq
           FROM (SELECT doc_id, unnest(sh) AS h FROM s) e GROUP BY h)
         SELECT doc_freq, count(*)::BIGINT AS n_shingles
         FROM dfq GROUP BY doc_freq ORDER BY doc_freq""",
    // Token chunks: 32-token windows every 24 tokens (8-token overlap),
    // short tail included; chunk k spans toks[24k+1 .. min(24k+32, n)]
    "q74_chunk_documents" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0)
         SELECT doc_id, k AS chunk_index,
           array_to_string(toks[k*24+1 : least(k*24+32, n)], ' ') AS chunk_text,
           least(k*24+32, n) - k*24 AS n_chunk_tokens
         FROM d, unnest(range(0, CAST(ceil(n / 24.0) AS BIGINT))) AS u(k)
         ORDER BY doc_id, chunk_index""",
    // Stream-static enrichment on a closed input = the static left join
    "q73_enrich_stream" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_nationkey
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id""")
}
