package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.ParquetIO

/** Index-column operations: global sort, reindex, dedup, alignment validation
  * (SURVEY §2.3 J1/J4, §2.4 A4, §2.6 O1).
  *
  * Reference: /root/reference/parq_tools/utils/index_utils.py.
  */
object IndexOps {

  /** Global multi-column ascending sort (reference sort_parquet_file,
    * index_utils.py:62-102). Spark range-partitions on the sort keys and
    * external-sorts each partition with spill — strictly better at scale than
    * the reference's concat-everything-then-sort-in-memory merge. */
  def sort(df: DataFrame, columns: Seq[String]): DataFrame =
    df.orderBy(columns.map(col): _*)

  def sortFile(spark: SparkSession, input: String, output: String,
      columns: Seq[String], singleFile: Boolean = false): Unit = {
    val out = sort(ParquetIO.read(spark, input), columns)
    ParquetIO.write(out, output, singleFile)
  }

  /** Reindex = left outer join of the new index against the data, with typed
    * null-fill, then sort (reference reindex_parquet, index_utils.py:105-164).
    * Join keys = intersection of the new index's columns and the data's
    * columns (index_utils.py:121). Fill semantics (index_utils.py:139-151):
    * float/double → NaN; everything else keeps SQL null.
    *
    * NOTE: a single global join, not the reference's per-chunk join — the
    * per-chunk version duplicates unmatched index rows once per chunk, a bug
    * we deliberately do not replicate (SURVEY §7.4 hard part 6). */
  def reindex(
      newIndex: DataFrame,
      data: DataFrame,
      sortAfterReindex: Boolean = true): DataFrame = {
    val keys = newIndex.columns.filter(data.columns.contains).toSeq
    if (keys.isEmpty)
      throw new IllegalArgumentException(
        "new index shares no columns with the data schema")
    val joined = newIndex.join(data, keys, "left")
    val filled = data.schema.fields.filterNot(f => keys.contains(f.name))
      .foldLeft(joined) { (df, f) =>
        f.dataType match {
          case DoubleType => df.withColumn(f.name, coalesce(col(f.name), lit(Double.NaN)))
          case FloatType  => df.withColumn(f.name, coalesce(col(f.name), lit(Float.NaN)))
          case _          => df // ints/strings/etc. keep SQL null
        }
      }
    if (sortAfterReindex) filled.orderBy(keys.map(col): _*) else filled
  }

  /** First-occurrence-wins dedup on the index columns (reference
    * dedup_index_parquet, index_utils.py:167-205 — a driver-side seen-set;
    * here a distributed window). "First" needs a stable order: callers pass
    * an explicit `orderColumns`; if empty we fall back to
    * `monotonically_increasing_id` over the scan, which follows file/row-group
    * order for a single input file. */
  def dedupFirstWins(
      df: DataFrame,
      indexColumns: Seq[String],
      orderColumns: Seq[String] = Nil): DataFrame = {
    val ord = "__graft_ord"
    val withOrd =
      if (orderColumns.nonEmpty) df.withColumn(ord, struct(orderColumns.map(col): _*))
      else df.withColumn(ord, monotonically_increasing_id())
    val w = Window.partitionBy(indexColumns.map(col): _*).orderBy(col(ord))
    withOrd.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop(ord, "__graft_rn")
  }

  /** Stable 1-based global row numbers in `orderColumns` order WITHOUT the
    * single-partition bottleneck: `row_number() OVER (ORDER BY …)` forces
    * every row through ONE task (Spark plans a global window as a
    * single-partition exchange), which is the canonical 100 TB stall.
    *
    * Two-phase numbering on DETERMINISTIC range buckets
    * ([[graft.ops.ScaleOps.rangeBucketExpr]]): bucket on the first ordering
    * column's driver-collected split points (a pure, monotone function of
    * the value — rows in bucket i sort strictly before rows in bucket j>i,
    * and ties on the first column always share a bucket), count rows per
    * bucket (a pruned scan + tiny shuffle), exclusive-prefix-sum the
    * ≤ numShufflePartitions counts on the driver, then
    * `row_number() OVER (PARTITION BY bucket ORDER BY orderColumns)` + the
    * broadcast offset. Because the bucket id is deterministic, the count
    * job and the numbering job agree WITHOUT materializing anything — no
    * `localCheckpoint` (whose eager full-width write doubled this
    * operator's cost), no persist, and recomputation after block loss is
    * safe where frozen nondeterministic ids would fail-stop.
    *
    * The first ordering column must be numeric or a timestamp (bucket
    * splits cast to double; the cast is monotone, which is all bucketing
    * needs). A non-numeric leading column falls back to the
    * frozen-assignment path ([[stableRowNumberGeneric]]). Deterministic
    * iff `orderColumns` is a total order (ties get an arbitrary but valid
    * numbering within their run). Skew note: rows tied on the FIRST column
    * cannot split across buckets; a leading column with a dominant value
    * concentrates its run in one task — order by a higher-cardinality
    * leading column in that case (same caveat the sampled range
    * partitioner had). */
  def stableRowNumber(df: DataFrame, orderColumns: Seq[String],
      outCol: String = "row_num"): DataFrame = {
    require(orderColumns.nonEmpty, "stableRowNumber needs ordering columns")
    import org.apache.spark.sql.types.{NumericType, TimestampType, DateType}
    val leadType = df.schema(orderColumns.head).dataType
    val bucketable = leadType.isInstanceOf[NumericType] ||
      leadType == TimestampType || leadType == DateType
    // nondeterministic inputs (rand()/uuid()-class expressions anywhere in
    // the plan) can yield DIFFERENT rows for the counting job and the
    // numbering job — only the generic path's frozen materialization keeps
    // them consistent
    if (!bucketable || ScaleOps.hasNondeterministicPlan(df))
      return stableRowNumberGeneric(df, orderColumns, outCol)
    val lead =
      if (leadType == DateType) unix_date(col(orderColumns.head))
      else col(orderColumns.head)
    // split points: footer statistics when the plan bottoms out in one
    // parquet relation (zero jobs), else one quantile aggregation
    val splits =
      (if (leadType == DateType) None
       else ScaleOps.footerRangeSplits(df, orderColumns.head))
        .getOrElse(ScaleOps.rangeSplits(df, lead))
    val parts = df.withColumn("__g_pid",
      ScaleOps.rangeBucketExpr(splits, lead.cast("double")))
    val counts = parts.groupBy("__g_pid").agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // exclusive prefix indexed by bucket id, inlined as an array literal —
    // an O(1) projection instead of a broadcast-join stage
    val offArr = ScaleOps.prefixOffsets(counts, splits.length + 1)
    val w = Window.partitionBy(col("__g_pid")).orderBy(orderColumns.map(col): _*)
    parts
      .withColumn(outCol, row_number().over(w).cast("long") +
        element_at(typedLit(offArr.toSeq), col("__g_pid") + 1))
      .select(df.columns.map(col) :+ col(outCol): _*)
  }

  /** Frozen-assignment fallback for [[stableRowNumber]] when the leading
    * ordering column is not range-bucketable (strings, structs): sampled
    * `repartitionByRange` + local sort, partition-local ordinals from
    * `monotonically_increasing_id` (consecutive within a partition —
    * Spark's documented layout, partition id in the upper 31 bits, record
    * number in the lower 33, stable since 1.6; the min-subtraction keeps
    * us independent of the base offset), and a [[ScaleOps.cut]] to freeze
    * the NONDETERMINISTIC partition/id assignment so the offsets job and
    * the main job see the same rows (same materialize-once contract as
    * [[graft.operators.Components]]). Costs an eager full-width
    * materialization — the numeric path avoids it. */
  private[graft] def stableRowNumberGeneric(df: DataFrame,
      orderColumns: Seq[String], outCol: String): DataFrame = {
    val orderCols = orderColumns.map(col)
    val base = ScaleOps.cut(df.repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .select(col("*"), spark_partition_id().as("__g_pid"),
        monotonically_increasing_id().as("__g_mid")))
    val stats = base.groupBy("__g_pid")
      .agg(count(lit(1)).as("_c"), min("__g_mid").as("__g_m0"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // exclusive prefix: offset of partition i = row counts of partitions < i
    val scan = stats.scanLeft((0, 0L)) { case ((_, c), (pid, n, _)) => (pid, c + n) }
    val offsets = scan.init.zip(stats).map {
      case ((_, off), (pid, _, m0)) => (pid, off, m0)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__g_pid", "__g_off", "__g_m0")
    base.join(broadcast(offDf), Seq("__g_pid"))
      .withColumn(outCol, col("__g_mid") - col("__g_m0") + lit(1L) + col("__g_off"))
      .select(df.columns.map(col) :+ col(outCol): _*)
  }

  /** Validate that all datasets have identical index-column content
    * (reference validate_index_alignment, index_utils.py:15-59). The
    * reference checks batch-by-batch positional equality; inputs are required
    * to be sorted/aligned, so multiset equality is the order-insensitive
    * equivalent. One job per pair: per-key counts full-outer-joined — any
    * null or unequal count row proves misalignment (vs 4 jobs for the naive
    * count + two-sided exceptAll). Throws on first mismatch. */
  def validateIndexAlignment(dfs: Seq[DataFrame], indexColumns: Seq[String]): Unit = {
    require(dfs.nonEmpty)
    val keyCols = indexColumns.map(col)
    val counted = dfs.map(_.groupBy(keyCols: _*).agg(count(lit(1)).as("__n")))
    val first = counted.head
    counted.zipWithIndex.tail.foreach { case (k, i) =>
      val left = first.withColumnRenamed("__n", "__n0")
      val right = indexColumns.foldLeft(k.withColumnRenamed("__n", "__n1")) {
        (df, c) => df.withColumnRenamed(c, s"__r_$c")
      }
      // null-safe key equality: a NULL index value present in both datasets
      // is aligned, not a mismatch
      val cond = indexColumns.map(c => left(c) <=> right(s"__r_$c")).reduce(_ && _)
      val mismatch = left.join(right, cond, "full_outer")
        .filter(col("__n0").isNull || col("__n1").isNull || col("__n0") =!= col("__n1"))
      if (!mismatch.isEmpty)
        throw new IllegalArgumentException(
          s"Index columns (${indexColumns.mkString(", ")}) of dataset $i are not aligned with dataset 0")
    }
  }
}
