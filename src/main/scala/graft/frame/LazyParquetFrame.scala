package graft.frame

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.expr.SparkCompiler
import graft.io.ParquetIO

/** Thin facade mirroring the reference's `LazyParquetDF` surface (SURVEY
  * §2.12; reference /root/reference/parq_tools/lazy_parquet.py:18-570).
  *
  * A Spark `DataFrame` is already lazy and column-pruned by Catalyst, so the
  * reference's column-on-demand machinery (cache frame, positional splicing,
  * mutation tracking) collapses to a held plan + `withColumn`. We keep the
  * API: per-column lazy/loaded status (= has an action touched it), add/set
  * columns, tuple filters, expression-language query, head/describe/info,
  * overwrite-guarded save.
  */
final class LazyParquetFrame private (
    val spark: SparkSession,
    val path: String,
    initialIndex: Seq[String],
    private var current: DataFrame,
    private var loaded: Set[String]) {

  private var index: Seq[String] = initialIndex
  def indexColumns: Seq[String] = index

  /** Re-assign the index to one or more columns (MultiIndex when several) —
    * reference index assignment, lazy_parquet.py:61-86. */
  def setIndex(cols: Seq[String]): Unit = {
    val missing = cols.filterNot(columns.contains)
    if (missing.nonEmpty)
      throw new NoSuchElementException(s"Index columns not found: ${missing.mkString(", ")}")
    index = cols
    loaded ++= cols
  }

  def df: DataFrame = current
  def columns: Seq[String] = current.columns.toSeq
  def dtypes: Seq[(String, String)] = current.dtypes.toSeq

  /** (rows, cols). Row count runs a count job (the reference reads footer
    * num_rows; for file-backed frames that is what Spark's count compiles to
    * — a metadata-only scan). */
  def shape: (Long, Int) = (current.count(), current.columns.length)

  /** Select one or more columns; marks them loaded (reference __getitem__,
    * lazy_parquet.py:187-220). Unknown column → KeyError analogue. */
  def apply(cols: String*): DataFrame = {
    val missing = cols.filterNot(columns.contains)
    if (missing.nonEmpty)
      throw new NoSuchElementException(s"Columns not found: ${missing.mkString(", ")}")
    loaded ++= cols
    current.select(cols.map(col): _*)
  }

  /** Add or replace a column (reference __setitem__/add_column,
    * lazy_parquet.py:222-250). */
  def update(name: String, value: Column): Unit = {
    unloadColumns() // the rebound plan can never hit the old cached subtree
    current = current.withColumn(name, value)
    loaded += name
  }
  def addColumn(name: String, value: Column): Unit = {
    if (columns.contains(name))
      throw new IllegalArgumentException(s"Column '$name' already exists")
    update(name, value)
  }

  /** Materialize the named columns (reference load/preload,
    * lazy_parquet.py:187-220 marks columns loaded by touching them). The
    * reference loads into driver memory; here the columns cache on the
    * EXECUTORS (`cache()` + a count action) — same "subsequent access is
    * memory-speed" contract without the driver OOM a full-row `collect()`
    * would hand a 100 TB caller. Spill-safe: MEMORY_AND_DISK is cache()'s
    * default level. The frame keeps the handle: a repeat call (or any
    * mutation that rebinds the plan — update/rename/transformInPlace/
    * save — after which the cached subtree can never be hit again)
    * releases the previous cache instead of orphaning it; call
    * [[unloadColumns]] to release explicitly. */
  def loadColumns(cols: Seq[String]): Unit = {
    unloadColumns()
    val c = apply(cols: _*).cache()
    c.count()
    cachedLoad = Some(c)
  }

  /** Release the executor cache a [[loadColumns]] call pinned (no-op when
    * nothing is loaded). */
  def unloadColumns(): Unit = {
    cachedLoad.foreach(_.unpersist(false))
    cachedLoad = None
  }
  private var cachedLoad: Option[DataFrame] = None

  def head(n: Int = 5): DataFrame = current.limit(n)

  /** pandas describe() parity; like pandas' `percentiles=` parameter, the
    * statistics set is selectable (Spark summary() names, e.g. "count",
    * "mean", "stddev", "min", "25%", "max"). */
  def describe(stats: String*): DataFrame =
    if (stats.isEmpty) current.summary() else current.summary(stats: _*)

  /** Conjunctive tuple-predicate filter; returns ONLY the predicate columns
    * (reference lazy_parquet.py:389-406, P7). */
  def filter(preds: (String, String, Any)*): DataFrame = {
    val predCols = preds.map(_._1).distinct
    val missing = predCols.filterNot(columns.contains)
    if (missing.nonEmpty)
      throw new NoSuchElementException(s"Columns not found: ${missing.mkString(", ")}")
    val cond = preds.map { case (c, op, v) =>
      op match {
        case ">"  => col(c) > lit(v)
        case "<"  => col(c) < lit(v)
        case ">=" => col(c) >= lit(v)
        case "<=" => col(c) <= lit(v)
        case "==" => col(c) === lit(v)
        case "!=" => col(c) =!= lit(v)
        case other => throw new IllegalArgumentException(s"Unsupported operator: $other")
      }
    }.reduce(_ && _)
    current.filter(cond).select(predCols.map(col): _*)
  }

  /** Expression-language filter — same dialect as FilterOps (reference
    * query(), lazy_parquet.py:408-412). */
  def query(expression: String): DataFrame =
    current.filter(SparkCompiler.compileValidated(expression, current))

  // ------------------------------------------------------ .loc label access
  // Reference LazyLocIndexer (lazy_parquet.py:573-592): pandas-style
  // label-based row access/assignment against the frame's index columns.
  // The pandas implementation materializes the whole file and delegates to
  // DataFrame.loc; the Spark shape is an index-column equality filter (one
  // label per index column, AND-matched — a MultiIndex label is a tuple),
  // which Catalyst pushes into the parquet scan (PushedFilters), and the
  // setter is a `when()` projection rewrite — both lazy plans, nothing
  // materializes driver-side.

  private def locCondition(labels: Seq[Any]): Column = {
    if (index.isEmpty)
      throw new IllegalStateException(
        ".loc requires index columns (setIndex or construction-time index)")
    // the varargs overload binds lp.loc(Seq(7L)) as ONE Seq-typed label,
    // which would otherwise fail much later with an opaque lit() analysis
    // error — reject collection-typed labels with a usage hint instead
    labels.foreach {
      case _: Iterable[_] | _: Array[_] | _: java.util.Collection[_] =>
        throw new IllegalArgumentException(
          ".loc labels must be scalar values — pass loc(7L) (varargs) or " +
            "use the loc(Seq(...), Seq(...)) row/column overload")
      case _ => ()
    }
    if (labels.size != index.size)
      throw new IllegalArgumentException(
        s".loc label arity ${labels.size} != index arity ${index.size} " +
          s"(index: ${index.mkString(", ")})")
    index.zip(labels).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
  }

  /** Label-based row lookup: rows whose index columns equal `labels`
    * (reference `LazyLocIndexer.__getitem__`). */
  def loc(labels: Any*): DataFrame = current.filter(locCondition(labels))

  /** `(row_key, col_key)` form: label lookup projected to `cols` (index
    * columns stay, mirroring a pandas row-slice keeping its index). */
  def loc(labels: Seq[Any], cols: Seq[String]): DataFrame = {
    val missing = cols.filterNot(columns.contains)
    if (missing.nonEmpty)
      throw new NoSuchElementException(s"Columns not found: ${missing.mkString(", ")}")
    loaded ++= cols
    current.filter(locCondition(labels))
      .select((index ++ cols.filterNot(index.contains)).map(col): _*)
  }

  /** Label-based assignment (reference `LazyLocIndexer.__setitem__`):
    * set `column` to `value` on the rows matching `labels`, leaving every
    * other row untouched. Creates the column (NULL elsewhere) when new. */
  def locSet(labels: Seq[Any], column: String, value: Any): Unit = {
    val cond = locCondition(labels)
    val assigned = org.apache.spark.sql.functions.when(cond, lit(value))
    update(column,
      if (columns.contains(column)) assigned.otherwise(col(column))
      else assigned) // a when() without otherwise is NULL elsewhere
  }

  /** Per-column lazy/loaded status (reference info(),
    * lazy_parquet.py:340-383). */
  def info: Seq[(String, String, String)] =
    dtypes.map { case (c, t) => (c, t, if (loaded.contains(c)) "loaded" else "lazy") }

  /** Bounded-memory row iteration (reference iter_row_chunks,
    * lazy_parquet.py:418-478): streams partitions to the driver one at a
    * time via `toLocalIterator`, grouped into fixed-size chunks. Computed
    * columns are plain plan columns, so they arrive spliced in naturally. */
  def iterRowChunks(chunkSize: Int = 100000,
      columns: Option[Seq[String]] = None): Iterator[Seq[org.apache.spark.sql.Row]] = {
    val selected = columns match {
      case Some(cs) => apply(cs: _*)
      case None => current
    }
    selected.toLocalIterator().asInstanceOf[java.util.Iterator[org.apache.spark.sql.Row]]
      .asScala.grouped(chunkSize)
  }

  // ------------------------------------------------- deprecated-class parity
  // The reference's deprecated LazyParquetDataFrame (lazy_parquet.py:593-1038)
  // adds a whole-frame operator surface (__add__ .. __ixor__) that
  // materializes the ENTIRE file into pandas and delegates. The Spark-native
  // equivalent applies the op to every NUMERIC data column as a lazy plan —
  // same element-wise semantics, no materialization; index and non-numeric
  // columns pass through untouched (pandas broadcasts scalars over numeric
  // columns the same way).

  /** Apply `f` element-wise to every numeric non-index column (the
    * deprecated dunder surface's core). Returns a plan, not data. */
  def mapNumeric(f: Column => Column): DataFrame =
    current.select(current.schema.fields.map { fd =>
      val numeric = fd.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
      if (numeric && !index.contains(fd.name)) f(col(fd.name)).as(fd.name)
      else col(fd.name)
    }.toSeq: _*)

  def +(v: Double): DataFrame = mapNumeric(_ + v)      // __add__
  def -(v: Double): DataFrame = mapNumeric(_ - v)      // __sub__
  def *(v: Double): DataFrame = mapNumeric(_ * v)      // __mul__
  def /(v: Double): DataFrame = mapNumeric(_ / v)      // __truediv__
  def %(v: Double): DataFrame = mapNumeric(_ % v)      // __mod__
  def pow(v: Double): DataFrame =                       // __pow__
    mapNumeric(c => org.apache.spark.sql.functions.pow(c, v))
  def unary_- : DataFrame = mapNumeric(c => -c)        // __neg__
  def abs: DataFrame =                                  // __abs__
    mapNumeric(org.apache.spark.sql.functions.abs)
  /** Comparison dunders (__lt__ …): numeric columns become booleans. */
  def <(v: Double): DataFrame = mapNumeric(_ < v)
  def <=(v: Double): DataFrame = mapNumeric(_ <= v)
  def >(v: Double): DataFrame = mapNumeric(_ > v)
  def >=(v: Double): DataFrame = mapNumeric(_ >= v)

  /** In-place variants (__iadd__ …): rebind the frame's plan to the mapped
    * result — still lazy (the reference eagerly rewrote its pandas cache). */
  def transformInPlace(f: Column => Column): Unit = {
    unloadColumns()
    current = mapNumeric(f)
  }

  /** Drop columns (reference drop, lazy_parquet.py:849-861). */
  def drop(cols: String*): DataFrame = {
    val missing = cols.filterNot(columns.contains)
    if (missing.nonEmpty)
      throw new NoSuchElementException(s"Columns not found: ${missing.mkString(", ")}")
    current.drop(cols: _*)
  }

  /** Rename columns by map (reference rename, lazy_parquet.py:863-876);
    * delegates to the engine rename so index bookkeeping follows. */
  def rename(mapping: Map[String, String]): Unit = {
    unloadColumns()
    current = graft.ops.SchemaOps.rename(current, mapping)
    index = index.map(c => mapping.getOrElse(c, c))
    loaded = loaded.map(c => mapping.getOrElse(c, c))
  }

  /** Reset the index (reference reset_index, lazy_parquet.py:657-677):
    * the index columns return to plain data columns (they already are
    * physical columns here, so this is bookkeeping); `drop = true`
    * removes them from the frame entirely. */
  def resetIndex(dropCols: Boolean = false): Unit = {
    if (dropCols && index.nonEmpty) {
      unloadColumns() // plan rebinds; the cached subtree can't be hit again
      current = current.drop(index: _*)
    }
    index = Nil
  }

  /** Overwrite-guarded save (reference to_parquet/save,
    * lazy_parquet.py:480-524). */
  def toParquet(output: String, allowOverwrite: Boolean = false,
      singleFile: Boolean = false): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(output)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p) && !allowOverwrite)
      throw new IllegalArgumentException(s"Output exists and allow_overwrite is false: $output")
    ParquetIO.write(current, output, singleFile)
    // Preserve the logical index across the round-trip (reference
    // to_parquet keeps the pandas index — lazy_parquet.py:480-524).
    if (index.nonEmpty)
      graft.io.FooterMetadata.attachPandasMeta(spark, output, index)
  }

  /** Persist the current plan back over the frame's own source path.
    * Spark refuses a direct overwrite of a path it is reading from, so the
    * result is materialized to a temp sibling first and atomically swapped
    * in; the frame then re-reads the new files (the old plan would hold a
    * stale file listing). */
  def save(): Unit = {
    unloadColumns()
    val conf = spark.sparkContext.hadoopConfiguration
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(conf)
    val isFile = fs.exists(out) && !fs.getFileStatus(out).isDirectory
    if (isFile) ParquetIO.writeSingleFile(current, path) // temp-then-rename inside
    else {
      val tmp = new org.apache.hadoop.fs.Path(out.getParent,
        s".${out.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      current.write.parquet(tmp.toString)
      if (fs.exists(out)) fs.delete(out, true)
      if (!fs.rename(tmp, out))
        throw new java.io.IOException(s"rename $tmp -> $out failed")
    }
    if (index.nonEmpty)
      graft.io.FooterMetadata.attachPandasMeta(spark, path, index)
    spark.catalog.refreshByPath(path)
    val keepLoaded = loaded
    current = ParquetIO.read(spark, path)
    loaded = keepLoaded.intersect(current.columns.toSet)
  }
}

object LazyParquetFrame {
  /** Open a parquet-backed frame. With explicit `indexColumns` those become
    * the index (single or MultiIndex). With none, the index is recovered
    * from the file's `pandas` footer metadata when present — the reference's
    * no-override path (lazy_parquet.py:88-122); files without the blob (or
    * with a RangeIndex) get an empty index. */
  def apply(spark: SparkSession, path: String, indexColumns: Seq[String] = Nil): LazyParquetFrame = {
    val df = ParquetIO.read(spark, path)
    val idx =
      if (indexColumns.nonEmpty) indexColumns
      else scala.util.Try(graft.io.FooterMetadata.readPandasMeta(spark, path))
        .toOption.flatten.map(_.indexColumns.filter(df.columns.contains)).getOrElse(Nil)
    val missing = idx.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"Index columns not in file: ${missing.mkString(", ")}")
    // The reference eagerly loads index columns at construction
    // (lazy_parquet.py:61-122); marking them loaded mirrors that status.
    new LazyParquetFrame(spark, path, idx, df, idx.toSet)
  }
}
