package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.SparkCompiler
import graft.io.{FooterMetadata, ParquetIO}

/** Row-wise ("tall") and column-wise ("wide") concatenation (SURVEY §2.3/§2.7,
  * U1, J2, J3, J4).
  *
  * Reference: /root/reference/parq_tools/parq_concat.py.
  *   - tall  (axis=0, parq_concat.py:433-506): UNION ALL with schema
  *     unification — missing columns null-injected, columns reordered to the
  *     unified order, optional per-dataset filter applied *before* the union
  *     (so it's validated against each file's own schema).
  *   - wide  (axis=1, parq_concat.py:337-431): the reference zips batches
  *     positionally after proving index equality; Spark has no stable row
  *     order, so this is re-expressed as a multi-way equi-join on the index
  *     columns — equivalent because index alignment + uniqueness is a
  *     precondition (SURVEY §7.4 hard part 1).
  *
  * Scale notes: tall concat is shuffle-free (pure union of scans). Wide
  * concat shuffles each input once on the index columns; with N files that is
  * N scans + (N−1) shuffle joins on the same key — Catalyst reuses the
  * exchange where possible, and AQE picks broadcast when a side is small.
  */
object ConcatOps {

  /** UNION ALL by name with schema unification; per-dataset filter and final
    * column selection. Unified column order = first-seen order across inputs
    * (reference `pa.unify_schemas`). */
  def tall(
      dfs: Seq[DataFrame],
      filterQuery: Option[String] = None,
      columns: Option[Seq[String]] = None,
      indexColumns: Seq[String] = Nil): DataFrame = {
    require(dfs.nonEmpty, "concat of zero datasets")
    // Filter is validated against every input's schema: a column missing from
    // any one dataset is an error (reference test/concat/test_tall.py:84-109).
    val filtered = filterQuery match {
      case Some(q) => dfs.map(df => df.filter(SparkCompiler.compileValidated(q, df)))
      case None    => dfs
    }
    val unifiedOrder = dfs.foldLeft(Vector.empty[String]) { (acc, df) =>
      acc ++ df.columns.filterNot(acc.contains)
    }
    val unioned = filtered.reduce(_.unionByName(_, allowMissingColumns = true))
    val ordered = unioned.select(unifiedOrder.map(col): _*)
    FilterOps.project(ordered, columns, indexColumns)
  }

  def tallFiles(
      spark: SparkSession,
      files: Seq[String],
      output: String,
      filterQuery: Option[String] = None,
      columns: Option[Seq[String]] = None,
      indexColumns: Seq[String] = Nil,
      singleFile: Boolean = false): Unit = {
    ParquetIO.write(tall(files.map(ParquetIO.read(spark, _)), filterQuery, columns,
      indexColumns), output, singleFile)
    // Pandas-interop contract: merged `pandas` footer blob rides to the
    // output (reference parq_concat.py:408-416, test_tall.py:141-172).
    FooterMetadata.propagatePandasMeta(spark, files, output)
  }

  /** Column-wise concat: equi-join of N index-aligned datasets on the index
    * columns. Duplicate non-index column names across inputs are an error,
    * and the inputs' index alignment is always validated
    * ([[IndexOps.validateIndexAlignment]]). */
  def wide(
      dfs: Seq[DataFrame],
      indexColumns: Seq[String],
      filterQuery: Option[String] = None,
      columns: Option[Seq[String]] = None): DataFrame = {
    require(dfs.nonEmpty, "concat of zero datasets")
    require(indexColumns.nonEmpty, "wide concat requires index columns")
    dfs.zipWithIndex.foreach { case (df, i) =>
      val missing = indexColumns.filterNot(df.columns.contains)
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"Dataset $i is missing index columns: ${missing.mkString(", ")}")
    }
    val nonIndex = dfs.map(_.columns.filterNot(indexColumns.contains))
    val dups = nonIndex.flatten.groupBy(identity).collect { case (c, occ) if occ.size > 1 => c }
    if (dups.nonEmpty)
      throw new IllegalArgumentException(
        s"Duplicate non-index columns across datasets: ${dups.toSeq.sorted.mkString(", ")}")
    IndexOps.validateIndexAlignment(dfs, indexColumns)
    val joined = dfs.reduce((a, b) => a.join(b, indexColumns, "inner"))
    val filtered = filterQuery match {
      case Some(q) => joined.filter(SparkCompiler.compileValidated(q, joined))
      case None    => joined
    }
    FilterOps.project(filtered, columns, indexColumns)
  }

  def wideFiles(
      spark: SparkSession,
      files: Seq[String],
      output: String,
      indexColumns: Seq[String],
      filterQuery: Option[String] = None,
      columns: Option[Seq[String]] = None,
      singleFile: Boolean = false): Unit = {
    ParquetIO.write(wide(files.map(ParquetIO.read(spark, _)), indexColumns, filterQuery,
      columns), output, singleFile)
    // reference parq_concat.py:353-359, test_wide.py:133-166
    FooterMetadata.propagatePandasMeta(spark, files, output)
  }

  /** Wide concat of a file-backed frame with an in-memory frame = left
    * equi-join on the index columns (reference J2,
    * parq_concat.py:71-217). Pre-checks mirror the reference:
    * unique keys in `mem` (parq_concat.py:163-167) and no duplicate non-key
    * columns (parq_concat.py:155-161). */
  def withDataFrame(
      fileDf: DataFrame,
      mem: DataFrame,
      indexColumns: Seq[String]): DataFrame = {
    require(indexColumns.nonEmpty, "index columns required")
    val overlap = mem.columns.toSet.intersect(fileDf.columns.toSet).diff(indexColumns.toSet)
    if (overlap.nonEmpty)
      throw new IllegalArgumentException(
        s"Duplicate non-index columns: ${overlap.toSeq.sorted.mkString(", ")}")
    val dupKeys = mem.groupBy(indexColumns.map(col): _*).count().filter(col("count") > 1)
    if (!dupKeys.isEmpty)
      throw new IllegalArgumentException(
        s"DataFrame has duplicate index keys on (${indexColumns.mkString(", ")})")
    // The in-memory side is small by construction — broadcast it so the file
    // side never shuffles.
    fileDf.join(broadcast(mem), indexColumns, "left")
  }
}
