package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.expr.SparkCompiler
import graft.io.ParquetIO

/** Row filtering + column projection (SURVEY §2.2, P1/P2).
  *
  * Reference flagship query: `filter_parquet_file`
  * (/root/reference/parq_tools/parq_filter.py:34-84). In Spark the whole
  * parse→compile→pushdown→scan→write lifecycle collapses to
  * `read.filter(pred).select(cols).write`; Catalyst pushes the predicate and
  * the projection into the Parquet scan (check `PushedFilters` / `ReadSchema`
  * in `.explain("formatted")`).
  *
  * Deviations from the reference (documented in SURVEY §7.4):
  *   - empty result writes an empty file with the projected schema (the
  *     reference writes no file at all, parq_filter.py:63-67);
  *   - output is a directory of part files by default (scalable); pass
  *     `singleFile = true` for one-file parity.
  */
object FilterOps {

  /** Apply an expression-language filter + projection to a DataFrame. */
  def filter(
      df: DataFrame,
      filterExpression: Option[String],
      columns: Option[Seq[String]] = None,
      indexColumns: Seq[String] = Nil): DataFrame = {
    val filtered = filterExpression match {
      case Some(e) => df.filter(SparkCompiler.compileValidated(e, df))
      case None    => df
    }
    project(filtered, columns, indexColumns)
  }

  /** Index columns are always prepended and de-duplicated, preserving request
    * order (reference: parq_concat.py:253-275). Missing requested columns
    * raise with the full list. */
  def project(df: DataFrame, columns: Option[Seq[String]], indexColumns: Seq[String]): DataFrame =
    columns match {
      case None => df
      case Some(cols) =>
        val want = (indexColumns ++ cols).distinct
        val missing = want.filterNot(df.columns.contains)
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"Columns not found in schema: ${missing.mkString(", ")}")
        df.select(want.map(col): _*)
    }

  /** File→file parity with `filter_parquet_file`. */
  def filterFile(
      spark: SparkSession,
      input: String,
      output: String,
      filterExpression: Option[String] = None,
      columns: Option[Seq[String]] = None,
      indexColumns: Seq[String] = Nil,
      singleFile: Boolean = false): Unit = {
    val out = filter(ParquetIO.read(spark, input), filterExpression, columns, indexColumns)
    ParquetIO.write(out, output, singleFile)
  }
}
