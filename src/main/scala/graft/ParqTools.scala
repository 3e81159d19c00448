package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.frame.LazyParquetFrame
import graft.io.{FileHash, FooterMetadata, ParquetIO}
import graft.ops.{CompareOps, ConcatOps, FilterOps, IndexOps, MemoryOps, SchemaOps}
import graft.profile.{ColumnProfiler, ProfileComparison, ProfileReport}

/** One-stop facade mirroring the reference's public module surface
  * (`/root/reference/parq_tools/__init__.py`): a user of parq-tools finds
  * every top-level entry point here under its familiar name, returning
  * Spark-native results. Thin delegation only — each call forwards to the
  * operator module that owns the logic (SURVEY §7.5).
  *
  * {{{
  * val pt = ParqTools(spark)
  * pt.filterParquetFile(in, out,
  *   filterExpression = Some("l_quantity > 30"),
  *   columns = Some(Seq("l_orderkey", "l_quantity")))
  * }}}
  */
final case class ParqTools(spark: SparkSession) {

  // ---- parq_filter.filter_parquet_file ---------------------------------
  def filterParquetFile(input: String, output: String,
      filterExpression: Option[String] = None,
      columns: Option[Seq[String]] = None,
      indexColumns: Seq[String] = Nil,
      singleFile: Boolean = false): Unit =
    FilterOps.filterFile(spark, input, output, filterExpression, columns,
      indexColumns, singleFile)

  // ---- parq_concat.concat_parquet_files --------------------------------
  def concatParquetFiles(files: Seq[String], output: String,
      axis: Int = 0,
      indexColumns: Seq[String] = Nil,
      filterQuery: Option[String] = None,
      columns: Option[Seq[String]] = None,
      singleFile: Boolean = false): Unit = axis match {
    case 0 => ConcatOps.tallFiles(spark, files, output, filterQuery, columns,
      indexColumns, singleFile)
    case 1 => ConcatOps.wideFiles(spark, files, output, indexColumns,
      filterQuery, columns, singleFile)
    case other => throw new IllegalArgumentException(s"axis must be 0 or 1, got $other")
  }

  // ---- parq_concat.concat_parquet_file_with_dataframe ------------------
  def concatParquetFileWithDataFrame(input: String, df: DataFrame,
      indexColumns: Seq[String]): DataFrame =
    ConcatOps.withDataFrame(ParquetIO.read(spark, input), df, indexColumns)

  // ---- index_utils -----------------------------------------------------
  def sortParquetFile(input: String, output: String, sortColumns: Seq[String],
      singleFile: Boolean = false): Unit =
    IndexOps.sortFile(spark, input, output, sortColumns, singleFile)

  def reindexParquet(input: String, output: String, newIndex: DataFrame,
      sortAfterReindex: Boolean = true, singleFile: Boolean = false): Unit = {
    val out = IndexOps.reindex(newIndex, ParquetIO.read(spark, input), sortAfterReindex)
    ParquetIO.write(out, output, singleFile)
  }

  def validateIndexAlignment(dfs: Seq[DataFrame], indexColumns: Seq[String]): Unit =
    IndexOps.validateIndexAlignment(dfs, indexColumns)

  def deduplicateParquet(input: String, output: String,
      indexColumns: Seq[String], orderColumns: Seq[String] = Nil,
      singleFile: Boolean = false): Unit = {
    val out = IndexOps.dedupFirstWins(ParquetIO.read(spark, input), indexColumns, orderColumns)
    ParquetIO.write(out, output, singleFile)
  }

  // ---- parq_schema_tools.rename_and_update_metadata --------------------
  def renameAndUpdateMetadata(input: String, output: String,
      renameMap: Map[String, String] = Map.empty,
      tableMetadata: Map[String, String] = Map.empty,
      columnMetadata: Map[String, Map[String, String]] = Map.empty,
      singleFile: Boolean = true): Unit =
    SchemaOps.updateMetadataFile(spark, input, output, renameMap,
      tableMetadata, columnMetadata, singleFile)

  // ---- parq_compare ----------------------------------------------------
  def compareParquetFiles(left: String, right: String,
      exact: Boolean = false): CompareOps.CompareResult =
    CompareOps.compareFiles(spark, left, right, exact)

  def filesMatch(left: String, right: String, hashMethod: String = "fast"): Boolean =
    FileHash.filesMatch(left, right, hashMethod)

  // ---- parq_profile ----------------------------------------------------
  def profileReport(path: String, columns: Option[Seq[String]] = None,
      exactDistinct: Boolean = false): ColumnProfiler.TableProfile =
    ColumnProfiler.profileFile(spark, path, columns, exactDistinct)

  def profileReportHtml(path: String, title: String = "Profile report",
      exactDistinct: Boolean = false): String =
    ProfileReport.profileFileHtml(spark, path, title, exactDistinct)

  /** reference compare_parquet_profiles / build_parquet_profile_comparison */
  def compareParquetProfiles(paths: Seq[String], labels: Seq[String] = Nil,
      absTol: Double = 0.0, relTol: Double = 0.0,
      exactDistinct: Boolean = false): ProfileComparison.ComparisonSummary = {
    require(paths.size >= 2, "need at least two files to compare")
    val names = if (labels.nonEmpty) labels else paths
    require(names.size == paths.size, "labels must match files")
    ProfileComparison.compare(
      paths.map(ColumnProfiler.profileFile(spark, _, exactDistinct = exactDistinct)),
      names, absTol, relTol)
  }

  /** reference ParquetProfileComparisonBundle.write_outputs */
  def writeProfileComparisonOutputs(summary: ProfileComparison.ComparisonSummary,
      comparisonHtml: Option[String] = None,
      diffHtml: Option[String] = None,
      differencesYaml: Option[String] = None): Map[String, String] =
    ProfileReport.writeOutputs(summary, comparisonHtml, diffHtml, differencesYaml)

  // ---- lazy_parquet.LazyParquetDF --------------------------------------
  def lazyParquet(path: String, indexColumns: Seq[String] = Nil): LazyParquetFrame =
    LazyParquetFrame(spark, path, indexColumns)

  // ---- metadata / memory utilities -------------------------------------
  def tableMetadata(path: String): Map[String, String] =
    FooterMetadata.readUserMetadata(spark, path)

  def memoryUsage(path: String): MemoryOps.MemoryReport =
    MemoryOps.memoryUsage(spark, path)

  // ---- utils.file_utils -------------------------------------------------
  /** Chunked copy + hash verify + atomic replace (reference
    * `atomic_file_copy`, utils/file_utils.py:80-154). */
  def atomicFileCopy(src: String, dst: String, hashMethod: String = "sha256",
      force: Boolean = false): java.nio.file.Path =
    graft.io.AtomicFiles.atomicFileCopy(java.nio.file.Paths.get(src),
      java.nio.file.Paths.get(dst), hashMethod, force)

  /** Extract a zip (or 7z) archive with zip-slip protection (reference
    * `utils.extract_archive`). Returns the extracted file paths. */
  def extractArchive(archive: String, outputDir: String): Seq[java.nio.file.Path] =
    graft.io.ArchiveUtils.extractArchive(archive, outputDir)
}
