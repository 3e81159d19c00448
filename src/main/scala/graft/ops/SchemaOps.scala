package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

import graft.io.{FooterMetadata, ParquetIO}

/** Column rename + schema metadata (SURVEY §2.8 F3/F4; reference
  * /root/reference/parq_tools/parq_schema_tools.py).
  *
  * Column-level key→value metadata rides on Spark's per-field `Metadata` and
  * round-trips through the Parquet writer. Table-level key→value metadata is
  * written into the real footer KV map via [[FooterMetadata.writeKeyValue]]
  * (raw row-group copy + new footer — SURVEY §7.4 hard part 2); the
  * in-plan [[withTableMetadata]] variant (reserved field-metadata key on the
  * first column) remains for frames that are never file-backed.
  */
object SchemaOps {

  /** Write table-level key→value metadata into the parquet footer(s) at
    * `path` (reference parq_schema_tools.py update_metadata — table part). */
  def writeTableMetadata(spark: SparkSession, path: String, kv: Map[String, String],
      merge: Boolean = true): Unit =
    FooterMetadata.writeKeyValue(spark, path, kv, merge)

  /** Read table-level (user) key→value metadata from the footer at `path`
    * (reference metadata_utils.py:38-42). */
  def readTableMetadata(spark: SparkSession, path: String): Map[String, String] =
    FooterMetadata.readUserMetadata(spark, path)

  val TableMetadataKey = "graft.table.metadata"

  /** Rename columns by map (reference parq_schema_tools.py:69-70). Unknown
    * source names raise. */
  def rename(df: DataFrame, renames: Map[String, String]): DataFrame = {
    val missing = renames.keys.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Cannot rename missing columns: ${missing.toSeq.sorted.mkString(", ")}")
    df.withColumnsRenamed(renames)
  }

  def renameFile(spark: SparkSession, input: String, output: String,
      renames: Map[String, String], singleFile: Boolean = false): Unit = {
    val out = rename(ParquetIO.read(spark, input), renames)
    ParquetIO.write(out, output, singleFile)
  }

  /** Attach per-column metadata (reference parq_schema_tools.py:71-85). */
  def withColumnMetadata(df: DataFrame, metadata: Map[String, Map[String, String]]): DataFrame = {
    val missing = metadata.keys.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Cannot attach metadata to missing columns: ${missing.toSeq.sorted.mkString(", ")}")
    df.select(df.columns.map { c =>
      metadata.get(c) match {
        case Some(kv) =>
          val existing = df.schema(c).metadata
          val b = new MetadataBuilder().withMetadata(existing)
          kv.foreach { case (k, v) => b.putString(k, v) }
          col(c).as(c, b.build())
        case None => col(c)
      }
    }.toSeq: _*)
  }

  /** Best-effort table-level metadata: stored under a reserved key on the
    * first column's field metadata. */
  def withTableMetadata(df: DataFrame, kv: Map[String, String]): DataFrame = {
    require(df.columns.nonEmpty, "cannot attach table metadata to a zero-column frame")
    val json = kv.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("{", ",", "}")
    val first = df.columns.head
    val b = new MetadataBuilder().withMetadata(df.schema(first).metadata)
      .putString(TableMetadataKey, json)
    df.select((col(first).as(first, b.build()) +: df.columns.tail.map(col).toSeq): _*)
  }

  def columnMetadata(df: DataFrame, column: String): Metadata = df.schema(column).metadata

  /** One-call rename + table-metadata + column-metadata update of a parquet
    * file (reference parq_schema_tools.rename_and_update_metadata,
    * parq_schema_tools.py:30-100): columns renamed, per-column metadata
    * attached to the field metadata, table KV written into the real footer. */
  def updateMetadataFile(spark: SparkSession, input: String, output: String,
      renames: Map[String, String] = Map.empty,
      tableMetadata: Map[String, String] = Map.empty,
      columnMetadata: Map[String, Map[String, String]] = Map.empty,
      singleFile: Boolean = true): Unit = {
    if (renames.isEmpty && tableMetadata.isEmpty && columnMetadata.isEmpty) return
    var df = ParquetIO.read(spark, input)
    if (renames.nonEmpty) df = rename(df, renames)
    if (columnMetadata.nonEmpty) df = withColumnMetadata(df, columnMetadata)
    ParquetIO.write(df, output, singleFile)
    if (tableMetadata.nonEmpty)
      FooterMetadata.writeKeyValue(spark, output, tableMetadata)
  }

  /** Schema-evolution compatibility report between a reader's expected
    * (old) schema and a producer's new one: one row per column with status
    * `unchanged` / `added` / `removed` / `widened` (safe numeric
    * promotion: byte→short→int→long→float→double along the chain, or
    * nullable loosening alone) / `incompatible` (anything else —
    * narrowing, cross-family changes). `removed` and `incompatible` are
    * the publish blockers. Pure metadata — no jobs, no data read. */
  def compatibilityReport(spark: SparkSession,
      oldSchema: org.apache.spark.sql.types.StructType,
      newSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types._
    val widenChain: Map[DataType, Int] = Map(
      ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3,
      FloatType -> 4, DoubleType -> 5)
    def widens(from: DataType, to: DataType): Boolean =
      (widenChain.get(from), widenChain.get(to)) match {
        case (Some(a), Some(b)) => b > a
        case _ => false
      }
    val names = (oldSchema.map(_.name) ++
      newSchema.map(_.name).filterNot(oldSchema.fieldNames.contains)).toSeq
    val rows = names.map { n =>
      (oldSchema.fields.find(_.name == n), newSchema.fields.find(_.name == n)) match {
        case (Some(o), Some(nw)) =>
          val status =
            if (o.dataType == nw.dataType) "unchanged"
            else if (widens(o.dataType, nw.dataType)) "widened"
            else "incompatible"
          (n, o.dataType.simpleString, nw.dataType.simpleString, status)
        case (Some(o), None) => (n, o.dataType.simpleString, null, "removed")
        case (None, Some(nw)) => (n, null, nw.dataType.simpleString, "added")
        case _ => throw new IllegalStateException("unreachable")
      }
    }
    import spark.implicits._
    rows.toDF("column_name", "old_type", "new_type", "status")
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
