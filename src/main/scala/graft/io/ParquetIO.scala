package graft.io

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Parquet read/write helpers (SURVEY §2.1, S1–S4).
  *
  * Reads map 1:1 to Spark's vectorized Parquet reader with predicate pushdown
  * and column pruning (the reference's `ds.dataset(path).scanner(columns,
  * filter, batch_size)` — /root/reference/parq_tools/parq_filter.py:52-57).
  *
  * Writes default to the scalable directory layout (many part files, one per
  * partition — what a 1000-executor cluster needs). `writeSingleFile` exists
  * only for CLI parity with the reference's one-file-in/one-file-out model
  * and must not be used on large outputs.
  *
  * [[read]] is the engine's one plain-parquet reader. An inferring
  * `spark.read.parquet(path)` runs a Spark job to read a footer; [[read]]
  * runs it once per file identity and serves later reads of the same files
  * with `spark.read.schema(cached).parquet(path)`, which runs no job. The
  * schema cache contract:
  *  - it holds metadata (the inferred `StructType`) only, never results;
  *  - the key is the qualified path, the sorted (name, length, mtime) of
  *    the data files (a single file is its own list; a flat Spark output
  *    directory lists its non-hidden files), and the session confs that
  *    change schema inference ([[SchemaConfs]]);
  *  - it keeps one entry per qualified path: a new identity replaces the
  *    old entry, so a pipeline that rewrites its outputs does not grow it
  *    (and it starts over past 4,096 paths);
  *  - a path with a subdirectory (a hive-partitioned layout, where a
  *    supplied schema would change partition discovery) and a path
  *    `getFileStatus` cannot resolve (a glob) bypass it and read uncached;
  *  - stated limit: on a store whose mtime is coarser than the time between
  *    two writes, a same-length rewrite of a fixed-name single file is not
  *    seen. Spark output directories are safe: every write names its part
  *    files afresh.
  */
object ParquetIO {

  /** Session confs that change the schema Spark infers from parquet
    * footers (how a footer converts, and whether footers merge); a cached
    * schema is reused only under the same values. */
  val SchemaConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema")

  private val schemaCache = new IdentityCache[StructType]

  /** Read a parquet file or flat output directory, inferring its schema at
    * most once per file identity (see the cache contract above). A miss
    * returns the inferring read itself and keeps its schema, so the
    * relation is never built twice. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val id = schemaIdentity(spark, path)
    id.flatMap(schemaCache.get) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        id.foreach(schemaCache.put(_, df.schema))
        df
    }
  }

  /** The schema [[read]] would give `path`, from the cache when the file
    * identity is unchanged: for callers that read a file only for its
    * schema. */
  def schema(spark: SparkSession, path: String): StructType =
    schemaIdentity(spark, path).flatMap(schemaCache.get)
      .getOrElse(read(spark, path).schema)

  private def schemaIdentity(spark: SparkSession, path: String): Option[FileIdentity] =
    fileIdentity(spark, path).map(_.copy(
      confs = SchemaConfs.map(k => k -> spark.conf.getOption(k).orNull)))

  /** The identity of a single parquet file or a flat directory of data
    * files: qualified path plus each data file's (name, length, mtime).
    * None for a path with a non-hidden subdirectory or one `getFileStatus`
    * cannot resolve (a glob, a missing path). */
  def fileIdentity(spark: SparkSession, path: String): Option[FileIdentity] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Try(fs.getFileStatus(p)).toOption.flatMap { st =>
      val entries =
        if (st.isDirectory) fs.listStatus(st.getPath).filterNot(c => hidden(c.getPath.getName)).toSeq
        else Seq(st)
      if (entries.exists(_.isDirectory)) None
      else Some(FileIdentity(st.getPath.toString,
        entries.map(c => (c.getPath.getName, c.getLen, c.getModificationTime)).sortBy(_._1)))
    }
  }

  /** Names Spark's file listing skips (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** Multi-file scan with schema unification (reference `pa.unify_schemas`,
    * parq_concat.py:326). */
  def readMerged(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Messy-lake read: what a 100 TB directory accumulated over months
    * actually needs. `mergeSchema` unifies footers across files written at
    * different schema versions (columns added later are NULL in older
    * files); `ignoreCorruptFiles` skips unreadable files instead of failing
    * the scan (a single truncated upload must not kill an 800k-task job).
    * Both are per-read options — session config is untouched. Skipped
    * corruption is SILENT by design here; run [[isValidParquet]] over the
    * listing (q170's contract) when an audit trail is needed. */
  def readLake(spark: SparkSession, path: String,
      mergeSchema: Boolean = true, ignoreCorrupt: Boolean = true): DataFrame =
    spark.read
      .option("mergeSchema", mergeSchema.toString)
      .option("ignoreCorruptFiles", ignoreCorrupt.toString)
      .parquet(path)

  /** Scalable write: directory of part files, atomic via Spark's output
    * committer (the reference's atomic_output_file temp-then-rename,
    * utils/file_utils.py:15-42, is built into Spark). With `singleFile`
    * the output is one file instead ([[writeSingleFile]]). */
  def write(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    if (singleFile) writeSingleFile(df, path)
    else df.write.mode("overwrite").parquet(path)

  /** Hive-partitioned write. With `dynamic = true` (the default), an
    * overwrite replaces ONLY the partition directories present in `df` —
    * the incremental-ingestion primitive at 100 TB: re-landing one day's
    * data is a swap of that day's directories, and every other partition
    * is untouched on disk (byte-identical files, no rewrite, no read).
    * With `dynamic = false` Spark's static overwrite semantics apply: the
    * WHOLE table path is truncated first — the footgun q193 demonstrates.
    * The mode rides as a per-write option; session config is untouched. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      dynamic: Boolean = true): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Single-file output for parity with the reference CLI: write to a temp
    * dir, then atomically move the lone part file to `path`. NOT for 100 TB
    * outputs — use [[write]] there. */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val out = new Path(path)
    val fs = out.getFileSystem(conf)
    val tmp = new Path(out.getParent, s".${out.getName}.tmp-${UUID.randomUUID().toString.take(8)}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file produced under $tmp"))
    if (fs.exists(out)) fs.delete(out, true)
    fs.rename(part, out)
    fs.delete(tmp, true)
  }

  /** Content-based Parquet validity check (reference:
    * utils/file_utils.py:157-184). */
  def isValidParquet(spark: SparkSession, path: String): Boolean =
    Try {
      val r = footerReader(spark.sparkContext.hadoopConfiguration, path)
      try r.getFooter.getFileMetaData ne null
      finally r.close()
    }.getOrElse(false)

  /** Footer-level metadata without any data read (reference:
    * lazy_parquet.py:45-55, utils/memory_utils.py:63-71). */
  def footer(spark: SparkSession, path: String): ParquetFooterInfo = {
    val r = footerReader(spark.sparkContext.hadoopConfiguration, path)
    try {
      val f = r.getFooter
      val md = f.getFileMetaData
      val blocks = f.getBlocks.asScala.toSeq
      ParquetFooterInfo(
        numRows = blocks.map(_.getRowCount).sum,
        numRowGroups = blocks.size,
        createdBy = Option(md.getCreatedBy),
        keyValueMetadata = Option(md.getKeyValueMetaData)
          .map(_.asScala.toMap).getOrElse(Map.empty),
        columns = blocks.flatMap(_.getColumns.asScala).groupBy(_.getPath.toDotString)
          .map { case (name, chunks) =>
            name -> ColumnChunkStats(
              compressedBytes = chunks.map(_.getTotalSize).sum,
              uncompressedBytes = chunks.map(_.getTotalUncompressedSize).sum,
              numValues = chunks.map(_.getValueCount).sum,
              physicalType = chunks.head.getPrimitiveType.getPrimitiveTypeName.name match {
                // parquet-java's enum says BINARY; the format spec (and
                // other readers) call this physical type BYTE_ARRAY
                case "BINARY" => "BYTE_ARRAY"
                case other => other
              })
          })
    } finally r.close()
  }

  /** Per-row-group numeric statistics straight from the footer — the
    * partition-pruning audit. For each requested column and row group:
    * `(column_name, row_group, n_values, min_val, max_val, would_skip)`
    * where `would_skip` (predicate column only, NULL elsewhere) reports
    * whether a reader evaluating `lo <= col <= hi` could skip the whole
    * row group on stats alone (`max < lo || min > hi`). This is how you
    * audit whether a Z-order/sort layout actually makes predicates
    * prunable — footer-only, zero data read, driver-side metadata scale
    * (the same contract as [[footer]]). */
  def rowGroupStats(spark: SparkSession, path: String, columns: Seq[String],
      predicate: Option[(String, Double, Double)] = None): org.apache.spark.sql.DataFrame = {
    require(columns.nonEmpty, "at least one column required")
    val r = footerReader(spark.sparkContext.hadoopConfiguration, path)
    val rows = try {
      r.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap { case (block, rg) =>
        block.getColumns.asScala
          .filter(c => columns.contains(c.getPath.toDotString))
          .map { c =>
            val name = c.getPath.toDotString
            val st = c.getStatistics
            def num(v: Any): Double = v match {
              // + 0.0 canonicalizes IEEE −0.0: parquet writers widen a 0.0
              // min bound to −0.0 per spec recommendation, and ±0 are
              // equivalent for range pruning
              case n: java.lang.Number => n.doubleValue() + 0.0
              case other => throw new IllegalArgumentException(
                s"column $name is not numeric (footer min/max: ${other.getClass.getSimpleName})")
            }
            val (mn, mx) =
              if (st == null || !st.hasNonNullValue) (None, None)
              else (Some(num(st.genericGetMin)), Some(num(st.genericGetMax)))
            val skip = predicate.collect { case (pc, lo, hi) if pc == name =>
              (mn, mx) match {
                case (Some(a), Some(b)) => b < lo || a > hi
                case _ => false // stats-less chunk: a reader must read it
              }
            }
            (name, rg, c.getValueCount, mn, mx, skip)
          }
      }
    } finally r.close()
    import spark.implicits._
    rows.toDF("column_name", "row_group", "n_values", "min_val", "max_val", "would_skip")
  }

  private def footerReader(conf: Configuration, path: String): ParquetFileReader = {
    val p = resolveDataFile(conf, new Path(path))
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
  }

  /** If `path` is a Spark output directory, resolve to its first part file. */
  private def resolveDataFile(conf: Configuration, p: Path): Path = {
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) p
    else fs.listStatus(p).map(_.getPath)
      .filter(c => c.getName.endsWith(".parquet") && !c.getName.startsWith("_"))
      .sortBy(_.getName).headOption
      .getOrElse(throw new IllegalArgumentException(s"no parquet files under $p"))
  }

  /** All data files for a path (single file or Spark output directory). */
  def dataFiles(spark: SparkSession, path: String): Seq[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(p)
    else fs.listStatus(p).map(_.getPath)
      .filter(c => c.getName.endsWith(".parquet") && !c.getName.startsWith("_"))
      .sortBy(_.getName).toSeq
  }
}

/** A parquet path's file identity ([[ParquetIO.fileIdentity]]) plus the
  * session confs a cached value depends on (empty when none). */
final case class FileIdentity(
    path: String,
    files: Seq[(String, Long, Long)],
    confs: Seq[(String, String)] = Nil)

/** Metadata keyed by file identity: one entry per qualified path, valid
  * while the identity it was stored under still matches. Lookups and
  * stores take no lock across a computation, so the caller infers outside
  * any map lock (get, compute, put) and a Spark job never runs while a map
  * bin is locked; two threads missing together both compute, and the
  * later store wins. */
final class IdentityCache[V] {
  private val entries = new java.util.concurrent.ConcurrentHashMap[String, (FileIdentity, V)]()

  def get(id: FileIdentity): Option[V] =
    Option(entries.get(id.path)).collect { case (k, v) if k == id => v }

  def put(id: FileIdentity, value: V): Unit = {
    // bounds a process that reads a stream of fresh temporary paths
    if (entries.size >= 4096) entries.clear()
    entries.put(id.path, (id, value))
  }
}

final case class ColumnChunkStats(
    compressedBytes: Long,
    uncompressedBytes: Long,
    numValues: Long,
    /** Parquet physical type name (INT64, DOUBLE, BYTE_ARRAY, …) — an
      * engine-independent fact of the file, so footer inspection has a
      * cross-engine oracle (DuckDB `parquet_metadata().type`). */
    physicalType: String = "")

final case class ParquetFooterInfo(
    numRows: Long,
    numRowGroups: Int,
    createdBy: Option[String],
    keyValueMetadata: Map[String, String],
    columns: Map[String, ColumnChunkStats])
