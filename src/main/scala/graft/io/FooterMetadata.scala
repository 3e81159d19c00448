package graft.io

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.ParquetFileWriter.Mode
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Table-level footer key→value metadata: read, merge, and write-back
  * (SURVEY §7.4 hard part 2; reference
  * /root/reference/parq_tools/utils/metadata_utils.py:10-55,
  * parq_concat.py:353-359,408-416).
  *
  * Spark's writer exposes no API for table-level KV metadata, so the write
  * path is a *footer rewrite*: row groups are copied byte-for-byte
  * (`ParquetFileWriter.appendFile` — no decode/re-encode, no shuffle, cost
  * is one sequential copy of the file) and a new footer carrying the merged
  * KV map is appended. At 100 TB this is used on CLI-style single-file
  * outputs and on directory outputs with a bounded part count — the copy is
  * per-file, embarrassingly parallel, and never touches the driver heap
  * beyond one footer.
  *
  * The `pandas` key gets first-class treatment because the reference's
  * interop contract depends on it: concat merges the blob across inputs
  * (union of columns, first file's index_columns —
  * metadata_utils.py:19-35) and `LazyParquetDF` recovers its index from it
  * (lazy_parquet.py:88-122).
  */
object FooterMetadata {

  val PandasKey = "pandas"

  /** Keys Spark/parquet-mr write themselves; excluded from "user" metadata. */
  private val EngineKeys = Set("org.apache.spark.sql.parquet.row.metadata",
    "org.apache.spark.version", "writer.model.name")

  // ---------------------------------------------------------------- raw KV

  def readKeyValue(spark: SparkSession, path: String): Map[String, String] =
    ParquetIO.footer(spark, path).keyValueMetadata

  /** User-facing table metadata: footer KV minus engine-internal keys. */
  def readUserMetadata(spark: SparkSession, path: String): Map[String, String] =
    readKeyValue(spark, path) -- EngineKeys

  /** Write (or merge into) the footer KV metadata of every data file under
    * `path` — a single parquet file or a Spark output directory. With
    * `merge=true` existing keys are kept and `kv` wins on conflict; with
    * `merge=false` all non-engine keys are replaced (engine keys are always
    * preserved so Spark can still reconstruct the Catalyst schema). */
  def writeKeyValue(spark: SparkSession, path: String, kv: Map[String, String],
      merge: Boolean = true): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = ParquetIO.dataFiles(spark, path)
    if (files.size <= 1) files.foreach(rewriteOne(conf, _, kv, merge))
    else {
      // per-file rewrites are independent — run them concurrently so a
      // many-part directory output is bounded by the slowest file, not the sum
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.traverse(files)(f => Future(rewriteOne(conf, f, kv, merge))),
        Duration.Inf)
      ()
    }
    spark.catalog.refreshByPath(path)
  }

  private def rewriteOne(conf: Configuration, file: Path, kv: Map[String, String],
      merge: Boolean): Unit = {
    val in = HadoopInputFile.fromPath(file, conf)
    val reader = ParquetFileReader.open(in)
    val (schema, existing) =
      try {
        val md = reader.getFooter.getFileMetaData
        (md.getSchema, Option(md.getKeyValueMetaData).map(_.asScala.toMap).getOrElse(Map.empty[String, String]))
      } finally reader.close()
    val merged =
      if (merge) existing ++ kv
      else existing.view.filterKeys(EngineKeys).toMap ++ kv
    val fs = file.getFileSystem(conf)
    val tmp = new Path(file.getParent,
      s".${file.getName}.kv-tmp-${UUID.randomUUID().toString.take(8)}")
    val writer = new ParquetFileWriter(HadoopOutputFile.fromPath(tmp, conf), schema,
      Mode.CREATE, org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE.toLong,
      org.apache.parquet.hadoop.ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
    try {
      writer.start()
      writer.appendFile(in) // raw row-group copy, no decode
      writer.end(merged.asJava)
    } catch {
      case t: Throwable => fs.delete(tmp, false); throw t
    }
    if (!fs.delete(file, false) || !fs.rename(tmp, file))
      throw new java.io.IOException(s"atomic footer swap failed for $file")
  }

  // ---------------------------------------------------------- pandas blob

  /** Parsed view of the `pandas` footer blob — just the parts the engine
    * consumes. `indexColumns` keeps only real (named string) entries;
    * RangeIndex placeholder dicts are dropped. */
  final case class PandasMeta(indexColumns: Seq[String], columnNames: Seq[String], raw: String)

  private def mapper = new ObjectMapper()

  def readPandasMeta(spark: SparkSession, path: String): Option[PandasMeta] =
    readKeyValue(spark, path).get(PandasKey).map(parsePandas)

  private[io] def parsePandas(blob: String): PandasMeta = {
    val root = mapper.readTree(blob)
    val idx = Option(root.get("index_columns")).toSeq
      .flatMap(_.elements().asScala)
      .collect { case n if n.isTextual => n.asText() } // skip RangeIndex dicts
    val cols = Option(root.get("columns")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap(c => Option(c.get("name")).filter(_.isTextual).map(_.asText()))
    PandasMeta(idx, cols, blob)
  }

  /** Build a pandas-compatible metadata blob for a Spark schema — enough for
    * pandas/pyarrow/DuckDB to recover the index and dtypes on read. */
  def pandasBlobFor(schema: StructType, indexColumns: Seq[String]): String = {
    val root = mapper.createObjectNode()
    val idx = root.putArray("index_columns")
    indexColumns.foreach(idx.add)
    val colIdx = root.putArray("column_indexes")
    val ci = colIdx.addObject()
    ci.putNull("name"); ci.putNull("field_name")
    ci.put("pandas_type", "unicode"); ci.put("numpy_type", "object")
    ci.putObject("metadata").put("encoding", "UTF-8")
    val cols = root.putArray("columns")
    schema.fields.foreach { f =>
      val (pt, nt) = pandasTypes(f.dataType)
      val c = cols.addObject()
      c.put("name", f.name); c.put("field_name", f.name)
      c.put("pandas_type", pt); c.put("numpy_type", nt)
      c.putNull("metadata")
    }
    val creator = root.putObject("creator")
    creator.put("library", "graft"); creator.put("version", "0.2.0")
    root.put("pandas_version", "2.0.0")
    mapper.writeValueAsString(root)
  }

  private def pandasTypes(dt: DataType): (String, String) = dt match {
    case ByteType => ("int8", "int8")
    case ShortType => ("int16", "int16")
    case IntegerType => ("int32", "int32")
    case LongType => ("int64", "int64")
    case FloatType => ("float32", "float32")
    case DoubleType => ("float64", "float64")
    case BooleanType => ("bool", "bool")
    case StringType => ("unicode", "object")
    case BinaryType => ("bytes", "object")
    case DateType => ("date", "object")
    case _: TimestampType => ("datetime", "datetime64[ns]")
    case _: DecimalType => ("decimal", "object")
    case _ => ("object", "object")
  }

  /** Merge pandas blobs across concat inputs: union of columns first-seen,
    * index_columns / column_indexes / creator / pandas_version from the
    * first (reference metadata_utils.py:19-35). */
  def mergePandasBlobs(blobs: Seq[String]): Option[String] = {
    if (blobs.isEmpty) return None
    val trees = blobs.map(mapper.readTree)
    val merged = mapper.createObjectNode()
    val cols = merged.putArray("columns")
    val seen = scala.collection.mutable.Set.empty[String]
    trees.foreach { t =>
      Option(t.get("columns")).foreach(_.elements().asScala.foreach { c =>
        val name = Option(c.get("name")).filter(_.isTextual).map(_.asText()).getOrElse("")
        if (!seen(name)) { seen += name; cols.add(c) }
      })
    }
    def copyFromFirst(key: String, orElse: ObjectNode => Unit): Unit =
      Option(trees.head.get(key)) match {
        case Some(n) => merged.set(key, n); ()
        case None => orElse(merged)
      }
    copyFromFirst("index_columns", _.putArray("index_columns"))
    copyFromFirst("column_indexes", _.putArray("column_indexes"))
    copyFromFirst("creator", _.putObject("creator"))
    copyFromFirst("pandas_version", _.put("pandas_version", "2.0.0"))
    Some(mapper.writeValueAsString(merged))
  }

  /** Stamp a freshly written output with pandas metadata derived from its own
    * schema (used by save paths that know their index columns). */
  def attachPandasMeta(spark: SparkSession, path: String, indexColumns: Seq[String]): Unit = {
    val schema = ParquetIO.schema(spark, path)
    writeKeyValue(spark, path, Map(PandasKey -> pandasBlobFor(schema, indexColumns)))
  }

  /** Concat contract (reference parq_concat.py:353-359,408-416): read the
    * pandas blob from each input that has one, merge, write into the output
    * footer. No-op when no input carries pandas metadata. */
  def propagatePandasMeta(spark: SparkSession, inputs: Seq[String], output: String): Unit = {
    val blobs = inputs.flatMap(in => readKeyValue(spark, in).get(PandasKey))
    mergePandasBlobs(blobs).foreach(b => writeKeyValue(spark, output, Map(PandasKey -> b)))
  }
}
