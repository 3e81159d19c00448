package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.ParquetIO

/** Canonical schemas for the test-corpus tables, and a conforming reader.
  *
  * Motivation: a dataset regeneration that re-encodes one column can strand
  * every downstream operator at analysis time — exactly what happened when
  * the events table moved from `TIMESTAMP(NANOS)` (read as epoch-nanos
  * longs) to `TIMESTAMP_NTZ` between rounds: 18 queries crashed on a dtype
  * nobody's plan expected ([[EventsSource]] owns that fix for `ts`). This
  * layer generalizes the defense to EVERY table: each declared column is
  * cast back to the type the query catalog was built against, so a writer
  * switching int64↔int32, float64↔float32, decimal→double, or a timestamp
  * flavor produces identical plans downstream. Unknown tables and extra
  * columns pass through untouched; casts are value-preserving under the
  * session's pinned UTC timezone.
  *
  * The conforming projection is a pure scan-level `Project` — columnar,
  * codegen'd, fused into the scan stage; predicate pushdown and column
  * pruning through it are unaffected at any scale. */
object CanonicalSchema {

  /** Canonical column types per table. Timestamp flavor matters: events.ts
    * is session-time (TimestampType) because the event-time operators run
    * `unix_micros`/watermarks on it; the TPC-H date columns stay NTZ — the
    * naive values are what the oracle compares. */
  val tables: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** Cast every declared column of `table` present in `df` back to its
    * canonical type. No-op (same plan) when the schema already conforms. */
  def conform(df: DataFrame, table: String): DataFrame =
    tables.get(table).fold(df) { want =>
      want.foldLeft(df) { case (d, (name, canonical)) =>
        d.schema.find(_.name == name) match {
          case Some(f) if f.dataType == canonical => d
          case Some(f) => d.withColumn(name, normalize(name, f.dataType, canonical))
          case None => d
        }
      }
    }

  /** Read `dir/table.parquet` conformed to the canonical schema (through
    * [[graft.io.ParquetIO.read]], so the schema is inferred once per file
    * identity). */
  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    conform(ParquetIO.read(spark, s"$dir/$table.parquet"), table)

  private def normalize(name: String, actual: DataType, canonical: DataType): Column = {
    val c = col(name)
    (actual, canonical) match {
      // integral → timestamp: a plain cast would be WRONG (cast reads longs
      // as epoch-SECONDS); the known writer encoding is TIMESTAMP(NANOS)
      // surfaced as epoch-nanos longs via
      // spark.sql.legacy.parquet.nanosAsLong — integer `div` (NOT double
      // division, which loses 1 µs on ~1.5% of post-2^53 values) to micros,
      // exactly [[EventsSource.read]]'s conversion
      case (LongType, TimestampType) =>
        timestamp_micros(expr(s"`$name` div 1000"))
      case (LongType, TimestampNTZType) =>
        timestamp_micros(expr(s"`$name` div 1000")).cast(TimestampNTZType)
      case _ => c.cast(canonical)
    }
  }
}
