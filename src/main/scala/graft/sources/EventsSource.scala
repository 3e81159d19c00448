package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.io.ParquetIO

/** Reader for event tables, normalizing the `ts` column to TimestampType
  * regardless of how the parquet writer encoded it. Three encodings occur in
  * the wild:
  *
  *  - `TIMESTAMP(NANOS)`: Spark 4.x rejects these outright
  *    (PARQUET_TYPE_ILLEGAL) unless `spark.sql.legacy.parquet.nanosAsLong=true`
  *    (set it in the session builder), which surfaces them as epoch-nanos
  *    longs — converted here with integer division to microseconds.
  *  - `TIMESTAMP(MICROS, isAdjustedToUTC=false)` (TIMESTAMP_NTZ): the
  *    pandas/pyarrow default. Cast to TimestampType — value-preserving under
  *    the session's pinned UTC timezone (both Verify and Bench set
  *    `spark.sql.session.timeZone=UTC`).
  *  - `TIMESTAMP(MICROS, isAdjustedToUTC=true)` (TIMESTAMP_LTZ): already
  *    Spark-native; passes through.
  */
object EventsSource {

  val NanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Read an events table with `ts` normalized to TimestampType (microsecond
    * precision — Spark's native resolution) under any of the three parquet
    * timestamp encodings. */
  def read(spark: SparkSession, path: String, tsCol: String = "ts"): DataFrame = {
    val df = ParquetIO.read(spark, path)
    df.schema.find(_.name == tsCol) match {
      case Some(f) if f.dataType == LongType =>
        // integer `div`, NOT `/`: double division loses 1 µs on ~1.5% of
        // post-2^53 epoch-nanos values before the cast truncates
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case Some(f) if f.dataType == TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }
  }

  /** Write a hive-layout date-partitioned copy of an events table
    * (`outDir/event_date=YYYY-MM-DD/...`). At 100 TB this is the layout
    * that turns a one-day query into a one-partition scan: Catalyst
    * resolves `event_date = X` against directory names alone
    * (PartitionFilters), so non-matching days are never opened. The
    * date column is derived in the session timezone (pinned UTC). */
  def writeDatePartitioned(spark: SparkSession, path: String, outDir: String,
      tsCol: String = "ts"): Unit =
    read(spark, path, tsCol)
      .withColumn("event_date", to_date(col(tsCol)))
      .write.mode("overwrite").partitionBy("event_date").parquet(outDir)

  /** Read a [[writeDatePartitioned]] layout with `ts` normalized. */
  def readPartitioned(spark: SparkSession, dir: String,
      tsCol: String = "ts"): DataFrame = {
    val df = spark.read.parquet(dir)
    if (df.schema.exists(f => f.name == tsCol && f.dataType == TimestampNTZType))
      df.withColumn(tsCol, col(tsCol).cast(TimestampType))
    else df
  }
}
