package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** One-row broadcast parameter frames for driver-sequenced iterative
  * fits (Newton/IRLS loops).
  *
  * Why: embedding the current iterate as LITERALS regenerates the
  * whole-stage-codegen source every pass, so every Newton step pays a
  * fresh Janino compile on top of its aggregation (measured as the
  * dominant cost of the survival/GLM shelf at bench scale — q401 spent
  * 22s of which <1s was the actual arithmetic). Routing the iterate
  * through a broadcast one-row frame keeps the plan source
  * iteration-invariant: the generated code references
  * AttributeReferences whose VALUES change per pass, so Janino's cache
  * compiles each pass shape exactly once per query.
  *
  * The arithmetic is value-identical: exp/multiply/divide see the same
  * doubles whether they arrive as a literal or a column, so decimal
  * Newton replays (the DuckDB oracle contract) are unaffected.
  *
  * Scale: the build side is a LocalRelation (no job to materialize) and
  * the join is a broadcast of one row — per-row cost on the stream side
  * is the same register read the literal would have been. */
private[graft] object ParamFrame {
  /** One-row frame with columns `pfx0 .. pfxN-1` holding `vals`. */
  def oneRow(spark: SparkSession, vals: Seq[Double], pfx: String): DataFrame = {
    val schema = StructType(vals.indices.map(i =>
      StructField(s"$pfx$i", DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(vals)), schema)
  }

  /** `df` with the parameter row attached to every row (broadcast). */
  def attach(df: DataFrame, vals: Seq[Double], pfx: String): DataFrame =
    df.crossJoin(broadcast(oneRow(df.sparkSession, vals, pfx)))

  def p(pfx: String, i: Int): Column = col(s"$pfx$i")

  /** Run a driver-sequenced fit loop with AQE OFF, restoring the setting
    * after. Every Newton/IRLS pass is a tiny global aggregate over the
    * compacted base whose final stage is SinglePartition REGARDLESS of
    * adaptive planning — AQE buys nothing on that shape, but charges 1-2
    * extra sequential stage-materialization jobs (driver round-trips) per
    * pass, a real slice of the measured ~125 ms/pass floor once codegen
    * and task counts were fixed. Plans and arithmetic are value-identical
    * with AQE off for these global aggregates. Scoped per loop: queries
    * outside the fit keep adaptive execution. Two callers: the Newton-fit
    * base bracket (`graft.operators.NewtonFit.withBase`) and
    * [[graft.operators.LinearModel.logregTrainHashed]]. */
  def withFixedPlan[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Scale-adaptive task-count compaction for a PERSISTED iteration base
    * whose row count is already on the driver (every Newton/IRLS fit
    * counts its base before looping).
    *
    * Why: the cached base inherits the session's shuffle partitioning
    * (AQE cannot re-partition a cached plan under the default
    * `canChangeCachedPlanOutputPartitioning=false`), so a 1,500-row fit
    * base is cached as 32 near-empty blocks and EVERY Newton pass
    * launches 32 partial-aggregation tasks whose fixed cost dwarfs the
    * arithmetic — measured ~35 passes × 33 tasks for q401 at sf0.1.
    * `coalesce` to ceil(rows / rowsPerTask) narrows each pass to as many
    * tasks as the data warrants (derived from the measured row count,
    * not from the core count — a 10⁹-row base at 100 TB keeps full
    * parallelism) without re-persisting: the narrow dependency reads the
    * same cached blocks. Aggregation-only consumers lose nothing from
    * the reduced parallelism by construction (rowsPerTask of per-row
    * kernel work is far below one task's scheduling quantum). */
  def compactForIteration(df: DataFrame, rows: Long,
      rowsPerTask: Long = 262144L): DataFrame = {
    if (rows <= 0) df
    else {
      val current = df.rdd.getNumPartitions
      val target = math.min(current.toLong,
        (rows + rowsPerTask - 1) / rowsPerTask).toInt
      if (target < current) df.coalesce(math.max(1, target)) else df
    }
  }
}
