package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its Spark body, run as `run(spark, sfDir)`, and the
  * DuckDB SQL its result is hash-compared against on the same tables.
  *
  * Conventions shared by query and oracle (the driver hash-compares values
  * after sorting columns by name):
  *  - every computed column aliased identically on both sides;
  *  - deterministic ORDER BY on both sides;
  *  - multi-row double aggregates rounded (2–4 dp) on both sides — the
  *    underlying float error is ~1e-12 relative, far below the rounding
  *    grain, so both engines land on the same rounded value. The rounding
  *    and its signed-zero fold are written once, in [[Support.rounded]]
  *    (Spark) and as `round(x, k) + 0.0` (oracle); the A–S normal p-value
  *    and the Wald table are [[Support.normalPValue]] and the SQL
  *    fragments beside it ([[Support.asT]], [[Support.asPoly]],
  *    [[Support.waldCtes]]);
  *  - timestamps exported as formatted strings (engine-native binary
  *    encodings differ);
  *  - DuckDB integer SUMs cast back to BIGINT (DuckDB widens to HUGEINT).
  */
final case class Case(name: String, run: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Case {

  /** The cases keyed by name. A name declared twice fails here, naming
    * it: a map built from the concatenation would silently keep only the
    * last of the two. */
  def byName(cases: Seq[Case]): Map[String, Case] = {
    val dups = cases.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty,
      s"catalog query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    cases.map(c => c.name -> c).toMap
  }
}
