package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every run main and the test base start
  * from, plus the helpers the run harnesses share. */
object GraftSession {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, parquet nanosecond timestamps read as longs, no UI, and WARN
    * logging. Returns the existing session if one is already running. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Releases every cached block between queries. clearCache drops
    * CacheManager entries (the materialize=false LSH bases); the
    * getPersistentRDDs sweep additionally releases checkpoint blocks
    * (materialize=true results, graph-op labels) that live on the RDDs,
    * not in the CacheManager. */
  def dropAllBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Whether query `name` is selected by one of `args`: the full name, or
    * its numeric prefix ("q142" selects "q142_fuzzy_join"). */
  def selects(args: Iterable[String], name: String): Boolean =
    args.exists(a => name == a || name.startsWith(a + "_"))
}
