package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._
import graft.io.ParquetIO
import graft.ops.FilterOps

/** Driver contract: the 403-query catalog, one [[graft.catalog.Case]] per
  * implemented operator from SURVEY.md §2 (+ the training-data-pipeline
  * extensions), each beside its DuckDB oracle. The cases live in the
  * `graft.catalog` family objects; `queries` and `oracleSql` are derived
  * from them once. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    FilterOps.filter(
      ParquetIO.read(spark, "/root/testdata/sf0.001/lineitem.parquet"),
      Some("l_quantity > 30 and l_discount <= 0.05"),
      Some(Seq("l_orderkey", "l_quantity", "l_discount")))

  /** Every catalog case, family by family. */
  lazy val cases: Seq[Case] = Seq(
    ScansJoins.cases, ConcatIndex.cases, DedupLinkage.cases, Retrieval.cases,
    ProfileDrift.cases, HypothesisTests.cases, TimeSeriesTests.cases,
    Experiments.cases, AssociationTests.cases, Classifiers.cases,
    SurvivalGlm.cases, UserBehavior.cases, Streaming.cases, Media.cases,
    CorpusText.cases, CorpusCuration.cases).flatten

  private lazy val byName: Map[String, Case] = Case.byName(cases)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, c) => n -> c.run }

  /** DuckDB-runnable oracle per query (the driver runs these on the same
    * parquet tables at sf0.01). */
  lazy val oracleSql: Map[String, String] =
    byName.map { case (n, c) => n -> c.oracleSql }
}
