package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Case

/** The catalog's shape: every query is declared once, beside its oracle. */
class CatalogSpec extends AnyFunSuite {

  test("the catalog holds 403 distinct query names") {
    val names = SparkEntry.cases.map(_.name)
    assert(names.size == 403)
    assert(names.distinct.size == 403)
    assert(SparkEntry.queries.size == 403)
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("no oracle is blank") {
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }

  test("a name declared twice fails the derivation and is reported") {
    val run: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val cases = Seq(Case("qa", run, "SELECT 1"), Case("qb", run, "SELECT 2"),
      Case("qa", run, "SELECT 3"))
    val e = intercept[IllegalArgumentException](Case.byName(cases))
    assert(e.getMessage.contains("qa"))
    assert(!e.getMessage.contains("qb"))
    assert(Case.byName(cases.take(2)).keySet == Set("qa", "qb"))
  }
}
