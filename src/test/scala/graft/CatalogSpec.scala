package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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

  test("the oracle SQL is byte-identical to its pinned digest") {
    // SHA-256 over the name-sorted (name, oracle SQL) pairs, each field
    // ended by a NUL. A change that should only rewrite how the catalog is
    // written must not move an oracle string; one that means to change an
    // oracle updates this digest and says why
    val nul = 0.toChar
    val md = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(s"$name$nul$sql$nul".getBytes(StandardCharsets.UTF_8))
    }
    val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(digest == "9aea7305c0135e8b6e04df5baecc277326eda003f6ad7a9ba54a2c6023d6f5d6")
  }

  test("rounded output columns and the A–S p-value are written only in Support") {
    val catalog = catalogSources
    val handRounded = catalog.keySet.filter(f =>
      f != "Support.scala" && catalog(f).contains("+ lit(0.0)).as("))
    assert(handRounded.isEmpty, s"rounded columns written by hand: $handRounded")
    // files allowed a line with the A–S constant, with how many: Support
    // writes it once per engine; q311's oracle computes t from the LM
    // statistic with integer literals, which Support.asT cannot emit
    val allowed = Map("Support.scala" -> 2, "TimeSeriesTests.scala" -> 1)
    def isComment(line: String): Boolean =
      Seq("*", "//", "/*").exists(line.trim.startsWith)
    val found = catalog
      .map { case (f, text) =>
        f -> text.linesIterator.filterNot(isComment).count(_.contains("0.3275911"))
      }
      .filter(_._2 > 0)
    assert(found == allowed, s"lines with 0.3275911: $found; allowed: $allowed")
  }

  /** Every catalog source file's text, keyed by its file name. */
  private def catalogSources: Map[String, String] = {
    val root = Paths.get("src/main/scala/graft/catalog")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p))
      .toMap
  }
}
