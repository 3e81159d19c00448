package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Behavior, CorpusStats, LinearModel, Sampling, Similarity}
import graft.ops.QualityOps
import graft.profile.{Association, Drift, StatTests}

/** Every closed-form statistic returns the same columns, in the same
  * order and with the same Spark types, whether its input is degenerate
  * (an empty side, one group, too few rows, no variance, a failed fit)
  * or not: the degenerate row differs only in its NULL stats. */
class DegenerateSchemaSpec extends SparkSpecBase {
  import spark.implicits._

  private val values =
    Seq(3.0, 7.0, 1.0, 9.0, 4.0, 4.0, 8.0, 2.0, 6.0, 5.0, 10.0, 3.0)
  private lazy val a =
    values.zipWithIndex.map { case (v, i) => (s"a$i", v) }.toDF("id", "v")
  private lazy val b = values.zipWithIndex
    .map { case (v, i) => (s"b$i", v * 1.5 + 1) }.toDF("id", "v")
  private lazy val empty = a.filter(lit(false))
  private lazy val groups = values.zipWithIndex
    .map { case (v, i) => (s"g${i % 3}", v + i % 3) }.toDF("g", "v")
  private lazy val oneGroup = groups.filter(col("g") === "g0")
  // a gap-free integer series with a trend, a cycle and a few shocks
  private lazy val series = (0 until 24).map { t =>
    (t.toLong, (t % 7 + t / 3 + (if (t % 5 == 0) 3 else 0)).toLong,
      (t % 4 + t / 2).toLong)
  }.toDF("t", "y", "x")
  private lazy val shortSeries = series.filter(col("t") < 2)
  // two arms: 0/1 treatment, 0/1 success, pre/post outcomes, a covariate
  private lazy val arms = (0 until 40).map { i =>
    (i % 2L, if (i % 5 < 2 + i % 2) 1L else 0L, (i % 7).toLong,
      (i % 7 + i % 3 + 2 * (i % 2)).toLong, (i % 6) * 0.5)
  }.toDF("t", "y", "pre", "post", "x")
  private lazy val oneArm = arms.filter(col("t") === 1)
  // the ipwAte confounded design of LinearModelSpec
  private lazy val confounded = Seq(
    (1L, 2.0, 1L), (1L, 2.0, 1L), (1L, 2.0, 1L), (0L, 2.0, 1L),
    (1L, 0.0, 1L), (1L, 0.0, 0L), (0L, 0.0, 1L), (0L, 0.0, 0L),
    (1L, -2.0, 0L), (0L, -2.0, 0L), (0L, -2.0, 0L), (0L, -2.0, 0L))
    .toDF("t", "x", "y")
  private lazy val scored = (0 until 30).map { i =>
    (i % 2, (i % 2) * 0.3 + (i % 7) / 10.0)
  }.toDF("label", "score")
  private lazy val oneClass = scored.filter(col("label") === 0)
  // blocks × 3 treatments with a 0/1 success and a numeric value
  private lazy val blocks = (0 until 18).map { i =>
    (s"i${i / 3}", s"c${i % 3}", (i % 3).toLong,
      if ((i + i / 3) % 4 < 2) 1L else 0L, ((i * 7) % 5 + i % 3).toDouble)
  }.toDF("item", "cond", "c", "s", "v")
  private lazy val oneCond = blocks.filter(col("cond") === "c0")
  private lazy val days = (0 until 20)
    .flatMap(d => Seq.fill(d % 5 + d / 4 + 1)(d.toLong)).toDF("d")
    .select(timestamp_seconds(col("d") * 86400L).as("ts"))
  private lazy val oneDay = days.limit(1)

  private def twoSample(f: (DataFrame, DataFrame) => DataFrame) =
    (() => f(a, b), () => f(a, empty))

  private lazy val cases: Seq[(String, () => DataFrame, () => DataFrame)] =
    Seq(
      "welchTTest" -> twoSample(StatTests.welchTTest(_, _, "v")),
      "effectSizes" -> twoSample(StatTests.effectSizes(_, _, "v")),
      "mannWhitneyU" -> twoSample(StatTests.mannWhitneyU(_, _, "v")),
      "cliffsDelta" -> twoSample(StatTests.cliffsDelta(_, _, "v")),
      "hodgesLehmann" -> twoSample(StatTests.hodgesLehmann(_, _, "v")),
      "yuenTrimmedTest" -> twoSample(StatTests.yuenTrimmedTest(_, _, "v")),
      "permutationTestMeanDiff" -> twoSample(
        StatTests.permutationTestMeanDiff(_, _, "id", "v", nPerms = 20)),
      "kuiperTest" -> twoSample(Drift.kuiperTest(_, _, "v")),
      "andersonDarling2" -> twoSample(Drift.andersonDarling2(_, _, "v")),
      "cramerVonMises" -> twoSample(Drift.cramerVonMises(_, _, "v")),
      "wasserstein1" -> twoSample(Drift.wasserstein1(_, _, "v")),
      "energyDistance" -> twoSample(Drift.energyDistance(_, _, "v")),
      "psiQuantile" -> (() => Drift.psiQuantile(a, b, "v", bins = 4),
        () => Drift.psiQuantile(empty, b, "v", bins = 4))
    ).map { case (n, (f, d)) => (n, f, d) } ++ Seq[(String, DataFrame => DataFrame)](
      "anovaF" -> (StatTests.anovaF(_, "g", "v")),
      "welchAnova" -> (StatTests.welchAnova(_, "g", "v")),
      "icc1" -> (StatTests.icc1(_, "g", "v")),
      "kruskalWallis" -> (StatTests.kruskalWallis(_, "g", "v")),
      "jonckheereTerpstra" -> (StatTests.jonckheereTerpstra(_, "g", "v")),
      "bartlettTest" -> (StatTests.bartlettTest(_, "g", "v")),
      "moodMedianTest" -> (StatTests.moodMedianTest(_, "g", "v"))
    ).flatMap { case (n, f) =>
      Seq((s"$n (one group)", () => f(groups), () => f(oneGroup)),
        (s"$n (empty)", () => f(groups), () => f(groups.filter(lit(false)))))
    } ++ Seq[(String, DataFrame => DataFrame, DataFrame, DataFrame)](
      ("diffInDiff", StatTests.diffInDiff(_, "t", "pre", "post"), arms, oneArm),
      ("powerTwoProportions", StatTests.powerTwoProportions(_, "t", "y"),
        arms, oneArm),
      ("newcombeDiffCI", StatTests.newcombeDiffCI(_, "t", "y"), arms, oneArm),
      ("msprtProportions", StatTests.msprtProportions(_, "t", "y"), arms,
        oneArm),
      ("eValueRR", StatTests.eValueRR(_, "t", "y"), arms, oneArm),
      ("regressionAdjustedAte",
        StatTests.regressionAdjustedAte(_, "t", "post", "x"), arms,
        arms.limit(3)),
      ("oaxacaBlinder", df => StatTests.oaxacaBlinder(
          df.withColumn("grp", when(col("t") === 1, "a").otherwise("b")),
          "grp", "a", "b", "post", "x"), arms, arms.limit(4)),
      ("demingRegression", StatTests.demingRegression(_, "pre", "post"), arms,
        arms.limit(1)),
      ("methodAgreement", StatTests.methodAgreement(_, "pre", "post"), arms,
        arms.limit(1)),
      ("jackknifeRatio", StatTests.jackknifeRatio(_, "id", "v", "w"),
        a.withColumn("w", col("v") + 1), empty.withColumn("w", col("v"))),
      ("giniConcentration", StatTests.giniConcentration(_, "v"), a, a.limit(1)),
      ("wilcoxonSignedRank", StatTests.wilcoxonSignedRank(_, "pre", "post"),
        arms, arms.select(col("pre"), col("pre").as("post"))),
      ("dagostinoK2", StatTests.dagostinoK2(_, "v"), a, a.limit(8)),
      ("jarqueBera", StatTests.jarqueBera(_, "v"), a, a.limit(1)),
      ("overdispersionTest", StatTests.overdispersionTest(_, "y"), series,
        shortSeries.limit(1)),
      ("countModelFit", StatTests.countModelFit(_, "y"), series,
        shortSeries.limit(1)),
      ("robustLocation", StatTests.robustLocation(_, "v"), a, empty),
      ("breuschPagan", StatTests.breuschPagan(_, "x", "y"), series,
        shortSeries),
      ("chiSquareGof", StatTests.chiSquareGof(_, "g",
          Seq("g0" -> 0.3, "g1" -> 0.3, "g2" -> 0.4)), groups,
        groups.filter(lit(false))),
      ("pageTrend", StatTests.pageTrend(_, "item", "c", "v"), blocks,
        blocks.filter(col("c") < 2)),
      ("ljungBox", StatTests.ljungBox(_, "t", "y"), series, shortSeries),
      ("dickeyFuller", StatTests.dickeyFuller(_, "t", "y"), series,
        shortSeries),
      ("changepointMean", StatTests.changepointMean(_, "t", "y"), series,
        shortSeries),
      ("grangerLag1", StatTests.grangerLag1(_, "t", "x", "y"), series,
        shortSeries),
      ("maseBacktest", StatTests.maseBacktest(_, "t", "y"), series,
        shortSeries),
      ("ewmaBacktest", StatTests.ewmaBacktest(_, "t", "y"), series,
        series.filter(lit(false))),
      ("hurstRS", StatTests.hurstRS(_, "t", "y", Seq(4, 6, 8)), series,
        series.filter(lit(false))),
      ("theilSenTrend", StatTests.theilSenTrend(_, "ts"), days, oneDay),
      ("mannKendall", StatTests.mannKendall(_, "ts"), days, oneDay),
      ("seasonalMannKendall", StatTests.seasonalMannKendall(_, "ts"), days,
        oneDay),
      ("breslowDay", Association.breslowDay(_, "c", "t", "y"),
        arms.withColumn("c", col("pre") % 3),
        arms.withColumn("c", lit(0L))),
      ("fisherExact", Association.fisherExact(_, "t", "y"), arms,
        arms.filter(lit(false))),
      ("friedmanTest", Association.friedmanTest(_, "item", "cond", "v"),
        blocks, oneCond),
      ("cochranQ", Association.cochranQ(_, "item", "cond", "s"), blocks,
        oneCond),
      ("gTest", Association.gTest(_, "t", "y"), arms, arms.filter(lit(false))),
      ("cronbachAlpha", Association.cronbachAlpha(_, Seq("pre", "post", "x")),
        arms, arms.limit(1)),
      ("weightedKappa", Association.weightedKappa(_, "pre", "post"), arms,
        arms.filter(lit(false))),
      ("numericMutualInfo", Association.numericMutualInfo(_, "pre", "x",
        bins = 3), arms, arms.filter(lit(false))),
      ("ipwAte", LinearModel.ipwAte(_, "t", "y", Seq("x")), confounded,
        confounded.filter(col("t") === 1)),
      ("aipwAte", LinearModel.aipwAte(_, "t", "y", "x"), confounded,
        confounded.filter(col("t") === 1)),
      ("propensityStratifiedAtt",
        LinearModel.propensityStratifiedAtt(_, "t", "y", "x", strata = 2),
        confounded, confounded.filter(col("t") === 1)),
      ("hosmerLemeshow", LinearModel.hosmerLemeshow(_, "label", "score",
        bins = 3), scored, scored.filter(lit(false))),
      ("aucRoc", LinearModel.aucRoc(_), scored, oneClass),
      ("aucDeLong", LinearModel.aucDeLong(_), scored, oneClass),
      ("labelNoiseEstimate", LinearModel.labelNoiseEstimate(_), scored,
        oneClass),
      ("conformalInterval", LinearModel.conformalInterval(_, "id", "pre",
        "post"), arms.withColumn("id", monotonically_increasing_id()),
        arms.limit(1).withColumn("id", lit(0L))),
      ("concentrationReport", CorpusStats.concentrationReport(_, "g"), groups,
        groups.filter(lit(false))),
      ("hillTailIndex", CorpusStats.hillTailIndex(_, "text", k = 2),
        Seq("the cat sat on the mat", "the dog sat", "a cat and a dog")
          .toDF("text"), Seq("the the").toDF("text")),
      ("logRankTest", Behavior.logRankTest(_, "life", "cens", "g"),
        arms.select(col("post").as("life"), (col("y") === 0).as("cens"),
          col("t").as("g")),
        arms.select(col("post").as("life"), lit(true).as("cens"),
          col("t").as("g"))),
      ("linearCka", Similarity.linearCka(_, "va", "vb"),
        arms.select(array(col("pre").cast("double"), col("x")).as("va"),
          array(col("post").cast("double")).as("vb")),
        arms.select(array().cast("array<double>").as("va"),
          array(col("x")).as("vb"))),
      ("tCloseness", QualityOps.tCloseness(_, Seq("t"), "y", 0.2), arms,
        arms.withColumn("y", lit(1L))),
      ("designEffect", Sampling.designEffect(_, "w"),
        a.withColumn("w", col("v")), empty.withColumn("w", col("v"))),
      ("weightedMeanSurvey", Sampling.weightedMeanSurvey(_, "v", "w"),
        a.withColumn("w", col("v")), empty.withColumn("w", col("v")))
    ).map { case (n, f, normal, degenerate) =>
      (n, () => f(normal), () => f(degenerate))
    }

  private def typed(df: DataFrame) =
    df.schema.fields.map(f => (f.name, f.dataType)).toSeq

  test("degenerate inputs keep each statistic's column names and types") {
    val mismatched = cases.flatMap { case (name, normal, degenerate) =>
      val (n, d) = (normal(), degenerate())
      // the two inputs must reach different branches
      assert(n.collect().toSeq != d.collect().toSeq,
        s"$name: the degenerate input gave the normal output")
      if (typed(n) == typed(d)) None
      else Some(s"$name: ${typed(n)} vs ${typed(d)}")
    }
    assert(mismatched.isEmpty, mismatched.mkString("\n"))
  }
}
