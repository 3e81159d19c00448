package graft

import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup}

class ComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  test("pageRank: star center outranks leaves; isolated node holds base rank") {
    // star: 0 connected to 1..4; node 9 isolated; N = 6
    val vertices = (0L to 4L).toSeq.:+(9L).toDF("id")
    val edges = (1L to 4L).map(i => (0L, i)).toDF("id_a", "id_b")
    val r = Components.pageRank(vertices, edges, iterations = 2)
      .as[(Long, Double)].collect().toMap
    val base = 0.15 / 6
    assert(math.abs(r(9L) - base) < 1e-6, s"isolated node must hold base rank: ${r(9L)}")
    assert((1L to 4L).forall(i => r(0L) > r(i)), s"star center must outrank leaves: $r")
    assert((1L to 4L).map(r).distinct.size == 1, "leaves are symmetric")
    // hand-check the center after iteration 1 feeding iteration 2:
    // r1(leaf) = base + 0.85*(r0(0)/4); r1(0) = base + 0.85*sum(r0(i)/1)
    val n = 6.0; val r0 = 1.0 / n
    val r1leaf = BigDecimal(base + 0.85 * (r0 / 4)).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r2center = base + 0.85 * (4 * (r1leaf / 1.0))
    assert(math.abs(r(0L) - r2center) < 1e-6, s"${r(0L)} vs $r2center")
  }

  test("triangleStats: K4 fully clustered, wedge has none, isolated zeroed") {
    // K4 on 0..3 (every vertex: deg 3, 3 triangles, coeff 1.0),
    // wedge 10-11-12 (center 11: deg 2, 0 triangles, coeff 0), isolated 20
    val vertices = (Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 20L)).toDF("id")
    val k4 = for { i <- 0 until 4; j <- (i + 1) until 4 } yield (i.toLong, j.toLong)
    val edges = (k4 ++ Seq((10L, 11L), (11L, 12L))).toDF("id_a", "id_b")
    val out = Components.triangleStats(vertices, edges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    (0L to 3L).foreach(i => assert(out(i) == ((3L, 3L, 1.0)), s"K4 vertex $i: ${out(i)}"))
    assert(out(11L) == ((2L, 0L, 0.0)), s"wedge center: ${out(11L)}")
    assert(out(10L) == ((1L, 0L, 0.0)) && out(12L) == ((1L, 0L, 0.0)))
    assert(out(20L) == ((0L, 0L, 0.0)), s"isolated: ${out(20L)}")
    // duplicate + reversed edges collapse to the same canonical set
    val noisy = edges.unionByName(Seq((1L, 0L), (0L, 1L)).toDF("id_a", "id_b"))
    val again = Components.triangleStats(vertices, noisy)
      .filter($"id" === 0L).collect().head
    assert((again.getLong(1), again.getLong(2)) == ((3L, 3L)))
  }

  test("chain, triangle and singleton resolve to min-id components") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, singleton 20
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("id_a", "id_b")
    val out = Components.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(out(_) == 10L))
    assert(out(20L) == 20L)
    assert(out.size == 8)
  }

  test("long chain converges within the diameter bound; tight bound throws") {
    val n = 12
    val vertices = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Components.connectedComponents(vertices, edges, maxIter = 15)
      .as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L))
    intercept[IllegalStateException] {
      Components.connectedComponents(vertices, edges, maxIter = 2).count()
    }
  }

  test("per round: one checkpoint + one probe job, prior checkpoints released") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.addSparkListener(listener)
    // AQE splits every shuffling query into per-stage jobs, which makes
    // job counts non-deterministic — disable it here so the contract is
    // crisp: one checkpoint job + one cached-probe job per round
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // chain 1-2-3-4-5: min-label needs 4 propagation rounds + 1 confirm
      val vertices = (1L to 5L).toDF("id")
      val edges = (1L until 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val out = Components.connectedComponents(vertices, edges, maxIter = 10)
      assert(out.as[(Long, Long)].collect().forall(_._2 == 1L))
      // listener events are async; small drain window before counting
      Thread.sleep(500)
      // 5 rounds × (checkpoint + broadcast builds + isEmpty probe) +
      // initial checkpoint + final collect ≈ 21 measured. A regression
      // tripwire, not an exact contract (broadcast exchanges count as
      // jobs): the old per-round old-vs-new join+count sat well above it
      assert(jobs.get() <= 25, s"too many jobs per round: ${jobs.get()}")
      // every intermediate round's checkpoint blocks are released: at most
      // the FINAL labels checkpoint outlives the call
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.size <= 1, s"leaked cached RDDs: $leaked")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("non-convergence throw still releases the edge/vertex caches") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val vertices = (1L to 12L).toDF("id")
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Components.connectedComponents(vertices, edges, maxIter = 2)
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    // sym/touched released on the throw path; only checkpoint labels from
    // the aborted run may remain (final + at most the in-flight round)
    assert(after.size <= 2, s"leaked caches on throw: $after")
  }

  test("durable mode: checkpoint files written and results unchanged") {
    // the durability rule: a lineage cut is a reliable checkpoint exactly
    // when the SparkContext has a checkpoint directory. Each operator
    // below cuts lineage; run it without, then with, the directory
    import graft.operators.{Behavior, GraphFeatures}
    import graft.profile.{Association, StatTests}
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (10L, 11L),
      (11L, 12L), (10L, 12L)).toDF("id_a", "id_b")
    val durations = Seq((1L, false, "A"), (2L, true, "A"), (3L, false, "A"),
      (5L, false, "A"), (2L, false, "B"), (3L, true, "B"), (4L, false, "B"),
      (6L, false, "B")).toDF("dur", "cens", "g")
    val fit = (for (x <- Seq(-1.0, 0.0, 1.0); i <- 1 to 10) yield {
      val u = (i - 0.5) / 10.0
      (math.max(1L, math.round(math.exp(3.0 + 0.5 * x +
        0.5 * math.log(-math.log(1.0 - u))))), i % 4 == 0, x)
    }).toDF("dur", "cens", "x")
    val labels = (1 to 40).map(i => (i % 3, (i * 7) % 5 % 3, i.toDouble,
      (i * i % 11).toDouble)).toDF("a", "b", "x", "y")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "completely different content about spark query engines and columnar formats"))
      .toDF("doc_id", "text")
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (() => Components.pageRank(vertices, edges)),
      "connectedComponents" -> (() =>
        Components.connectedComponents(vertices, edges)),
      "kCore" -> (() => GraphFeatures.kCore(edges, "id_a", "id_b", k = 2)),
      "kmCurve" -> (() => Behavior.kmCurve(durations, "dur", "cens")),
      "logRankTest" -> (() =>
        Behavior.logRankTest(durations, "dur", "cens", "g")),
      "rmst" -> (() => Behavior.rmst(durations, "dur", "cens", "g", tau = 5L)),
      "weibullAft" -> (() =>
        Behavior.weibullAft(fit, "dur", "cens", Seq("x"), iterations = 5)),
      "cohenKappa" -> (() => Association.cohenKappa(labels, "a", "b")),
      "numericMutualInfo" -> (() =>
        Association.numericMutualInfo(labels, "x", "y", bins = 3)),
      "hodgesLehmann" -> (() => StatTests.hodgesLehmann(
        labels.filter($"a" === 0), labels.filter($"a" =!= 0), "y")),
      "minhashLsh materialize" -> (() => Dedup.minhashLsh(docs, "doc_id",
        "text", threshold = 0.5, materialize = true)),
      "stableRowNumberGeneric" -> (() => graft.ops.IndexOps
        .stableRowNumberGeneric(docs, Seq("text"), "rn")))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      try df.collect().map(_.toString).toSeq.sorted
      finally graft.ops.ScaleOps.releaseCheckpointBlocks(df)
    val local = ops.map { case (name, op) => name -> rows(op()) }.toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toFile
    def rddDirs(f: java.io.File): Int =
      if (!f.isDirectory) 0
      else f.listFiles.map(c => rddDirs(c) + (if (c.getName.startsWith("rdd-")) 1 else 0)).sum
    // stages that read a reliable checkpoint: the release deletes its
    // files, so the directory cannot show afterwards that one was made
    val reliableReads = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "ReliableCheckpointRDD"))
          reliableReads.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val rddsBefore = rddDirs(dir)
      for ((name, op) <- ops) {
        val before = reliableReads.get()
        assert(rows(op()) == local(name), s"$name: durable mode changed results")
        org.apache.spark.ListenerBusHatch.drain(spark.sparkContext)
        assert(reliableReads.get() > before, s"$name read no durable checkpoint")
      }
      // a released durable cut takes its checkpoint directory with it
      assert(rddDirs(dir) <= rddsBefore, s"checkpoint directories left: ${rddDirs(dir)}")
    } finally {
      // local mode: a null directory resets the context to no directory,
      // so later suites cut locally again
      spark.sparkContext.setCheckpointDir(null)
      spark.sparkContext.removeSparkListener(listener)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(dir)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("nearDupClusters collapses the transitive near-dup chain") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (4L, "completely different content about spark query engines and columnar formats"))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L) // one cluster
    assert(out(4L) == 4L) // untouched doc is its own component
  }

  test("coOccurrencePairs: hand AA/jaccard, minCommon, hub cap semantics") {
    import graft.operators.GraphFeatures
    // src 1 -> {x,y,z}, 2 -> {x,y}, 3 -> {y}; deg(x)=2, deg(y)=3, deg(z)=1
    val edges = Seq((1L, "x"), (1L, "y"), (1L, "z"), (2L, "x"), (2L, "y"),
      (3L, "y"), (3L, "y")).toDF("s", "nb") // duplicate edge collapses
    val all = GraphFeatures.coOccurrencePairs(edges, "s", "nb", minCommon = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(all.size == 3)
    val p12 = all((1L, 2L))
    assert(p12.getLong(2) == 2L)
    assert(math.abs(p12.getAs[Double]("adamic_adar") -
      (1 / math.log(2) + 1 / math.log(3))) < 1e-12)
    assert(math.abs(p12.getAs[Double]("jaccard") - 2.0 / 3.0) < 1e-12)
    assert(all((1L, 3L)).getLong(2) == 1L && all((2L, 3L)).getLong(2) == 1L)
    // minCommon = 2 keeps only (1,2)
    assert(GraphFeatures.coOccurrencePairs(edges, "s", "nb", minCommon = 2)
      .count() == 1L)
    // maxDegree = 2 drops hub y: (1,2) survives via x alone; jaccard
    // keeps FULL degrees in the denominator
    val capped = GraphFeatures.coOccurrencePairs(edges, "s", "nb",
      minCommon = 1, maxDegree = Some(2L)).collect()
    assert(capped.length == 1)
    val c12 = capped.head
    assert(c12.getLong(2) == 1L)
    assert(math.abs(c12.getAs[Double]("adamic_adar") - 1 / math.log(2)) < 1e-12)
    assert(math.abs(c12.getAs[Double]("jaccard") - 1.0 / 4.0) < 1e-12)
  }

  test("degreeAssortativity: star = -1, path = -0.5, regular = NULL") {
    import graft.operators.GraphFeatures
    // undirected star K_{1,4}: perfect hub-to-leaf wiring
    val star = (2L to 5L).map(l => (1L, l)).toDF("u", "v")
    val rs = GraphFeatures.degreeAssortativity(star, "u", "v",
      directed = false).collect().head
    assert(rs.getLong(0) == 8L, "symmetrized edge count")
    assert(math.abs(rs.getAs[Double]("assortativity") + 1.0) < 1e-12)
    // path 1-2-3-4: the textbook -0.5
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val rp = GraphFeatures.degreeAssortativity(path, "u", "v",
      directed = false).collect().head
    assert(math.abs(rp.getAs[Double]("assortativity") + 0.5) < 1e-12)
    // 4-cycle: every degree 2 -> zero variance -> NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    assert(GraphFeatures.degreeAssortativity(cyc, "u", "v", directed = false)
      .collect().head.isNullAt(3))
    // directed star: constant out-degree -> NULL as well
    assert(GraphFeatures.degreeAssortativity(star, "u", "v", directed = true)
      .collect().head.isNullAt(3))
  }

  test("kCore: cascade peeling, fixpoint, empty core, guards") {
    import graft.operators.GraphFeatures
    // K4 clique (every degree 3) + a tail hanging off it: the tail is
    // 1-degree, peels first, and the clique survives as the 2-core AND
    // 3-core intact
    val k4 = for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (s"c$a", s"c$b")
    val tail = Seq(("c1", "t1"), ("t1", "t2"), ("t2", "t3"))
    val g = (k4 ++ tail).toDF("u", "v")
    val core3 = GraphFeatures.kCore(g, "u", "v", k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core3.keySet == Set("c1", "c2", "c3", "c4"), s"$core3")
    assert(core3.values.forall(_ == 3L))
    // the 2-core also drops the whole tail (t3 deg 1 -> t2 -> t1
    // cascades), proving multi-round peeling
    val core2 = GraphFeatures.kCore(g, "u", "v", k = 2)
      .collect().map(_.getString(0)).toSet
    assert(core2 == Set("c1", "c2", "c3", "c4"))
    // k above the max degree: empty core, empty output
    assert(GraphFeatures.kCore(g, "u", "v", k = 5).collect().isEmpty)
    // duplicate and reversed edges collapse; self-loops drop
    val dup = (k4 ++ k4.map(_.swap) ++ Seq(("c1", "c1"))).toDF("u", "v")
    val cd = GraphFeatures.kCore(dup, "u", "v", k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cd.keySet.size == 4 && cd.values.forall(_ == 3L))
    // a chain needs maxIters rounds to peel end-to-end: starving the
    // budget must throw, not return a partial core
    val chain = (1 to 12).sliding(2).map(p => (s"n${p.head}", s"n${p(1)}"))
      .toSeq.toDF("u", "v")
    val e = intercept[IllegalArgumentException] {
      GraphFeatures.kCore(chain, "u", "v", k = 2, maxIters = 3).collect()
    }
    assert(e.getMessage.contains("fixpoint"))
  }
}
