package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{CompareOps, IndexOps}
import graft.operators.Dedup
import graft.sources.EventsSource

/** Regressions for review findings: nanos precision, null-safe comparisons,
  * pigeonhole contract, empty-set banding. */
class RegressionSpec extends SparkSpecBase {
  import spark.implicits._

  test("events nanos→micros conversion is exact (no double-division drift)") {
    // exact-microsecond epoch-nanos above 2^53, where double division loses 1µs
    val dir = tmpDir("nanos") + "/events"
    Seq(1722470400000123000L, 1722470400000124000L, 1704067200999999000L)
      .toDF("ts").write.parquet(dir)
    val got = EventsSource.read(spark, dir)
      .select(unix_micros(col("ts"))).as[Long].collect().sorted
    assert(got.toSeq == Seq(1704067200999999L, 1722470400000123L, 1722470400000124L))
  }

  test("EventsSource normalizes all three parquet timestamp encodings identically") {
    // The driver's events table has shipped as TIMESTAMP(NANOS) (read as
    // epoch-nanos long under nanosAsLong), then TIMESTAMP_NTZ (pandas/pyarrow
    // default), and plain TIMESTAMP_LTZ is the third encoding in the wild.
    // All three must come back as the same TimestampType values.
    val micros = Seq(1722470400000123L, 1704067200999999L, 1690000000000001L)
    val base = tmpDir("ts-encodings")

    // long-nanos: what spark.sql.legacy.parquet.nanosAsLong surfaces
    micros.map(_ * 1000L).toDF("ts").write.parquet(s"$base/nanos")
    // TIMESTAMP_NTZ (isAdjustedToUTC=false)
    micros.toDF("us").select(timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$base/ntz")
    // TIMESTAMP_LTZ (Spark-native TimestampType)
    micros.toDF("us").select(timestamp_micros(col("us")).as("ts"))
      .write.parquet(s"$base/ltz")

    val got = Seq("nanos", "ntz", "ltz").map { enc =>
      val df = EventsSource.read(spark, s"$base/$enc")
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"$enc must normalize to TimestampType")
      df.select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq
    }
    assert(got.distinct.size == 1, s"encodings disagree: $got")
    assert(got.head == micros.sorted)
  }

  test("CanonicalSchema conforms re-encoded columns back to catalog types") {
    import org.apache.spark.sql.types._
    val base = tmpDir("canon")
    // lineitem re-encoded: int32 key, float32 quantity, LTZ shipdate
    Seq((1, 2.5f, 1722470400000123L), (2, 3.0f, 1704067200999999L))
      .toDF("l_orderkey", "l_quantity", "us")
      .select(col("l_orderkey"), col("l_quantity"),
        timestamp_micros(col("us")).as("l_shipdate"))
      .write.parquet(s"$base/lineitem")
    val li = sources.CanonicalSchema.conform(
      spark.read.parquet(s"$base/lineitem"), "lineitem")
    assert(li.schema("l_orderkey").dataType == LongType)
    assert(li.schema("l_quantity").dataType == DoubleType)
    assert(li.schema("l_shipdate").dataType == TimestampNTZType)
    assert(li.select(sum("l_quantity")).as[Double].head == 5.5)

    // events re-encoded: epoch-nanos long ts (the legacy nanosAsLong shape)
    Seq((1L, 1722470400000123L * 1000L)).toDF("event_id", "ts")
      .write.parquet(s"$base/events")
    val ev = sources.CanonicalSchema.conform(
      spark.read.parquet(s"$base/events"), "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(unix_micros(col("ts"))).as[Long].head == 1722470400000123L)

    // embeddings re-encoded: float64 array
    Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
      .write.parquet(s"$base/embeddings")
    val em = sources.CanonicalSchema.conform(
      spark.read.parquet(s"$base/embeddings"), "embeddings")
    assert(em.schema("embedding").dataType == ArrayType(FloatType))
    assert(em.select(col("embedding")).as[Seq[Float]].head == Seq(1.0f, 2.0f))

    // already-canonical frames keep their exact plan (no-op)
    val docs = Seq((1L, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(sources.CanonicalSchema.conform(docs, "documents") eq docs)
  }

  test("alignment validation treats equal NULL keys as aligned") {
    val a = Seq[(Option[Int], String)]((Some(1), "x"), (None, "y")).toDF("k", "v")
    val b = Seq[(Option[Int], Double)]((Some(1), 1.0), (None, 2.0)).toDF("k", "w")
    IndexOps.validateIndexAlignment(Seq(a, b), Seq("k")) // must not throw
    val c = Seq[(Option[Int], Double)]((Some(1), 1.0)).toDF("k", "w")
    assertThrows[IllegalArgumentException](
      IndexOps.validateIndexAlignment(Seq(a, c), Seq("k")))
  }

  test("diffCounts matches identical rows containing NULLs") {
    val a = Seq[(Option[Int], String)]((None, "x"), (Some(1), "y")).toDF("k", "v")
    val r = CompareOps.diffCounts(a, a).head()
    assert(r.getLong(0) == 0 && r.getLong(1) == 0 && r.getLong(2) == 2)
  }

  test("simhashPairs rejects maxHamming >= numChunks") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 4, numChunks = 4))
  }

  test("minhashLsh does not pair up shingle-less short docs") {
    val docs = Seq(
      (1L, "hi"), (2L, "yo"), (3L, "ok"), // all shorter than shingleSize
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 16, numBands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L))) // short docs generate no candidates at all
  }

  test("sign bits kernel raises a clear error on dim mismatch") {
    val df = Seq(Seq(1.0f, 2.0f)).toDF("v")
    val ex = intercept[Exception](
      df.select(graft.functions.kernels.VectorKernelFunctions.signBits($"v", 8, 4))
        .collect())
    assert(ex.getMessage != null)
  }

  test("repartitionForMedia survives empty input and uses ceil") {
    val empty = Seq.empty[(Long, Array[Byte])].toDF("id", "b")
    assert(graft.operators.Multimodal.repartitionForMedia(empty, "b").count() == 0)
    assertThrows[IllegalArgumentException](
      graft.operators.Multimodal.sampleFrames(empty, "b", 0))
  }

  test("resample buckets are step-aligned (DSL / on longs is TRUE division)") {
    // 10:10 must floor to 10:00, never land at a fractional bucket — the
    // round-4 bug: unix_micros/step*step through double true-division
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(("a", t("2024-01-01 10:10:17"), 1.0)).toDF("k", "ts", "v")
    val b = graft.operators.Temporal.resample(ev, Seq("k"), "ts", "v")
      .collect().head.getTimestamp(1)
    assert(b.toString == "2024-01-01 10:00:00.0")
  }

  test("footer row-group min bounds canonicalize IEEE -0.0") {
    // parquet writers widen a 0.0 min to -0.0 per spec; the report must
    // emit canonical 0.0 (cross-engine formatters disagree on "-0")
    import spark.implicits._
    val dir = tmpDir("negzero")
    Seq(0.0, 1.0, 2.5).toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
    val row = graft.io.ParquetIO.rowGroupStats(spark, s"$dir/t", Seq("v"))
      .collect().head
    assert(java.lang.Double.doubleToRawLongBits(row.getDouble(3)) == 0L,
      "min must be +0.0, not -0.0")
  }

  test("dedup catalog queries leave zero cached blocks after release") {
    // the r6 cache-lifecycle footgun, closed WITHOUT the r7 eager-
    // checkpoint tax: single-consumer catalog queries run LAZY (their
    // persisted kernel bases live in the CacheManager, released by
    // clearCache — the harness sweep), iterative graph consumers
    // (q63/q127/q180/q181) keep materialize = true and their checkpoints
    // release via the PUBLIC releaseCheckpointBlocks. Either way, after
    // releaseCheckpointBlocks + clearCache the session holds no blocks.
    val sf = "/root/testdata/sf0.001"
    // scope the assertion to blocks THIS test creates and absorb the
    // async tail: getPersistentRDDs is global (other suites in a full run
    // may hold caches legitimately) and both unpersist(blocking = false)
    // and the ContextCleaner retire entries asynchronously — asserting an
    // instantaneous global zero was a timing race (1 flake in 2 full r9
    // runs, green isolated)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (q <- Seq("q25_minhash_lsh", "q26_simhash_pairs", "q31_embedding_neardup",
                  "q63_neardup_clusters", "q70_neardup_incremental",
                  "q184_lsh_probe_stored", "q206_semdedup_stored")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.write.format("noop").mode("overwrite").save() // run to completion
      graft.ops.ScaleOps.releaseCheckpointBlocks(df)
      spark.catalog.clearCache()
      def leaked = spark.sparkContext.getPersistentRDDs.filter {
        case (id, _) => !before.contains(id)
      }
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(leaked.isEmpty,
        s"$q leaked ${leaked.size} cached RDD(s): ${leaked.values.map(_.name).mkString(", ")}")
    }
  }

  test("releaseCheckpointBlocks frees a lazy LSH kernel base without clearCache") {
    // lazy-mode dedup (materialize = false, the default) persists a kernel
    // base the caller holds no handle to; after the registry-scoped sweep
    // landed (r10), those bases must be registered or the ONLY remaining
    // lever is clearCache(), which also nukes the caller's caches
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = (1 to 80).map(i =>
      (i.toLong, if (i % 2 == 0) "the quick brown fox jumps over the dog"
                 else s"unique text number $i with words ${i * 31}"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minhashLsh(docs, "doc_id", "text")
    pairs.write.format("noop").mode("overwrite").save()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "expected the LSH kernel base to be cached")
    graft.ops.ScaleOps.releaseCheckpointBlocks(pairs) // NO clearCache
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty,
      "releaseCheckpointBlocks must release the registered kernel base")
  }

  test("collecting estimators release what they materialize on every exit") {
    // each estimator reads its result to the driver, so whatever it
    // persisted or cut on the way is unreachable from what it returns and
    // must be released before it returns: on the normal exit, on an
    // empty-side one and on a throw. In-memory inputs have no parquet
    // footer, so the value cumsums take their persisted path
    import graft.operators.{Behavior, CorpusStats, LinearModel}
    import graft.profile.{Association, Drift, StatTests}
    val a = Seq(1.0, 2.0, 2.0, 3.0, 5.0, 8.0, 8.0, 9.0, 11.0, 12.0).toDF("x")
    val b = Seq(2.0, 3.0, 3.0, 4.0, 6.0, 7.0, 10.0, 10.0, 13.0).toDF("x")
    val groups = Seq(("A", 1.0), ("A", 3.0), ("A", 4.0), ("B", 2.0),
      ("B", 5.0), ("B", 5.0), ("C", 4.0), ("C", 6.0), ("C", 7.0))
      .toDF("g", "v")
    val xy = (1 to 30).map(i => (i.toString, i.toDouble, (i * 7 % 11).toDouble,
      (i % 4).toLong, i % 3 == 0)).toDF("id", "x", "y", "n", "flag")
    val scored = (1 to 20).map(i => (i % 3 == 0, (i % 7) / 7.0))
      .toDF("label", "score")
    val durations = Seq((1L, false, "A", 0.5), (2L, true, "A", 1.5),
      (3L, false, "A", 0.0), (5L, false, "A", 2.0), (2L, false, "B", 1.0),
      (3L, true, "B", 0.5), (4L, false, "B", 2.5), (6L, false, "B", 1.0))
      .toDF("dur", "cens", "g", "x")
    val docs = Seq((1L, "the cat sat on the mat", true),
      (2L, "the dog sat on the log", false),
      (3L, "a cat and a dog met", true)).toDF("id", "text", "label")
    def twoSample(test: (DataFrame, DataFrame, String) => DataFrame) =
      Seq(() => test(a, b, "x"), () => test(a, b.limit(0), "x"))
    val runs = Seq[(String, Seq[() => DataFrame])](
      "cramerVonMises" -> twoSample(Drift.cramerVonMises),
      "wasserstein1" -> twoSample(Drift.wasserstein1),
      "energyDistance" -> twoSample(Drift.energyDistance),
      "kuiperTest" -> twoSample(Drift.kuiperTest),
      "andersonDarling2" -> twoSample(Drift.andersonDarling2),
      "mannWhitneyU" -> twoSample(StatTests.mannWhitneyU),
      "cliffsDelta" -> twoSample(StatTests.cliffsDelta),
      "yuenTrimmedTest" -> twoSample(StatTests.yuenTrimmedTest(_, _, _)),
      "hodgesLehmann" -> twoSample(StatTests.hodgesLehmann(_, _, _)),
      "kruskalWallis" -> Seq(() => StatTests.kruskalWallis(groups, "g", "v")),
      "dunnTest" -> Seq(() => StatTests.dunnTest(groups, "g", "v")),
      "jonckheereTerpstra" -> Seq(() =>
        StatTests.jonckheereTerpstra(groups, "g", "v")),
      "giniConcentration" -> Seq(() => StatTests.giniConcentration(xy, "n")),
      "wilcoxonSignedRank" -> Seq(() =>
        StatTests.wilcoxonSignedRank(xy, "x", "y")),
      "thresholdAtKeepRate" -> Seq(() =>
        LinearModel.thresholdAtKeepRate(scored, 0.5)),
      "aucRoc" -> Seq(() => LinearModel.aucRoc(scored)),
      "aucDeLong" -> Seq(() => LinearModel.aucDeLong(scored)),
      "conformalInterval" -> Seq(() =>
        LinearModel.conformalInterval(xy, "id", "x", "y")),
      "logregTrainHashed" -> Seq(() => LinearModel.logregTrainHashed(docs,
        "id", "text", col("label"), numBuckets = 8)),
      "poissonGlm" -> Seq(() => LinearModel.poissonGlm(xy, "n", Seq("x"))),
      "binomialGlm" -> Seq(() =>
        LinearModel.binomialGlm(xy.withColumn("f", col("flag").cast("long")),
          "f", Seq("x"))),
      "logRankTest" -> Seq(() =>
        Behavior.logRankTest(durations, "dur", "cens", "g")),
      "rmst" -> Seq(() => Behavior.rmst(durations, "dur", "cens", "g", 5L)),
      "cumulativeIncidence" -> Seq(() => Behavior.cumulativeIncidence(
        durations.withColumn("k", when(!col("cens"), col("g"))), "dur", "k",
        5L)),
      "exponentialAft" -> Seq(() =>
        Behavior.exponentialAft(durations, "dur", "cens", Seq("x"))),
      "weibullAft" -> Seq(() => Behavior.weibullAft(durations, "dur", "cens",
        Seq("x"), iterations = 3)),
      "coxPHWithGradient" -> Seq(() =>
        Behavior.coxPHWithGradient(durations, "dur", "cens", Seq("x"))),
      "numericMutualInfo" -> Seq(() =>
        Association.numericMutualInfo(xy, "x", "y", bins = 3)),
      "bpeTrain" -> Seq(() => CorpusStats.bpeTrain(docs, "text", 2)),
      "heapsLaw" -> Seq(() => CorpusStats.heapsLaw(docs, "id", "text", 3)))
    // a require that fails after something is materialized
    val throws = Seq[(String, () => DataFrame)](
      "logRankTest on 3 groups" -> (() => Behavior.logRankTest(
        durations.union(durations.withColumn("g", lit("C"))),
        "dur", "cens", "g")),
      "rmst on 40 groups" -> (() => Behavior.rmst((1 to 40).map(i =>
        (i.toLong, false, s"g$i")).toDF("dur", "cens", "g"),
        "dur", "cens", "g", 5L)),
      "thresholdAtKeepRate on an empty set" -> (() =>
        LinearModel.thresholdAtKeepRate(scored.limit(0), 0.5)),
      "hodgesLehmann over maxPairCells" -> (() =>
        StatTests.hodgesLehmann(a, b, "x", maxPairCells = 1L)))
    // every case runs; the failure lists each one that left blocks behind
    val leaks = Seq.newBuilder[String]
    def checkReleased(name: String)(run: => Unit): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run
      def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      if (leaked.nonEmpty) leaks += s"$name left ${leaked.size} cached RDD(s)"
    }
    for ((name, calls) <- runs; (call, i) <- calls.zipWithIndex)
      checkReleased(if (i == 0) name else s"$name on an empty side") {
        call().collect()
      }
    for ((name, call) <- throws)
      checkReleased(name)(intercept[IllegalArgumentException](call()))
    assert(leaks.result().isEmpty, leaks.result().mkString("; "))
  }

  test("a release inside a releasing scope leaves the scope's own pins") {
    // numericMutualInfo's shape: both cutpoint passes read one persisted
    // pair-count table; the first pass's release of its cumsum must not
    // sweep that table out from under the scope that still reads it
    import graft.ops.ScaleOps
    import org.apache.spark.storage.StorageLevel
    val pairCells = ScaleOps.persisted((1 to 60).map(i => ((i % 7).toDouble, 1L))
      .toDF("v", "c").groupBy(col("v")).agg(sum(col("c")).as("c")))
    ScaleOps.releasing(pairCells) {
      val (n, cuts) = ScaleOps.rankCutpoints(pairCells, "v", "c", n => Seq(n / 2, n))
      assert(n == 60L && cuts.nonEmpty)
      assert(pairCells.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "the cutpoint pass released the enclosing scope's pair counts")
    }
    assert(pairCells.storageLevel == StorageLevel.NONE,
      "the scope did not release its own pin on exit")
  }

  test("releaseCheckpointBlocks leaves CALLER-created caches untouched") {
    // the release must unpersist exactly the library's own internal
    // persists — sweeping every cached subplan silently dropped a user's
    // persist on the input frame (r9 ADVICE)
    val userCached = (1 to 200).map(i => (i.toLong, (i % 7).toDouble))
      .toDF("id", "score").persist()
    userCached.count() // materialize
    try {
      val perV = userCached.groupBy(col("score")).agg(count(lit(1)).as("c"))
      val out = graft.ops.ScaleOps.withExclusiveRunningSum(perV, col("score"), "c", "x")
      out.write.format("noop").mode("overwrite").save()
      graft.ops.ScaleOps.releaseCheckpointBlocks(out)
      assert(userCached.storageLevel.useMemory,
        "release swept the caller's persist on the input frame")
    } finally userCached.unpersist()
  }

  test("releaseCheckpointBlocks leaves CALLER-created checkpoints untouched") {
    // a user's localCheckpoint has its lineage CUT — unpersisting its
    // blocks would make the frame unrecomputable, so the LogicalRDD sweep
    // is scoped to library-registered checkpoint ids only
    val userFrozen = (1 to 300).map(i => (i.toLong, (i % 5).toDouble))
      .toDF("id", "score").localCheckpoint(true)
    try {
      val perV = userFrozen.groupBy(col("score")).agg(count(lit(1)).as("c"))
      val out = graft.ops.ScaleOps.withExclusiveRunningSum(perV, col("score"), "c", "x")
      out.write.format("noop").mode("overwrite").save()
      graft.ops.ScaleOps.releaseCheckpointBlocks(out)
      // the caller's frame must still be fully usable after release
      assert(userFrozen.count() == 300L)
    } finally {
      // direct RDD unpersist — the public release deliberately won't touch
      // a caller-owned checkpoint, which is exactly what this test pins
      userFrozen.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ => ()
      }
      spark.catalog.clearCache()
    }
  }

  test("cumsum block contract: persistInput=false pins nothing; default cache releases") {
    // persistInput = false (the KS footer-hint path): the bucket id is a
    // pure function of the row, so NOTHING needs pinning — and nothing is
    // assert on the DELTA of persistent RDDs: other suites sharing the
    // session may hold their own caches legitimately
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val perV = (1 to 500).map(i => (i.toDouble, 1L)).toDF("v", "c").repartition(3)
    val out = graft.ops.ScaleOps.withExclusiveRunningSum(perV, col("v"), "c", "x",
      persistInput = false)
    out.write.format("noop").mode("overwrite").save()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "persistInput=false cumsum must not pin any block")
    // correctness of the unpersisted two-phase plan: exclusive sums 0..499
    val got = out.orderBy(col("v")).select(col("x"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == (0L until 500L), "exclusive running sum must be 0..n-1")

    // default (persistInput = true, the expensive-lineage consumers): the
    // internal cache materializes; the caller holds no handle, so the
    // public release must cascade through the returned plan
    val out1 = graft.ops.ScaleOps.withExclusiveRunningSum(perV, col("v"), "c", "x")
    out1.write.format("noop").mode("overwrite").save()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "expected the internal cache to be materialized")
    graft.ops.ScaleOps.releaseCheckpointBlocks(out1)
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, "cascade release must reach the internal persist")

    // nondeterministic input (rand-valued rows): must freeze a
    // localCheckpoint regardless of persistInput — silent renumbering on
    // recompute is corruption — and the public release must reach it
    val ndPerV = spark.range(500)
      .select((rand(42) * 100).as("v"), lit(1L).as("c"))
    val out2 = graft.ops.ScaleOps.withExclusiveRunningSum(ndPerV, col("v"), "c", "x",
      persistInput = false)
    out2.write.format("noop").mode("overwrite").save()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "nondeterministic input must be frozen via localCheckpoint")
    graft.ops.ScaleOps.releaseCheckpointBlocks(out2)
    val deadline2 = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime() < deadline2) Thread.sleep(100)
    assert(leaked.isEmpty, "release must reach the internal checkpoint blocks")
  }

  test("stableRowNumber stays correct on a nondeterministic input plan") {
    // rand-valued order column: the counting and numbering jobs would see
    // different rows if the lineage re-ran — the nondeterminism guard must
    // route to the frozen-materialization path and number a CONSISTENT set
    val df = spark.range(2000).toDF("id")
      .withColumn("r", rand(123) * rand(77)) // nondeterministic expr tree
    val got = graft.ops.IndexOps.stableRowNumber(df, Seq("r", "id"), "rn")
    val nums = got.select("rn").collect().map(_.getLong(0)).sorted
    assert(nums.toSeq == (1L to 2000L), "row numbers must be a permutation of 1..n")
    graft.ops.ScaleOps.releaseCheckpointBlocks(got)
    spark.catalog.clearCache()
  }

  test("lagAutocorrelation survives constant series under ANSI mode") {
    // bare corr() throws DIVIDE_BY_ZERO on zero variance with ANSI on;
    // the guarded co-moment form must return NULL instead
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = (0 until 4).map(h => ("c", t(f"2024-01-01 $h%02d:00:00"))).toDF("k", "ts")
    val row = graft.operators.Behavior.lagAutocorrelation(ev, "k", "ts").collect().head
    assert(row.getLong(1) == 3L && row.isNullAt(2))
  }

  test("capped near-dup twins emit SUBSETS of their own uncapped nets") {
    // THE theorem the cap guarantees: with the hash/bits derivation held
    // FIXED, dropping over-cap buckets can only remove candidate pairs —
    // never add or alter one (comparing against q26/q31 instead would be
    // unsound: those run a DIFFERENT hash, and two LSH nets' verified
    // outputs are not subset-ordered in general)
    import org.apache.spark.sql.functions.{col, element_at, slice, transform, when => sqlWhen, array}
    val dir = "/root/testdata/sf0.001"
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val withSh = docs.join(catalog.DedupLinkage.md5Simhash48(docs, "doc_id", "text"),
      col("doc_id") === col("__sid")).drop("__sid")
    def simhashRun(cap: Option[Long]) = pairSet(
      graft.operators.Dedup.simhashNearDup(withSh, "doc_id", "text",
        shingleSize = 3, threshold = 0.8, numChunks = 8, maxBucket = cap,
        hashExpr = Some(col("__sh48"))))
    val (cappedJ, uncappedJ) = (simhashRun(Some(50L)), simhashRun(None))
    assert(cappedJ.subsetOf(uncappedJ),
      s"capped simhash pairs not in the uncapped net: ${cappedJ -- uncappedJ}")
    assert(cappedJ.nonEmpty, "cap must not empty the simhash pair set")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val axisBits = transform(slice(col("embedding"), 1, 32),
      x => sqlWhen(x >= 0, 1).otherwise(0))
    def embRun(cap: Option[Long]) = pairSet(
      graft.operators.Dedup.embeddingNearDup(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.4, numBits = 32, numBands = 8,
        maxBucket = cap, bitsExpr = Some(axisBits)))
    val (cappedC, uncappedC) = (embRun(Some(40L)), embRun(None))
    assert(cappedC.subsetOf(uncappedC),
      s"capped embedding pairs not in the uncapped net: ${cappedC -- uncappedC}")
    assert(cappedC.nonEmpty, "cap must not empty the embedding pair set")
    // the bits-length guard fails loudly instead of banding to bucket 0
    val short = transform(slice(col("embedding"), 1, 16),
      x => sqlWhen(x >= 0, 1).otherwise(0))
    val ex = intercept[Exception] {
      graft.operators.Dedup.embeddingNearDup(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.4, numBits = 32, numBands = 8,
        bitsExpr = Some(short)).count()
    }
    assert(ex.getMessage != null && (ex.getMessage.contains("32 bits") ||
      Option(ex.getCause).exists(_.getMessage.contains("32 bits"))),
      s"expected the bits-length raise_error, got: ${ex.getMessage}")
    spark.catalog.clearCache()
  }
}
