package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val corpus = spark.read.parquet(sf("embeddings"))

  test("brute force top-k: self is the nearest neighbor with cosine 1") {
    val queries = corpus.limit(3).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val out = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5)
    assert(out.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    val top1 = out.filter($"rank" === 1).collect()
    top1.foreach { r =>
      assert(r.getAs[Long]("query_id") == r.getAs[Long]("nbr_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
  }

  test("brute force ranks are descending in cosine") {
    val queries = corpus.limit(1).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val rows = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 10).orderBy("rank").collect()
    val sims = rows.map(_.getAs[Double]("cosine")).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("lsh top-k recalls most of the exact top-k") {
    val queries = corpus.limit(5).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 3)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", dim = 64, k = 3, numBits = 32, numBands = 16)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
    // self-match must always survive LSH (identical vector, same buckets)
    assert(approx.count { case (q, n) => q == n } == 5)
  }

  test("query side is broadcast, corpus is not shuffled") {
    val queries = corpus.limit(2).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val plan = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 2).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
  }

  test("IVF: exact when probing all lists; high recall on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 4 well-separated clusters in 8d + jitter
    val centers = Seq(
      Array(10.0, 0, 0, 0, 0, 0, 0, 0), Array(0.0, 10, 0, 0, 0, 0, 0, 0),
      Array(0.0, 0, 10, 0, 0, 0, 0, 0), Array(0.0, 0, 0, 10, 0, 0, 0, 0))
    val corpus = (0 until 400).map { i =>
      val ct = centers(i % 4)
      (i.toLong, ct.map(x => (x + rnd.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))

    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet

    // nProbe == numLists: identical result set to brute force
    val all = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, numLists = 8, nProbe = 8)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(all == exact)

    // nProbe = 2 of 8: on well-separated clusters recall stays >= 0.9
    val pruned = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, numLists = 8, nProbe = 2)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (pruned & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("IVF assignment is deterministic and covers every row") {
    import spark.implicits._
    val corpus = (0 until 100).map(i =>
      (i.toLong, Array.fill(4)((i % 10).toFloat + 1))).toDF("vec_id", "embedding")
    val cts = Similarity.trainCentroids(corpus, "embedding", numLists = 4, seed = 1L)
    val a1 = Similarity.assignToLists(corpus, "embedding", cts)
    assert(a1.count() == 100)
    assert(a1.filter($"list_id".isNull).count() == 0)
    val cts2 = Similarity.trainCentroids(corpus, "embedding", numLists = 4, seed = 1L)
    assert(cts.map(_.toSeq).toSeq == cts2.map(_.toSeq).toSeq) // same seed, same model
  }

  test("centroid training samples the whole corpus, not the first partition") {
    import spark.implicits._
    // 4 partitions, each holding ONLY one orthogonal cluster: a first-N
    // sample would see a single cluster and every centroid would collapse
    // onto it; a corpus-wide sample must produce a centroid near each axis.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 4).flatMap { p =>
      (0 until 200).map { i =>
        val v = new Array[Float](8)
        v(p) = 10.0f
        (p, (p * 200 + i).toLong, v.map(x => x + rnd.nextGaussian().toFloat * 0.2f))
      }
    }
    val corpus = rows.toDF("pid", "vec_id", "embedding")
      .repartition(4, $"pid") // co-locates each cluster in one partition
    // sampleSize 100 < one partition's 200 rows: the old limit() sample
    // never left partition 0
    val cts = Similarity.trainCentroids(corpus, "embedding", numLists = 4,
      sampleSize = 100, seed = 42L)
    (0 until 4).foreach { axis =>
      val bestCos = cts.map(c => c(axis) / math.sqrt(c.map(x => x * x).sum)).max
      assert(bestCos > 0.9, s"no centroid near axis $axis (best cosine $bestCos)")
    }
    // layout-independence: a different partitioning yields the same sample
    val cts2 = Similarity.trainCentroids(
      rows.toDF("pid", "vec_id", "embedding").repartition(13, $"vec_id"),
      "embedding", numLists = 4, sampleSize = 100, seed = 42L)
    assert(cts.map(_.toSeq).toSeq == cts2.map(_.toSeq).toSeq)
  }

  test("group centroids: element-wise means per group, dims ordered") {
    import spark.implicits._
    val vecs = Seq(
      ("a", Seq(1.0f, 2.0f, 3.0f)),
      ("a", Seq(3.0f, 4.0f, 5.0f)),
      ("b", Seq(10.0f, 0.0f, -10.0f))).toDF("label", "vec")
    val rows = graft.operators.Similarity.groupCentroids(vecs, "label", "vec")
      .orderBy("group").collect()
    assert(rows(0).getString(0) == "a" && rows(0).getAs[Long]("n_vectors") == 2L)
    assert(rows(0).getSeq[Double](2) == Seq(2.0, 3.0, 4.0))
    assert(rows(1).getString(0) == "b" && rows(1).getSeq[Double](2) == Seq(10.0, 0.0, -10.0))
  }

  test("centroid similarity matrix: unordered pairs, hand-checked cosines") {
    import spark.implicits._
    val vecs = Seq(
      ("a", Seq(1.0f, 0.0f)), ("a", Seq(1.0f, 0.0f)), // centroid (1, 0)
      ("b", Seq(0.0f, 1.0f)), // centroid (0, 1) — orthogonal to a
      ("c", Seq(2.0f, 0.0f))) // centroid (2, 0) — parallel to a
      .toDF("label", "vec")
    val rows = graft.operators.Similarity
      .centroidSimilarityMatrix(vecs, "label", "vec")
      .orderBy("group_a", "group_b").collect()
    val m = rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m.keySet == Set(("a", "b"), ("a", "c"), ("b", "c"))) // a < b pairs only
    assert(math.abs(m(("a", "b"))) < 1e-12)
    assert(math.abs(m(("a", "c")) - 1.0) < 1e-12)
    assert(math.abs(m(("b", "c"))) < 1e-12)
  }

  test("truncateEmbeddings: unit-norm prefix, cosine preserved, zero passthrough") {
    val t = Similarity.truncateEmbeddings(corpus, "embedding", dims = 8)
    // every truncated vector is unit-norm (or zero)
    val norms = t.select(
      graft.functions.VectorFunctions.norm($"trunc_vec").as("n")).as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-9 || n == 0.0))
    // renormalization never changes pairwise cosine (scale invariance):
    // cosine of truncated pairs == cosine of raw 8-dim slices
    val sliced = corpus.select($"vec_id", slice($"embedding", 1, 8).as("svec"))
    val a = t.limit(5).select($"vec_id".as("ia"), $"trunc_vec")
      .crossJoin(t.limit(5).select($"vec_id".as("ib"), $"trunc_vec".as("tb")))
      .filter($"ia" < $"ib")
      .select($"ia", $"ib",
        graft.functions.VectorFunctions.cosine($"trunc_vec", $"tb").as("c"))
    val b = sliced.limit(5).select($"vec_id".as("ia"), $"svec")
      .crossJoin(sliced.limit(5).select($"vec_id".as("ib"), $"svec".as("sb")))
      .filter($"ia" < $"ib")
      .select($"ia", $"ib",
        graft.functions.VectorFunctions.cosine($"svec", $"sb").as("c"))
    val got = a.orderBy($"ia", $"ib").select($"c").as[Double].collect()
    val exp = b.orderBy($"ia", $"ib").select($"c").as[Double].collect()
    got.zip(exp).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, s"$x vs $y") }
    // zero vector stays zero
    val z = Seq((1L, Array.fill(16)(0.0f))).toDF("vec_id", "embedding")
    val zt = Similarity.truncateEmbeddings(z, "embedding", dims = 4)
      .select($"trunc_vec").as[Seq[Double]].head
    assert(zt == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("recallAtK: identical=1, disjoint=0, dropped query reports 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L), (3L, 31L))
      .toDF("query_id", "nbr_id")
    // query 1: both hit; query 2: one hit; query 3: absent from approx
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L))
      .toDF("query_id", "nbr_id")
    val r = Similarity.recallAtK(approx, exact, k = 2)
      .orderBy($"query_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq ==
      Seq((1L, 2L, 1.0), (2L, 1L, 0.5), (3L, 0L, 0.0)))
  }

  test("kmeansLloyd: separable blobs converge to their true clusters") {
    // two tight blobs around (0,0,...) and (10,10,...); seeds one point
    // from each — one iteration must classify every point correctly
    val pts = (0 until 20).map { i =>
      val base = if (i < 10) 0.0f else 10.0f
      (i.toLong, Array.tabulate(8)(d => base + (i % 5) * 0.01f + d * 0.001f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val out = Similarity.kmeansLloyd(df, "vec_id", "embedding",
        initIds = Seq(0L, 15L), iterations = 2, dims = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 10).foreach(i => assert(out(i.toLong) == 0, s"point $i"))
    (10 until 20).foreach(i => assert(out(i.toLong) == 1, s"point $i"))
    // deterministic: same seeds, same result
    val again = Similarity.kmeansLloyd(df, "vec_id", "embedding",
        initIds = Seq(0L, 15L), iterations = 2, dims = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == out)
  }

  test("silhouetteSimplified: symmetric two-cluster geometry by hand") {
    // centroids land at (0,1) and (10,1); every point has a = 1,
    // b = sqrt(101) -> s = (sqrt(101)-1)/sqrt(101), identical by symmetry
    val df = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 0.0f)),
      (2L, Array(0.0f, 2.0f)), (3L, Array(10.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.silhouetteSimplified(df, "vec_id", "embedding",
        initIds = Seq(0L, 1L), iterations = 1, dims = 2)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getAs[Double]("mean_silhouette"),
         r.getAs[Double]("mean_dist_own"),
         r.getAs[Double]("mean_dist_other"))).toMap
    val b = math.sqrt(101.0)
    val s = (b - 1.0) / b
    Seq(0, 1).foreach { c =>
      assert(out(c)._1 == 2L)
      assert(math.abs(out(c)._2 - s) < 1e-9, s"cluster $c: ${out(c)}")
      assert(math.abs(out(c)._3 - 1.0) < 1e-9)
      assert(math.abs(out(c)._4 - b) < 1e-9)
    }
    // a single cluster has no "other" centroid — refuse
    intercept[IllegalArgumentException] {
      Similarity.silhouetteSimplified(df, "vec_id", "embedding",
        initIds = Seq(0L), iterations = 1, dims = 2)
    }
  }

  test("procrustesAlign: recovers planted rotations and reflections; guards") {
    // B = A rotated 90 degrees: R = [[0,1],[-1,0]]
    val a = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 2.0f)),
      (2L, Array(3.0f, 4.0f))).toDF("id", "va")
    val rot = Seq((0L, Array(0.0f, 1.0f)), (1L, Array(-2.0f, 0.0f)),
      (2L, Array(-4.0f, 3.0f))).toDF("id", "vb")
    val r = Similarity.procrustesAlign(a, rot, "id", "va", "vb", dims = 2)
      .collect().map(x => (x.getInt(0), x.getInt(1)) -> x.getDouble(2)).toMap
    assert(math.abs(r((0, 0))) < 1e-9 && math.abs(r((1, 1))) < 1e-9)
    assert(math.abs(r((0, 1)) - 1.0) < 1e-9)
    assert(math.abs(r((1, 0)) + 1.0) < 1e-9)
    // a reflection (det = -1) is recovered too — Schonemann's solution
    // does not constrain the determinant
    val refl = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, -2.0f)),
      (2L, Array(3.0f, -4.0f))).toDF("id", "vb")
    val r2 = Similarity.procrustesAlign(a, refl, "id", "va", "vb", dims = 2)
      .collect().map(x => (x.getInt(0), x.getInt(1)) -> x.getDouble(2)).toMap
    assert(math.abs(r2((0, 0)) - 1.0) < 1e-9)
    assert(math.abs(r2((1, 1)) + 1.0) < 1e-9)
    // rank-deficient cross-moment refuses (collapsed second dimension)
    val flat = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)),
      (2L, Array(3.0f, 0.0f))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Similarity.procrustesAlign(flat, flat, "id", "v", "v", dims = 2)
    }
    // too few matched ids refuses
    intercept[IllegalArgumentException] {
      Similarity.procrustesAlign(a.limit(1), rot, "id", "va", "vb", dims = 2)
    }
  }

  test("kmeansLloyd at dims=256 / k=64: the compiled kernel lifts the codegen cap") {
    // the pre-kernel unrolled assignment generated O(k·dims) expression
    // terms and fell over janino limits past dims ≈ 64; the kernel must
    // handle production embedding widths. 64 well-separated blob centers
    // in 256 dims, 4 points each; one iteration classifies every point.
    val pts = (0 until 256).map { i =>
      val blob = i / 4
      (i.toLong, Array.tabulate(256)(d =>
        (if (d == blob) 100.0f else 0.0f) + (i % 4) * 0.01f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val seeds = (0 until 64).map(b => (b * 4).toLong)
    val out = Similarity.kmeansLloyd(df, "vec_id", "embedding",
        initIds = seeds, iterations = 1, dims = 256)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.size == 256)
    (0 until 256).foreach(i => assert(out(i.toLong) == i / 4,
      s"point $i assigned ${out(i.toLong)}, expected ${i / 4}"))
  }

  test("centroid outliers: inverted vector flagged, cohesive ones kept") {
    import spark.implicits._
    val vecs = Seq(
      (1L, "x", Seq(1.0f, 0.0f)),
      (2L, "x", Seq(0.9f, 0.1f)),
      (3L, "x", Seq(-1.0f, 0.0f)), // opposes its group's centroid
      (4L, "y", Seq(0.0f, 1.0f))) // singleton group: cosine 1 to itself
      .toDF("vec_id", "label", "vec")
    val rows = graft.operators.Similarity
      .centroidOutliers(vecs, "vec_id", "label", "vec", threshold = 0.5)
      .orderBy("vec_id").collect()
    val byId = rows.map(r => r.getLong(0) ->
      (r.getAs[Double]("cosine"), r.getAs[Boolean]("is_outlier"))).toMap
    assert(!byId(1L)._2 && !byId(2L)._2 && !byId(4L)._2)
    assert(byId(3L)._2, s"inverted vector not flagged: ${byId(3L)}")
    assert(byId(3L)._1 < 0.0)
    assert(byId(4L)._1 == 1.0) // singleton is its own centroid
    // the centroid side of the scoring join is broadcast
    val plan = graft.operators.Similarity
      .centroidOutliers(vecs, "vec_id", "label", "vec", threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$plan")
  }

  test("hardNegatives: nearest different-label vectors only, positives excluded") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), "A"),   // anchor
      (2L, Seq(0.99f, 0.1f), "A"),  // near-identical but SAME label: excluded
      (3L, Seq(0.9f, 0.4f), "B"),   // nearest different-label
      (4L, Seq(0.0f, 1.0f), "B"),   // orthogonal different-label
      (5L, Seq(-1.0f, 0.0f), "C")   // opposite
    ).toDF("id", "vec", "lab")
    val anchors = corpus.filter($"id" === 1L)
    val out = Similarity.hardNegatives(corpus, "id", "vec", "lab",
        anchors, "id", "vec", "lab", k = 2)
      .orderBy($"rank")
      .collect().map(r => (r.getLong(2), r.getString(3), r.getInt(5)))
    assert(out.toSeq == Seq((3L, "B", 1), (4L, "B", 2)))
  }

  test("dimStats: per-dimension moments match hand computation") {
    val df = Seq(
      (1L, Seq(1.0f, 10.0f, 5.0f)),
      (2L, Seq(3.0f, 10.0f, 7.0f))).toDF("id", "vec")
    val out = Similarity.dimStats(df, "vec")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out(0) == ((2L, 2.0, 1.0, 1.0, 3.0)))  // mean 2, pop-std 1
    assert(out(1) == ((2L, 10.0, 0.0, 10.0, 10.0))) // collapsed dimension
    assert(out(2) == ((2L, 6.0, 1.0, 5.0, 7.0)))
  }

  test("zNormalizeDims: z-scores per dim; constant dims map to 0") {
    val df = Seq(
      (1L, Seq(1.0f, 10.0f)),
      (2L, Seq(3.0f, 10.0f))).toDF("id", "vec")
    val out = Similarity.zNormalizeDims(df, "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq(-1.0, 0.0))
    assert(out(2L) == Seq(1.0, 0.0))
  }

  test("semDedup: lowest id kept, later near-dups point at it") {
    // two clusters by 2-dim prefix: A ~ (1,0), B ~ (0,1)
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f)),  // cos vs id0 ≈ 0.990  → dup of 0
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.1f, 0.995f)),  // cos vs id2 ≈ 0.995  → dup of 2
      (4L, Array(0.7f, 0.7f))     // ties to cluster A (lowest index); far from all
    ).toDF("id", "vec")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val out = Similarity.semDedup(df, "id", "vec", cents, tau = 0.98, clusterDims = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), Option(r.get(2)), r.getBoolean(4)))).toMap
    assert(out(0L) == ((0, None, true)))
    assert(out(1L) == ((0, Some(0L), false)))
    assert(out(2L) == ((1, None, true)))
    assert(out(3L) == ((1, Some(2L), false)))
    assert(out(4L)._2.isEmpty && out(4L)._3)
  }

  test("semDedup agrees with a plain-Scala reference on seeded random vectors") {
    val rnd = new scala.util.Random(4242)
    val n = 60; val dims = 4; val k = 3; val tau = 0.9
    val vecs = Array.fill(n)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val cents = Array.fill(k)(Array.fill(dims)(rnd.nextGaussian()))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val out = Similarity.semDedup(df, "id", "vec", cents, tau, clusterDims = dims)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    // reference: same assignment + greedy rule in plain Scala
    def assign(v: Array[Float]): Int = {
      var best = 0; var bd = Double.MaxValue
      for (c <- cents.indices) {
        var d = 0.0
        for (i <- 0 until dims) { val t = v(i).toDouble - cents(c)(i); d += t * t }
        if (d < bd) { bd = d; best = c }
      }
      best
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dims) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      dot / math.sqrt(na * nb)
    }
    val cl = vecs.map(assign)
    for (i <- 0 until n) {
      val expected = (0 until i)
        .filter(j => cl(j) == cl(i) && cos(vecs(j), vecs(i)) >= tau)
        .sorted.headOption.map(_.toLong)
      assert(out(i.toLong) == expected, s"id $i: got ${out(i.toLong)}, want $expected")
    }
  }

  test("semDedup: pairs in different clusters are never compared") {
    // full-vector cosine of id0 vs id1 ≈ 0.9999, but their 2-dim prefixes
    // land in different clusters — SemDeDup must NOT flag them
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 100.0f)),
      (1L, Array(0.0f, 1.0f, 100.0f))).toDF("id", "vec")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val out = Similarity.semDedup(df, "id", "vec", cents, tau = 0.9, clusterDims = 2)
      .collect()
    assert(out.length == 2 && out.forall(_.getBoolean(4)), "cross-cluster pair leaked")
  }

  test("pqEncode: a seed vector encodes to its own code in every subspace") {
    val seeds = Array(Array(0.0, 0.0, 5.0, 5.0), Array(10.0, 10.0, -5.0, -5.0))
    val cbs = Similarity.pqCodebooksFromSeeds(seeds, numSubspaces = 2)
    assert(cbs.length == 2 && cbs(0)(1).toSeq == Seq(10.0, 10.0))
    val df = Seq(
      (0L, Array(0.0f, 0.0f, 5.0f, 5.0f)),
      (1L, Array(10.0f, 10.0f, -5.0f, -5.0f)),
      (2L, Array(9.0f, 9.0f, 4.0f, 4.0f))   // near seed1 front, seed0 back
    ).toDF("id", "vec")
    val codes = Similarity.pqEncode(df, "id", "vec", cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes(0L) == Seq(0, 0))
    assert(codes(1L) == Seq(1, 1))
    assert(codes(2L) == Seq(1, 0))
  }

  test("pqTopK: ADC distance equals the hand-computed LUT sum; ranks ascend") {
    val seeds = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val cbs = Similarity.pqCodebooksFromSeeds(seeds, numSubspaces = 1)
    val corpus = Seq((0L, Array(1.0f, 1.0f)), (1L, Array(9.0f, 9.0f))).toDF("id", "vec")
    val enc = Similarity.pqEncode(corpus, "id", "vec", cbs)
    val q = Seq((7L, Array(2.0f, 2.0f))).toDF("qid", "qvec")
    val out = Similarity.pqTopK(enc, q, "qid", "qvec", cbs, k = 2)
      .orderBy($"rank").collect()
    // x encodes to seed0 -> adc = d2(q, s0) = 4+4 = 8; y -> seed1 -> 64+64 = 128
    assert(out.map(_.getAs[Long]("nbr_id")).toSeq == Seq(0L, 1L))
    assert(out(0).getAs[Double]("adc_dist") == 8.0)
    assert(out(1).getAs[Double]("adc_dist") == 128.0)
  }

  test("pqTopKStored: stored-codes probe equals the fused pq run row-for-row") {
    val emb = spark.read.parquet(sf("embeddings"))
    val seeds = emb.filter($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val cbs = Similarity.pqCodebooksFromSeeds(seeds, numSubspaces = 4)
    val q = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val fused = Similarity.pqTopK(
      Similarity.pqEncode(emb, "vec_id", "embedding", cbs), q, "qid", "qvec", cbs, k = 5)
    val path = tmpDir("graft_pqspec") + "/codes"
    Similarity.writePqCodes(emb, "vec_id", "embedding", cbs, path)
    val stored = Similarity.pqTopKStored(path, q, "qid", "qvec", cbs, k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(stored) == rows(fused))
    assert(rows(stored).nonEmpty)
  }

  test("ivfPqTopK: residual ADC hand-check; unprobed lists are invisible") {
    // lists c0=(0,0), c1=(10,10); residual codebook {(0,0),(1,1),(-1,-1)}
    val cents = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val cbs = Array(Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(-1.0, -1.0)))
    val corpus = Seq(
      (0L, Array(1.0f, 1.0f)),    // list 0, residual (1,1)  -> code 1
      (1L, Array(9.0f, 9.0f)),    // list 1, residual (-1,-1)-> code 2
      (2L, Array(11.0f, 11.0f))   // list 1, residual (1,1)  -> code 1
    ).toDF("id", "vec")
    val path = tmpDir("graft_ivfpqspec") + "/codes"
    Similarity.writeIvfPqCodes(corpus, "id", "vec", cents, cbs, path)
    val q = Seq((7L, Array(8.0f, 8.0f))).toDF("qid", "qvec")
    // nProbe=1: only list 1 (d2 8 vs 128); q residual (-2,-2):
    // LUT = [8, 18, 2] -> v1 adc 2, v2 adc 18; v0 pruned away
    val one = Similarity.ivfPqTopK(path, cents, cbs, q, "qid", "qvec",
        k = 5, nProbe = 1)
      .orderBy($"rank").collect()
    assert(one.map(_.getAs[Long]("nbr_id")).toSeq == Seq(1L, 2L))
    assert(one.map(_.getAs[Double]("adc_dist")).toSeq == Seq(2.0, 18.0))
    // nProbe=2 reaches list 0: q residual (8,8), LUT=[128,98,162], v0 code 1
    val two = Similarity.ivfPqTopK(path, cents, cbs, q, "qid", "qvec",
        k = 5, nProbe = 2)
      .orderBy($"rank").collect()
    assert(two.map(_.getAs[Long]("nbr_id")).toSeq == Seq(1L, 2L, 0L))
    assert(two.map(_.getAs[Double]("adc_dist")).toSeq == Seq(2.0, 18.0, 98.0))
  }

  test("ANN sidecar: layouts are self-describing; array mismatch is an error") {
    val cents = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val cbs = Array(Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(-1.0, -1.0)))
    val corpus = Seq((0L, Array(1.0f, 1.0f)), (1L, Array(9.0f, 9.0f)),
      (2L, Array(11.0f, 11.0f))).toDF("id", "vec")
    val path = tmpDir("graft_sidecar") + "/codes"
    Similarity.writeIvfPqCodes(corpus, "id", "vec", cents, cbs, path)
    // round-trip: the sidecar holds bit-identical arrays
    val meta = graft.io.AnnSidecar.load(spark, path, "ivfpq")
    assert(meta.centroids.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    assert(meta.codebooks.get.map(_.map(_.toSeq).toSeq).toSeq ==
      cbs.map(_.map(_.toSeq).toSeq).toSeq)
    assert(meta.params == Map("num_lists" -> 2, "m" -> 1, "sub" -> 2, "dim" -> 2))
    // the no-array overload probes purely from the stored description
    val q = Seq((7L, Array(8.0f, 8.0f))).toDF("qid", "qvec")
    val viaSidecar = Similarity.ivfPqTopK(path, q, "qid", "qvec", k = 5, nProbe = 1)
      .orderBy($"rank").collect()
    assert(viaSidecar.map(_.getAs[Long]("nbr_id")).toSeq == Seq(1L, 2L))
    // DIFFERENT arrays against the stored layout must be rejected loudly
    val wrong = Array(Array(0.0, 0.0), Array(9.0, 10.0))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(path, wrong, cbs, q, "qid", "qvec", k = 5, nProbe = 1)
    }
    assert(e.getMessage.contains("DIFFERENT centroids"))
    // wrong kind: an ivfpq layout is not an ivf layout
    assertThrows[IllegalArgumentException](
      graft.io.AnnSidecar.load(spark, path, "ivf"))
    // missing sidecar: clear contract error from the no-array overload
    assertThrows[IllegalStateException](
      Similarity.ivfPqTopK(tmpDir("no_sidecar"), q, "qid", "qvec", k = 5, nProbe = 1))
    // REWRITE: replacing an existing sidecar atomically and reading the
    // NEW content back (the local-FS publish must not leave a stale
    // Hadoop .crc behind — that failed every later read)
    val cents2 = Array(Array(0.0, 0.0), Array(20.0, 20.0))
    Similarity.writeIvfPqCodes(corpus, "id", "vec", cents2, cbs, path)
    val meta2 = graft.io.AnnSidecar.load(spark, path, "ivfpq")
    assert(meta2.centroids.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq)
    spark.catalog.clearCache()
  }

  test("semDedup sidecar: stored probe runs from the layout description alone") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val corpus = Seq((1L, Array(0.9f, 0.1f, 0.5f)), (2L, Array(0.1f, 0.9f, 0.5f)))
      .toDF("id", "vec")
    val path = tmpDir("graft_sd_sidecar") + "/clusters"
    Similarity.writeSemDedupClusters(corpus, "id", "vec", cents, clusterDims = 2, path)
    val batch = Seq((10L, Array(0.9f, 0.1f, 0.5f)), (11L, Array(0.5f, -0.5f, 0.0f)))
      .toDF("id", "vec")
    val viaArrays = Similarity.semDedupProbeStored(batch, "id", "vec", path,
      cents, tau = 0.99, clusterDims = 2).orderBy("id").collect()
    val viaSidecar = Similarity.semDedupProbeStored(batch, "id", "vec", path,
      tau = 0.99).orderBy("id").collect()
    assert(viaArrays.map(_.toSeq).toSeq == viaSidecar.map(_.toSeq).toSeq)
    assert(!viaSidecar.head.getAs[Boolean]("keep")) // exact dup rejected
    spark.catalog.clearCache()
  }

  test("int8 quantization: bounded error, zero guard, ranking matches exact cosine") {
    val emb = Seq(
      (1L, Array(0.9f, -0.3f, 0.4f)),
      (2L, Array(0.8f, -0.2f, 0.5f)),
      (3L, Array(-0.5f, 0.9f, 0.1f)),
      (4L, Array(0.0f, 0.0f, 0.0f)), // zero vector: scale 0, all-zero codes
      (5L, Array(0.91f, -0.29f, 0.38f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val rows = q.collect().map(r => (r.getLong(0), r.getDouble(1),
      r.getSeq[Int](2).toSeq)).sortBy(_._1)
    // |x - code*scale| <= scale/2 per element; codes within ±127
    val orig = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.foreach { case (id, scale, codes) =>
      assert(codes.forall(c => c >= -127 && c <= 127))
      codes.zip(orig(id)).foreach { case (c, x) =>
        assert(math.abs(x - c * scale) <= scale / 2 + 1e-12, s"id $id") }
    }
    assert(rows.find(_._1 == 4L).get._3 == Seq(0, 0, 0))
    // quantized ranking equals the exact-cosine ranking on separated data
    val qr = Similarity.int8TopK(q, q.filter($"vec_id" === 1L), k = 3)
      .orderBy($"rank").collect().map(_.getAs[Long]("nbr_id")).toSeq
    val er = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter($"vec_id" === 1L).select($"vec_id".as("qid"), $"embedding".as("qvec")),
        "qid", "qvec", k = 3)
      .orderBy($"rank").collect().map(_.getAs[Long]("nbr_id")).toSeq
    assert(qr == er, s"quantized $qr vs exact $er")
  }

  test("mmrRerank: redundancy penalty demotes the near-duplicate candidate") {
    // q=(1,0,0); 10 is most relevant, 11 is a near-clone of 10
    // (sim≈0.999, rel≈0.97), 12 is less relevant (rel≈0.90) but diverse
    // (sim(10,12)≈0.80): step-2 scores 0.7·0.902−0.3·0.799 ≈ 0.392 (12)
    // vs 0.7·0.970−0.3·0.999 ≈ 0.379 (11) — MMR must take 12 before 11
    val corpus = Seq(
      (10L, Array(0.98f, 0.2f, 0.0f)),
      (11L, Array(0.97f, 0.24f, 0.0f)),
      (12L, Array(0.9f, -0.43f, 0.0f))).toDF("id", "vec")
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "qvec")
    val cands = Similarity.bruteForceTopK(corpus, "id", "vec", q, "qid", "qvec", k = 3)
    val out = Similarity.mmrRerank(cands, corpus, "id", "vec", k = 3)
      .orderBy($"rank").collect()
    assert(out.map(_.getAs[Long]("nbr_id")).toSeq == Seq(10L, 12L, 11L),
      s"MMR order wrong: ${out.toSeq}")
    // rank-1 score = 0.7 * rel(10), no penalty yet
    val rel10 = cands.filter($"nbr_id" === 10L).head().getAs[Double]("cosine")
    assert(math.abs(out(0).getAs[Double]("mmr_score") - 0.7 * rel10) < 1e-5)
  }

  test("mmrRerank: with mu = 0 the greedy reduces to plain relevance order") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 2).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val cands = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k = 10)
    val mmr = Similarity.mmrRerank(cands, emb, "vec_id", "embedding",
        k = 5, lambda = 1.0, mu = 0.0)
      .select($"query_id", $"nbr_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val plain = cands.filter($"rank" <= 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("nbr_id")).toMap
    assert(mmr == plain)
  }

  test("zNormalizeDims plan: stats broadcast, normalization is a projection") {
    val df = spark.read.parquet(sf("embeddings"))
    val plan = Similarity.zNormalizeDims(df, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"stats row must broadcast:\n$plan")
  }

  test("randomProjection: values match the seeded sign matrix by hand") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "vec")
    val out = Similarity.randomProjection(df, "id", "vec",
        inDims = 3, outDims = 2, seed = "t")
      .orderBy($"dim").collect().map(_.getDouble(2))
    val expected = (0 until 2).map { j =>
      val s = (0 until 3).map(i => Similarity.rademacherSign("t", j, i))
      val dot = 1.0f.toDouble * s(0) + 2.0f.toDouble * s(1) + 3.0f.toDouble * s(2)
      BigDecimal(dot / math.sqrt(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.toSeq == expected)
    // the sign material is genuinely mixed (not all +1 / all -1)
    val signs = for (j <- 0 until 8; i <- 0 until 64)
      yield Similarity.rademacherSign("rp", j, i)
    assert(signs.contains(1.0) && signs.contains(-1.0))
  }

  test("mislabelCandidates: hand-computed distances, z-scores and ranks") {
    // label A: two vectors at (1,0), one at (0,1); centroid = (2/3, 1/3)
    //   dist(1,0) = 1 − (2/3)/√(5/9) = 0.10557…  (×2)
    //   dist(0,1) = 1 − (1/3)/√(5/9) = 0.55279…
    //   μ = 0.25464…, σ_pop = 0.21082… ⇒ z(outlier) = √2, z(inlier) = −1/√2
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), "A"),
      (2L, Seq(1.0f, 0.0f), "A"),
      (3L, Seq(0.0f, 1.0f), "A"),
      (4L, Seq(0.5f, 0.5f), "B"), // constant label: σ = 0 ⇒ z NULL
      (5L, Seq(0.5f, 0.5f), "B"))
      .toDF("id", "vec", "lbl")
    val out = Similarity.mislabelCandidates(df, "id", "vec", "lbl", k = 2)
      .orderBy($"label", $"rank").collect()
    assert(out.length == 4)
    val a1 = out(0) // label A rank 1: the off-axis outlier
    assert(a1.getAs[Long]("id") == 3L && a1.getAs[Int]("rank") == 1)
    assert(math.abs(a1.getAs[Double]("dist") - 0.5527864) < 1e-6)
    assert(math.abs(a1.getAs[Double]("z") - math.sqrt(2.0)) < 1e-6)
    val a2 = out(1) // tie between ids 1 and 2 breaks by id asc
    assert(a2.getAs[Long]("id") == 1L && a2.getAs[Int]("rank") == 2)
    assert(math.abs(a2.getAs[Double]("z") + 1.0 / math.sqrt(2.0)) < 1e-6)
    // zero-variance label: rows surface, z is NULL
    assert(out(2).getAs[String]("label") == "B" && out(2).isNullAt(out(2).fieldIndex("z")))
  }

  test("mislabelCandidates plan: bounded-heap top-k, no per-label sort window") {
    val plan = Similarity.mislabelCandidates(corpus, "vec_id", "embedding", "label")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_rows"),
      s"expected the bounded-heap aggregate, combining map-side:\n$plan")
    assert(!plan.contains("row_number"),
      s"per-label top-k must not be a sort window:\n$plan")
  }

  test("randomProjection preserves squared norms in expectation (JL)") {
    // E[||Pv||^2] = ||v||^2 for Rademacher projections — check the
    // corpus-mean ratio lands near 1 at 64 -> 8 dims
    val proj = Similarity.randomProjection(corpus, "vec_id", "embedding",
      inDims = 64, outDims = 8)
    val projNorm = proj.groupBy($"vec_id")
      .agg(sum($"value" * $"value").as("p2"))
    val origNorm = corpus.select($"vec_id",
      aggregate(transform($"embedding", x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, x) => a + x).as("o2"))
    val ratio = projNorm.join(origNorm, "vec_id")
      .agg(avg($"p2" / $"o2")).head().getDouble(0)
    assert(ratio > 0.7 && ratio < 1.3, s"mean norm ratio $ratio")
  }

  test("embeddingCovariance matches a naive reference; kernel dim checks") {
    import spark.implicits._
    val vecs = Seq(
      Array(1.0f, 2.0f, 0.0f), Array(3.0f, 1.0f, -1.0f),
      Array(-1.0f, 0.0f, 2.0f), Array(2.0f, -2.0f, 1.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb")
    val out = Similarity.embeddingCovariance(df, "emb").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Double]("cov")).toMap
    assert(out.size == 6)
    // naive reference
    val n = vecs.length
    val xs = vecs.map(_.map(_.toDouble))
    def cov(i: Int, j: Int): Double = {
      val mi = xs.map(_(i)).sum / n; val mj = xs.map(_(j)).sum / n
      xs.map(v => (v(i) - mi) * (v(j) - mj)).sum / (n - 1)
    }
    for (i <- 0 until 3; j <- i until 3)
      assert(math.abs(out((i, j)) - cov(i, j)) < 1e-12, s"cell ($i,$j)")
    // mean columns
    val means = Similarity.embeddingCovariance(df, "emb")
      .filter($"i" === $"j").collect()
      .map(r => r.getInt(0) -> r.getAs[Double]("mean_i")).toMap
    assert(math.abs(means(0) - 1.25) < 1e-12)
    // dimension mismatch raises with the sizes in the message
    val bad = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("id", "emb")
    val ex = intercept[Exception] {
      Similarity.embeddingCovariance(bad, "emb").collect()
    }
    assert(ex.getMessage != null)
  }

  test("isotropyScore: orthonormal = 0, identical = 1, naive pair check") {
    import spark.implicits._
    val ortho = Seq(Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f),
      Array(0.0f, 0.0f, 1.0f))
    val r0 = Similarity.isotropyScore(
      ortho.zipWithIndex.map(_.swap).toDF("id", "e"), "e").collect().head
    assert(r0.getLong(0) == 3L)
    assert(math.abs(r0.getAs[Double]("mean_pairwise_cos")) < 1e-12)
    // identical (collapsed) space scores 1; zero vectors drop
    val same = Seq(Array(3.0f, 4.0f, 0.0f), Array(3.0f, 4.0f, 0.0f),
      Array(6.0f, 8.0f, 0.0f), Array(0.0f, 0.0f, 0.0f))
    val r1 = Similarity.isotropyScore(
      same.zipWithIndex.map(_.swap).toDF("id", "e"), "e").collect().head
    assert(r1.getLong(0) == 3L, "zero vector must drop")
    assert(math.abs(r1.getAs[Double]("mean_pairwise_cos") - 1.0) < 1e-9)
    // general case vs the naive pairwise mean
    val mix = Seq(Array(1.0f, 2.0f, 0.0f), Array(-1.0f, 1.0f, 1.0f),
      Array(0.5f, 0.5f, -2.0f), Array(2.0f, -1.0f, 1.0f))
    val rm = Similarity.isotropyScore(
      mix.zipWithIndex.map(_.swap).toDF("id", "e"), "e").collect().head
    def unit(a: Array[Float]) = {
      val n = math.sqrt(a.map(x => x.toDouble * x).sum)
      a.map(_ / n)
    }
    val us = mix.map(unit)
    val pairs = for (i <- us.indices; j <- us.indices if i < j)
      yield us(i).zip(us(j)).map { case (x, y) => x * y }.sum
    assert(math.abs(rm.getAs[Double]("mean_pairwise_cos") -
      pairs.sum / pairs.size) < 1e-9)
  }

  test("linearCka: self = 1, scale-invariant, independent ~ low, guards") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian().toFloat))
    }.toDF("id", "a")
    // identical representation: CKA exactly 1
    val self = vecs.withColumn("b", col("a"))
    val rs = Similarity.linearCka(self, "a", "b").collect().head
    assert(rs.getLong(0) == 200L && rs.getInt(1) == 4 && rs.getInt(2) == 4)
    assert(math.abs(rs.getAs[Double]("cka") - 1.0) < 1e-9)
    // uniform scaling leaves CKA at 1
    val scaled = vecs.withColumn("b", transform(col("a"), x => x * 2.0f))
    assert(math.abs(Similarity.linearCka(scaled, "a", "b")
      .collect().head.getAs[Double]("cka") - 1.0) < 1e-9)
    // an independent random representation scores near 0
    val indep = (0 until 200).map { i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian().toFloat),
        Array.fill(4)(rnd.nextGaussian().toFloat))
    }.toDF("id", "a", "b")
    val ri = Similarity.linearCka(indep, "a", "b").collect().head
    assert(ri.getAs[Double]("cka") < 0.2,
      s"independent reps must score low: ${ri.getAs[Double]("cka")}")
    // constant second representation: zero variance -> NULL
    val const = vecs.withColumn("b", typedLit(Seq(1.0f, 1.0f)))
    assert(Similarity.linearCka(const, "a", "b").collect().head.isNullAt(3))
    // no complete row: the n = 0 row, not an exception
    val none = Similarity.linearCka(self.filter(lit(false)), "a", "b")
      .collect().head
    assert(none.getLong(0) == 0L && none.getInt(1) == 0 && none.isNullAt(3))
  }

  test("mahalanobisScores: hand 2-D case, trace identity, ridge rescue") {
    import spark.implicits._
    // diagonal covariance diag(4, 1): d^2((2,1)) vs the closed form
    val pts = Seq(Array(2.0f, 1.0f), Array(-2.0f, -1.0f),
      Array(2.0f, -1.0f), Array(-2.0f, 1.0f))
    val df = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb")
    val out = Similarity.mahalanobisScores(df, "emb").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("mahalanobis_sq")).toMap
    // sample covariance: var x = 16/3, var y = 4/3, cov 0
    // d^2 = 4/(16/3) + 1/(4/3) = 0.75 + 0.75 = 1.5 for every point
    // default ridge (1e-9) shifts the inverse by O(ridge/var)
    out.values.foreach(v => assert(math.abs(v - 1.5) < 1e-6))
    // the trace identity: sum d^2 = (n-1)*dim
    assert(math.abs(out.values.sum - 3.0 * 2) < 1e-6)
    // correlated data vs a naive 2x2 inverse
    val cor = Seq(Array(1.0f, 1.0f), Array(2.0f, 1.5f), Array(3.0f, 3.5f),
      Array(4.0f, 4.0f), Array(0.0f, 0.5f))
    val dfc = cor.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb")
    val oc = Similarity.mahalanobisScores(dfc, "emb").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("mahalanobis_sq")).toMap
    val xs = cor.map(_(0).toDouble); val ys = cor.map(_(1).toDouble)
    val (mx, my) = (xs.sum / 5, ys.sum / 5)
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum / 4
    val syy = ys.map(y => (y - my) * (y - my)).sum / 4
    val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / 4
    val det = sxx * syy - sxy * sxy
    cor.zipWithIndex.foreach { case (v, i) =>
      val (dx, dy) = (v(0) - mx, v(1) - my)
      val ref = (syy * dx * dx - 2 * sxy * dx * dy + sxx * dy * dy) / det
      assert(math.abs(oc(i.toLong) - ref) < 1e-6, s"row $i")
    }
    // rank-deficient data: default ridge keeps the factorization alive
    // and the dead dimension reads as a huge-distance direction
    val flat = Seq(Array(1.0f, 0.0f), Array(2.0f, 0.0f), Array(3.0f, 0.0f))
      .toDF("emb").withColumn("id", lit(1L))
    val rf = Similarity.mahalanobisScores(flat, "emb", ridge = 1e-6)
      .collect()
    assert(rf.forall(!_.isNullAt(rf.head.fieldIndex("mahalanobis_sq"))))
  }

  test("mahalanobisScores at full 64-d: trace identity on the test corpus") {
    // the invariant the former q336 catalog shape carried (the catalog row
    // moved to a full-value 2-d oracle replay): with the sample covariance
    // and zero ridge, Σd² = (n−1)·dim exactly
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val st = Similarity.mahalanobisScores(emb, "embedding", ridge = 0.0)
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum($"mahalanobis_sq").as("s")).head()
    val n = st.getLong(0)
    assert(math.abs(st.getDouble(1) - (n - 1.0) * 64) < 1e-6 * n,
      s"sum d^2 = ${st.getDouble(1)} vs (n-1)*64 = ${(n - 1.0) * 64}")
  }

  test("symmetricEigen: machine-precision eigenpairs on a near-degenerate spectrum") {
    // the exact failure mode that motivated Jacobi over power iteration:
    // eigenvalue gaps of ~1e-3 relative still resolve to ~1e-14 residual
    val d = 8
    // symmetric matrix with a clustered spectrum via A = Q D Qt where Q is
    // a deterministic product of plane rotations
    val diag = Array(1.000, 0.999, 0.998, 0.5, 0.4999, 0.3, 0.1, 0.05)
    val a = Array.tabulate(d, d)((i, j) => if (i == j) diag(i) else 0.0)
    def rotate(m: Array[Array[Double]], p: Int, q: Int, th: Double): Unit = {
      val (c, s) = (math.cos(th), math.sin(th))
      for (k <- 0 until d) {
        val mkp = m(k)(p); val mkq = m(k)(q)
        m(k)(p) = c * mkp - s * mkq; m(k)(q) = s * mkp + c * mkq
      }
      for (k <- 0 until d) {
        val mpk = m(p)(k); val mqk = m(q)(k)
        m(p)(k) = c * mpk - s * mqk; m(q)(k) = s * mpk + c * mqk
      }
    }
    var th = 0.3
    for (p <- 0 until d - 1; q <- p + 1 until d) { rotate(a, p, q, th); th += 0.17 }
    val (eig, vecs) = Similarity.symmetricEigen(a)
    val sortedEig = eig.sorted.reverse
    diag.sorted.reverse.zip(sortedEig).foreach { case (want, got) =>
      assert(math.abs(want - got) < 1e-12, s"eigenvalue $want vs $got")
    }
    for (c <- 0 until d) {
      val v = Array.tabulate(d)(i => vecs(i)(c))
      val av = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * v(j)).sum)
      val res = math.sqrt((0 until d).map(i =>
        math.pow(av(i) - eig(c) * v(i), 2)).sum)
      assert(res < 1e-12, s"residual $res for eigenvalue ${eig(c)}")
      val nrm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-12)
    }
  }

  test("pcaComponents: exact axis-aligned spectrum, whitening round trip") {
    import spark.implicits._
    // grid data along the first two axes: cov = diag(16/3, 4/3, 0)
    val pts = Seq(
      Array(2.0f, 1.0f, 0.0f), Array(2.0f, -1.0f, 0.0f),
      Array(-2.0f, 1.0f, 0.0f), Array(-2.0f, -1.0f, 0.0f))
    val df = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb")
    val comps = Similarity.pcaComponents(df, "emb", k = 3).collect()
    val byComp = comps.groupBy(_.getInt(0))
    val v0 = byComp(0).sortBy(_.getInt(1)).map(_.getAs[Double]("value"))
    val v1 = byComp(1).sortBy(_.getInt(1)).map(_.getAs[Double]("value"))
    val l = (0 to 2).map(c => byComp(c).head.getAs[Double]("eigenvalue"))
    assert(math.abs(l(0) - 16.0 / 3) < 1e-9 && math.abs(l(1) - 4.0 / 3) < 1e-9)
    assert(math.abs(l(2)) < 1e-9, "rank-2 data: third eigenvalue 0")
    assert(math.abs(v0(0) - 1.0) < 1e-9 && math.abs(v0(1)) < 1e-9,
      s"first component must be +e0: ${v0.toSeq}")
    assert(math.abs(v1(1) - 1.0) < 1e-9, "second component +e1 (sign fixed)")
    // explained ratio sums to 1 over the full spectrum
    val ratios = (0 to 2).map(c => byComp(c).head.getAs[Double]("explained_var_ratio"))
    assert(math.abs(ratios.sum - 1.0) < 1e-9)
    // whitening: projected coordinates have unit sample variance
    val proj = Similarity.pcaProject(df, "emb",
      means = Array(0.0, 0.0, 0.0),
      components = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      eigenvalues = Array(16.0 / 3, 4.0 / 3), eps = 0.0)
    val vr = proj
      .select($"projection" (0).as("z0"), $"projection" (1).as("z1"))
      .agg(var_samp($"z0"), var_samp($"z1")).head()
    assert(math.abs(vr.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(vr.getDouble(1) - 1.0) < 1e-9)
    // plain projection without whitening keeps raw scale
    val raw = Similarity.pcaProject(df, "emb", Array(0.0, 0.0, 0.0),
      Array(Array(1.0, 0.0, 0.0)))
      .select($"projection" (0)).collect().map(_.getDouble(0)).sorted
    assert(raw.toSeq == Seq(-2.0, -2.0, 2.0, 2.0))
  }
}
