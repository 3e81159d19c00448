package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.functions.kernels.VectorKernelFunctions

/** Approximate-nearest-neighbor search over an embedding column (north-star
  * extensions, SURVEY §7.2 step 10).
  *
  * Three paths:
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small) query
  *    set against the corpus; one scan, no shuffle of the corpus, a final
  *    per-query top-k. The correctness baseline, and the right choice
  *    whenever |queries| is small.
  *  - [[lshTopK]] — sign-projection LSH bucketing: corpus is bucketed once
  *    (can be precomputed and written as a bucketed table), queries probe
  *    only their buckets, exact cosine re-ranks the candidates. The 100 TB
  *    path: candidate set per query is ~corpus/2^bitsPerBand · numBands.
  *  - [[ivfTopK]] — inverted-file index (IVF-flat): spherical k-means
  *    centroids from a bounded sample, every corpus vector assigned
  *    scan-locally to its nearest list, queries probe only their top-nProbe
  *    lists. Candidate volume per query is ~|corpus| · nProbe / numLists —
  *    tunable independent of dimensionality, and the assignment
  *    ([[assignToLists]]) can be written once as a list-partitioned table
  *    and reused by every query batch.
  *
  * Cosine runs as a compiled Catalyst kernel
  * ([[VectorKernelFunctions.cosineSimilarity]]) — the interpreted
  * `zip_with`/`aggregate` form costs ~100× more per pair and dominates the
  * scan otherwise.
  */
object Similarity {

  /** Exact top-k by cosine for each query vector. Queries must be small
    * enough to broadcast (they are, by construction: a query batch).
    * Output: (query id, neighbor id, cosine, rank). */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(corpusId).as("nbr_id"), col(corpusVec).as("nbr_vec"))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("query_vec"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("nbr_id"),
        VectorKernelFunctions.cosineSimilarity(col("query_vec"), col("nbr_vec")).as("cosine"))
    // rank within query: top-k per group (window after a single shuffle on
    // query_id; AQE coalesces the tiny post-shuffle partitions)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor, the `k` most-similar corpus vectors with a DIFFERENT label —
    * the negatives that actually teach the model (random negatives are
    * trivially separable; the near-miss ones define the decision
    * boundary). Output: `(anchor_id, anchor_label, nbr_id, nbr_label,
    * cosine, rank)`.
    *
    * Same plan shape as [[bruteForceTopK]] (anchors broadcast, corpus
    * scanned once through the compiled cosine kernel, one shuffle keyed
    * by anchor id) with the label-inequality filter applied BEFORE the
    * rank window, so positives never occupy candidate slots. For
    * corpus-scale anchor sets, run per anchor batch — exactly how
    * contrastive pipelines batch their epochs anyway. */
  def hardNegatives(
      corpus: DataFrame, corpusId: String, corpusVec: String, corpusLabel: String,
      anchors: DataFrame, anchorId: String, anchorVec: String, anchorLabel: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val c = corpus.select(col(corpusId).as("nbr_id"), col(corpusVec).as("nbr_vec"),
      col(corpusLabel).as("nbr_label"))
    val a = anchors.select(col(anchorId).as("anchor_id"), col(anchorVec).as("anchor_vec"),
      col(anchorLabel).as("anchor_label"))
    val scored = c.crossJoin(broadcast(a))
      .filter(col("nbr_label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("anchor_label"), col("nbr_id"), col("nbr_label"),
        VectorKernelFunctions.cosineSimilarity(col("anchor_vec"), col("nbr_vec")).as("cosine"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Matryoshka truncation: keep the first `dims` coordinates of an
    * embedding and L2-renormalize — the cheap-ANN contract of
    * Matryoshka-representation-learning embeddings (public MRL result:
    * prefixes of the vector are themselves usable embeddings). At 100 TB
    * this is the standard two-stage retrieval prefilter: candidate
    * generation on an 8–16-dim prefix costs dims/D of the full dot
    * products (and dims/D of the scan bytes when the truncated column is
    * materialized), then the survivors re-rank at full dimension — q177
    * drives exactly that pipeline. A pure scan projection: native `slice`
    * plus the compiled [[graft.functions.VectorFunctions.l2Normalize]]
    * kernel (no interpreted lambdas, no shuffle); zero-norm prefixes stay
    * zero vectors. Renormalizing leaves every pairwise cosine unchanged
    * (scale invariance) but turns downstream cosines into plain dot
    * products over the materialized column. */
  def truncateEmbeddings(df: DataFrame, vecCol: String, dims: Int,
      outCol: String = "trunc_vec"): DataFrame = {
    require(dims >= 1, s"dims must be >= 1: $dims")
    df.withColumn(outCol,
      graft.functions.VectorFunctions.l2Normalize(slice(col(vecCol), 1, dims)))
  }

  /** Deterministic Rademacher random projection (Johnson–Lindenstrauss /
    * Achlioptas 2003): `out_j = Σ_i v_i · s_ij / √outDims` with
    * `s_ij ∈ {±1}` derived from `md5("<seed>:<j>:<i>")` — the
    * [[Sampling]] md5 convention, so the projection matrix needs no
    * storage, no broadcast and no RNG state: any engine (including the
    * oracle) regenerates it bit-identically from the seed string alone.
    * Long-form output `(id, dim, value)`, `value` rounded to `roundTo`.
    *
    * Scale: a PURE projection — each output dim is an unrolled
    * left-to-right sum (the kmeans/cosine kernel ordering contract,
    * bit-identical to a sequential dot product), inside whole-stage
    * codegen at scan cost; no shuffle, no UDF, no stored layout. The JL
    * use at 100 TB: 64→8 dims cuts downstream ANN/clustering bytes 8×
    * while preserving pairwise geometry to O(√(ln n / outDims)), and the
    * same seed regenerates the identical projection on every batch —
    * incremental corpora project consistently forever. */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      inDims: Int, outDims: Int, seed: String = "rp",
      roundTo: Int = 6): DataFrame = {
    require(inDims >= 1 && outDims >= 1,
      s"dims must be >= 1: $inDims -> $outDims")
    val scale = math.sqrt(outDims.toDouble)
    val projs = (0 until outDims).map { j =>
      (1 to inDims).map(i =>
          col(vecCol).getItem(i - 1).cast("double") *
            lit(rademacherSign(seed, j, i - 1)))
        .reduceLeft(_ + _)
      // + 0.0 folds IEEE −0.0: a mixed-sign dot product that rounds to zero
      // from below would otherwise print "-0" in engines that keep the sign
    }.map(s => round(s / lit(scale), roundTo) + lit(0.0))
    df.select(col(idCol), posexplode(array(projs: _*)))
      .select(col(idCol), col("pos").cast("int").as("dim"),
        col("col").cast("double").as("value"))
  }

  /** ±1 from the first hex nibble of `md5("<seed>:<j>:<i>")` — below 8 is
    * +1. Engine-portable: identical md5 hex for identical bytes. */
  private[graft] def rademacherSign(seed: String, j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
  }

  /** Recall@k of an approximate top-k result against the exact one — the
    * tuning instrument every production ANN deployment runs before
    * trading accuracy for cost (bands, probes, prefix dims are all tuned
    * against measured recall, never guessed). Inputs are two top-k tables
    * `(query_id, nbr_id, …)`; output is one row per EXACT-side query:
    * `(query_id, n_hit, recall)` with `recall = |approx ∩ exact| / k`.
    * Queries the approximate side missed entirely report recall 0 (left
    * join from the exact side), so a candidate generator that drops whole
    * queries cannot hide. One keyed join + one partial-aggregated
    * groupBy — output height = |queries|. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val a = approx.select(col("query_id"), col("nbr_id"), lit(1).as("__hit"))
    exact.select(col("query_id"), col("nbr_id"))
      .join(a, Seq("query_id", "nbr_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("__hit")).as("n_hit"),
        round(count(col("__hit")) / k.toDouble, 4).as("recall"))
  }

  /** Distributed Lloyd k-means over an embedding prefix: `iterations`
    * full (assign → recompute) steps from data-point seeds, returning the
    * assignment `(id, cluster)` against the final centroids. The iterative
    * sibling of [[trainCentroids]]'s one-shot sample: each step is one
    * scan-local assignment projection (k unrolled squared-L2 expressions,
    * argmin via a struct `array_min` — no interpreted lambdas) plus one
    * partial-aggregated groupBy whose k×dims result lands on the driver
    * (the k-means control loop is inherently driver-sequenced; the DATA
    * never is). Clusters that lose all members keep their PREVIOUS
    * centroid — part of the oracle contract: the paired kmeansSql replay
    * (SparkEntry) writes this fallback against the seed centroids, which
    * matches only at iterations = 1 (previous ≡ seed); see the note
    * there before reusing the oracle pattern for more iterations.
    *
    * Determinism contract (what makes an external oracle possible):
    * distances accumulate LEFT-TO-RIGHT over dimensions, ties break to
    * the lowest cluster index, and per-dimension means are computed as
    * exact DECIMAL sums (order-independent under any partitioning —
    * float-double sums would drift with Spark's partial-aggregation
    * order) divided once in double. An engine replaying the same recipe
    * reproduces every assignment bit-for-bit. */
  def kmeansLloyd(df: DataFrame, idCol: String, vecCol: String,
      initIds: Seq[Long], iterations: Int, dims: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(initIds.nonEmpty, "at least one seed id required")
    require(dims >= 1, s"dims must be >= 1: $dims")
    val base = df.select(col(idCol).cast("long").as("id"),
      slice(col(vecCol), 1, dims).as("v"))
    val initRows = base.filter(col("id").isin(initIds: _*))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray
      }.toMap
    initIds.foreach(i => require(initRows.contains(i), s"seed id $i not found"))
    var centroids: Array[Array[Double]] = initIds.map(initRows(_)).toArray

    // assignment runs in the compiled nearest-centroid kernel: one call
    // per row whatever k × dims is (the earlier k unrolled squared-L2
    // column expressions blew past janino's method-size limit at
    // dims ≳ 64), with the same determinism contract — left-to-right
    // dimension accumulation, ties to the lowest centroid index
    def assignCol: org.apache.spark.sql.Column =
      graft.functions.kernels.VectorKernelFunctions
        .nearestCentroid(col("v"), centroids.map(_.clone()))

    for (_ <- 1 to iterations) {
      val assigned = base.withColumn("cluster", assignCol)
      val aggs = (0 until dims).map(d =>
        sum(col("v").getItem(d).cast("decimal(30,12)")).as(s"s$d")) :+
        count(lit(1)).as("n")
      val rows = assigned.groupBy(col("cluster")).agg(aggs.head, aggs.tail: _*)
        .collect()
      val next = centroids.map(_.clone())
      rows.foreach { r =>
        val cl = r.getInt(0)
        val n = r.getLong(dims + 1).toDouble
        (0 until dims).foreach { d =>
          next(cl)(d) = r.getDecimal(d + 1).doubleValue() / n
        }
      }
      centroids = next
    }
    base.withColumn("cluster", assignCol).select(col("id"), col("cluster"))
  }

  /** Simplified silhouette over a [[kmeansLloyd]] clustering — "are the
    * clusters REAL, or did k-means just carve a cloud": per point,
    * a = distance to its own centroid, b = the nearest OTHER centroid,
    * s = (b−a)/max(a,b) ∈ [−1, 1]; the per-cluster mean is the standard
    * clustering-quality readout (the centroid-based form — the full
    * pairwise silhouette is O(n²) and adds nothing at corpus scale). One
    * row per non-empty cluster: `(cluster, n, mean_silhouette,
    * mean_dist_own, mean_dist_other)`; points equidistant at 0 (both
    * centroids on top of the point) score 0. Requires ≥ 2 non-empty
    * clusters.
    *
    * Determinism contract: centroids are the decimal-exact means of the
    * FINAL assignment (Σ DECIMAL(30,12) / n, the [[kmeansLloyd]] update
    * rule), distances accumulate left-to-right over dimensions with the
    * centroid values embedded as literals, and each per-point
    * s/a/b quantizes to a 12-dp long BEFORE the cluster mean — so the
    * means are exact integer sums and a DuckDB oracle replays everything
    * from the same parquet.
    *
    * Scale: the [[kmeansLloyd]] passes, one more centroid aggregation,
    * then ONE map-side projection (k·dims literal arithmetic per row,
    * whole-stage codegen) into a k-bounded aggregate — no shuffle beyond
    * the groupBy, no pairwise joins. */
  def silhouetteSimplified(df: DataFrame, idCol: String, vecCol: String,
      initIds: Seq[Long], iterations: Int, dims: Int): DataFrame = {
    val assigned = kmeansLloyd(df, idCol, vecCol, initIds, iterations, dims)
    val base = df.select(col(idCol).cast("long").as("id"),
        slice(col(vecCol), 1, dims).as("v"))
      .join(assigned, Seq("id"))
    val aggs = (0 until dims).map(d =>
      sum(col("v").getItem(d).cast("decimal(30,12)")).as(s"s$d")) :+
      count(lit(1)).as("n")
    val rows = base.groupBy(col("cluster")).agg(aggs.head, aggs.tail: _*)
      .collect()
    require(rows.length >= 2,
      s"silhouette needs >= 2 non-empty clusters, got ${rows.length}")
    val centroids = rows.map { r =>
      val n = r.getLong(dims + 1).toDouble
      r.getInt(0) -> (0 until dims).map(d =>
        r.getDecimal(d + 1).doubleValue() / n).toArray
    }.sortBy(_._1)
    def d2To(c: Array[Double]): org.apache.spark.sql.Column =
      (0 until dims).map { d =>
        val diff = col("v").getItem(d).cast("double") - lit(c(d))
        diff * diff
      }.reduce(_ + _)
    val withD = centroids.foldLeft(base) { case (acc, (j, c)) =>
      acc.withColumn(s"__d2_$j", d2To(c))
    }
    val own = coalesce(centroids.map { case (j, _) =>
      when(col("cluster") === j, col(s"__d2_$j"))
    }: _*) // exactly one branch matches per row
    val otherMin = least(centroids.map { case (j, _) =>
      when(col("cluster") === j, lit(Double.PositiveInfinity))
        .otherwise(col(s"__d2_$j"))
    }: _*)
    val a = sqrt(own)
    val b = sqrt(otherMin)
    val sRaw = when(greatest(a, b) === 0.0, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    val q = withD
      .withColumn("__sQ", round(sRaw * 1e12, 0).cast("long"))
      .withColumn("__aQ", round(a * 1e12, 0).cast("long"))
      .withColumn("__bQ", round(b * 1e12, 0).cast("long"))
    q.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        (sum(col("__sQ")).cast("double") / 1e12 / count(lit(1)))
          .as("mean_silhouette"),
        (sum(col("__aQ")).cast("double") / 1e12 / count(lit(1)))
          .as("mean_dist_own"),
        (sum(col("__bQ")).cast("double") / 1e12 / count(lit(1)))
          .as("mean_dist_other"))
  }

  /** Orthogonal Procrustes alignment between two embedding spaces — the
    * model-migration tool: after an embedding upgrade, old and new
    * vectors for the SAME ids live in rotated/reflected spaces, and the
    * optimal orthogonal map R = argmin_{RᵀR=I} ‖AR − B‖_F lets cached
    * old vectors keep serving against the new index. Classical solution
    * (Schönemann 1966): R = UVᵀ from the SVD of the cross-moment
    * M = AᵀB. One row per matrix cell: `(i, j, r)` with R in row-major
    * (i indexes the A dimension).
    *
    * No linear-algebra dependency: M lands on the driver as d² EXACT
    * decimal sums (order-free), the SVD comes from
    * [[symmetricEigen cyclic Jacobi]] on MᵀM (V and σ², gap-independent)
    * with U = MVΣ⁻¹ — all O(d³) driver arithmetic at machine precision.
    * Refuses rank-deficient cross-moments (σ_min ≤ 1e-9·σ_max: the
    * rotation is not identifiable on the null space — typically ids that
    * never matched or a collapsed dimension).
    *
    * Scale: ONE id-equi-join (the vectors never shuffle twice) into a
    * d²-column decimal reduce; everything after is driver-side d×d. */
  def procrustesAlign(a: DataFrame, b: DataFrame, idCol: String,
      vecColA: String, vecColB: String, dims: Int): DataFrame = {
    require(dims >= 2 && dims <= 128, s"dims must be in 2..128: $dims")
    val spark = a.sparkSession
    import spark.implicits._
    val va = a.select(col(idCol).cast("long").as("id"),
      slice(col(vecColA), 1, dims).as("va"))
    val vb = b.select(col(idCol).cast("long").as("id"),
      slice(col(vecColB), 1, dims).as("vb"))
    val joined = va.join(vb, Seq("id"))
    val pairIdx = for { i <- 0 until dims; j <- 0 until dims } yield (i, j)
    val aggs = pairIdx.map { case (i, j) =>
      sum((col("va").getItem(i).cast("double") *
        col("vb").getItem(j).cast("double")).cast("decimal(30,12)"))
        .as(s"m_${i}_$j")
    } :+ count(lit(1)).as("n")
    val row = joined.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(dims * dims)
    require(n >= dims, s"procrustes needs >= $dims matched ids, got $n")
    val m = Array.ofDim[Double](dims, dims)
    pairIdx.zipWithIndex.foreach { case ((i, j), p) =>
      m(i)(j) = if (row.isNullAt(p)) 0.0 else row.getDecimal(p).doubleValue()
    }
    // MᵀM = VΣ²Vᵀ by Jacobi; U = MVΣ⁻¹; R = UVᵀ
    val mtm = Array.tabulate(dims, dims) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < dims) { s += m(k)(i) * m(k)(j); k += 1 }
      s
    }
    val (evals, v) = symmetricEigen(mtm)
    val sigma = evals.map(l => math.sqrt(math.max(l, 0.0)))
    val sMax = sigma.max
    require(sMax > 0 && sigma.min > 1e-9 * sMax,
      s"procrustes: cross-moment is rank-deficient (sigma = ${sigma.toSeq})" +
        " — the rotation is not identifiable")
    val u = Array.tabulate(dims, dims) { (i, k) =>
      var s = 0.0; var l = 0
      while (l < dims) { s += m(i)(l) * v(l)(k); l += 1 }
      s / sigma(k)
    }
    val r = Array.tabulate(dims, dims) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < dims) { s += u(i)(k) * v(j)(k); k += 1 }
      s
    }
    pairIdx.map { case (i, j) => (i, j, r(i)(j)) }.toDF("i", "j", "r")
  }

  /** LSH-bucketed ANN: candidates share at least one band bucket with the
    * query, re-ranked by exact cosine. Recall is tuned by
    * (numBits, numBands): more bands → more probes → higher recall. */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, k: Int,
      numBits: Int = 32, numBands: Int = 8, seed: Long = 42L): DataFrame = {
    require(numBits % numBands == 0, "numBits must divide into numBands evenly")
    val bitsPerBand = numBits / numBands
    // band on ids only — vectors are dropped before any shuffle, so the
    // bucket join and the candidate distinct move 16-byte rows, never the
    // embedding payload (same shape as Dedup.embeddingNearDup)
    def banded(df: DataFrame, id: String, vec: String, idAs: String) =
      df.select(col(id).as(idAs),
        VectorKernelFunctions.signBits(col(vec), dim, numBits, seed).as("__bits"))
        .select(col(idAs),
          posexplode(VectorFunctions.bandBuckets(col("__bits"), numBands, bitsPerBand))
            .as(Seq("band", "bucket")))

    val c = banded(corpus, corpusId, corpusVec, "nbr_id")
    val q = banded(queries, queryId, queryVec, "query_id")
    val candidates = c.join(broadcast(q), Seq("band", "bucket"))
      .select("query_id", "nbr_id").distinct()
    // vectors rejoin only for surviving candidate pairs: the candidate set
    // is small (|queries| × bucket occupancy), so it broadcasts into the
    // corpus scan — the corpus is never shuffled
    val cv = corpus.select(col(corpusId).as("nbr_id"), col(corpusVec).as("nbr_vec"))
    val qv = queries.select(col(queryId).as("query_id"), col(queryVec).as("query_vec"))
    val scored = cv.join(broadcast(candidates), Seq("nbr_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("nbr_id"),
        VectorKernelFunctions.cosineSimilarity(col("query_vec"), col("nbr_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Spherical k-means centroids from a bounded corpus sample. The sample
    * (≤ `sampleSize` vectors) trains on the driver — k-means training data
    * never needs to exceed ~100× the centroid count, so at 100 TB this is
    * still a bounded, seconds-long step; assignment (the expensive part)
    * stays fully distributed.
    *
    * The sample is the `sampleSize` vectors with the smallest
    * `xxhash64(vec, seed)` — a deterministic uniform draw over the WHOLE
    * corpus, independent of file layout (a plain `limit()` would take the
    * first partition's rows only, and centroids trained on one shard's
    * distribution collapse IVF recall on the rest). Physically this is
    * TakeOrderedAndProject: each partition keeps a `sampleSize` heap, only
    * the winners reach the driver — one scan, no shuffle. */
  def trainCentroids(corpus: DataFrame, vecCol: String, numLists: Int,
      sampleSize: Int = 4096, iterations: Int = 10, seed: Long = 42L): Array[Array[Double]] = {
    import org.apache.spark.sql.Row
    val sample: Array[Array[Double]] = corpus.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol), lit(seed)).asc, col(vecCol).asc)
      .limit(sampleSize)
      .collect().map { case Row(v: scala.collection.Seq[_]) =>
        normalize(v.map(x => x.asInstanceOf[Number].doubleValue()).toArray)
      }
    require(sample.nonEmpty, "cannot train centroids on an empty corpus")
    val k = math.min(numLists, sample.length)
    val rnd = new scala.util.Random(seed)
    var centroids = rnd.shuffle(sample.indices.toList).take(k).map(sample).toArray
    var iter = 0
    while (iter < iterations) {
      val sums = Array.fill(k)(new Array[Double](sample.head.length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearest(centroids, v)
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
        counts(c) += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c) // empty list keeps its centroid
        else normalize(sums(c))
      }
      iter += 1
    }
    centroids
  }

  /** Scan-local nearest-centroid assignment: adds `list_id`. Centroids ride
    * as broadcast literals into the compiled cosine kernel, so assignment is
    * one codegen'd projection — no shuffle, no UDF. Write the result
    * partitioned by `list_id` to make every later probe a partition-pruned
    * read. */
  def assignToLists(df: DataFrame, vecCol: String, centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("list_id", bestLists(col(vecCol), centroids, 1).getItem(0))

  /** IVF-flat ANN: probe the top-`nProbe` centroid lists per query, exact
    * cosine re-rank inside them. `nProbe = numLists` degenerates to exact
    * search; recall rises steeply with nProbe (the standard IVF trade). */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numLists: Int = 16, nProbe: Int = 4,
      sampleSize: Int = 4096, seed: Long = 42L): DataFrame = {
    val centroids = trainCentroids(corpus, corpusVec, numLists, sampleSize, seed = seed)
    val assigned = assignToLists(
      corpus.select(col(corpusId).as("nbr_id"), col(corpusVec).as("nbr_vec")), "nbr_vec", centroids)
    // each query probes its nProbe nearest lists; the probe table is tiny
    // (|queries| × nProbe) and broadcasts into the corpus scan
    val probes = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("query_vec"))
      .withColumn("list_id",
        explode(bestLists(col("query_vec"), centroids, math.min(nProbe, centroids.length))))
    val scored = assigned.join(broadcast(probes), Seq("list_id"))
      .select(col("query_id"), col("nbr_id"),
        VectorKernelFunctions.cosineSimilarity(col("query_vec"), col("nbr_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-group mean embedding (centroid): one row per `groupCol` value
    * with the element-wise mean vector and the group's vector count —
    * semantic cluster summaries, per-source drift monitoring, warm-start
    * centroids for [[ivfTopK]].
    *
    * Plan shape: `posexplode` unrolls (group, dim, value) inside the scan
    * stage; the per-(group, dim) average partially aggregates map-side, so
    * the one corpus-wide shuffle carries ≈ groups × dim × partitions
    * pre-combined rows, never corpus × dim. Reassembly groups |groups|×dim
    * rows — driver-scale. Vectors in a group must share a dimensionality
    * (ragged dims would average per-position over differing counts). */
  def groupCentroids(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val ex = df.select(col(groupCol).as("group"),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
    val means = ex.groupBy(col("group"), col("dim"))
      .agg(avg(col("v").cast("double")).as("m"), count(lit(1)).as("n"))
    // the field-extraction transform runs on |groups| small arrays after
    // aggregation — not per-row scan work
    means.groupBy(col("group")).agg(
      max(col("n")).as("n_vectors"),
      transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        x => x.getField("m")).as("centroid"))
  }

  /** Per-dimension statistics of an embedding column — the collapsed-dim /
    * dead-unit / scale-drift monitor for vector pipelines (a dimension
    * whose stddev ≈ 0 carries no information; one whose mean drifts
    * between snapshots signals an encoder change). Output: one row per
    * dimension index (0-based) — `(dim, n, mean, std, min, max)` with
    * population stddev.
    *
    * Plan: `posexplode` → one hash aggregation keyed by `dim`; partial
    * aggregation collapses each partition to ≤ `dims` rows before the
    * shuffle, so exchange volume is dimension-bounded, never
    * corpus-bounded. */
  def dimStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim"), col("__v").cast("double").as("__v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), avg(col("__v")).as("mean"),
        stddev_pop(col("__v")).as("std"),
        min(col("__v")).as("min"), max(col("__v")).as("max"))

  /** Mislabel / outlier candidates per label: the k vectors FARTHEST
    * (cosine distance) from their own label's centroid, with the
    * within-label z-score of that distance — the triage list an
    * annotation-QA pass reads first (a vector many σ from its class
    * centroid is either mislabeled or genuinely anomalous; the RANKED
    * complement of [[centroidOutliers]]' fixed-threshold flag). Output:
    * `(label, id, dist, z, rank)`, rank 1 = farthest; `z` is NULL for a
    * zero-variance label. Ranking compares the distance ROUNDED to 4
    * decimals (ties broken by id) — the centroid is an aggregated mean,
    * so raw distances carry summation-order float noise an external
    * replay cannot reproduce bit-for-bit; on the rounded value both
    * engines make the identical cutoff decision (the tfidfKeywords
    * precedent).
    *
    * Scale: centroids come from [[groupCentroids]] (dimension-bounded
    * aggregation) and broadcast back; distances are one scan-stage pass.
    * Per-label mean/σ and the top-k ride ONE aggregation — the top-k is
    * [[graft.functions.kernels.TopKRowsAgg]]'s bounded heap, combining
    * map-side, so the shuffle carries ≤ k rows per label per partition,
    * never a per-label sort of the corpus (the `row_number` window
    * formulation would sort every label's full slice). */
  def mislabelCandidates(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val cents = groupCentroids(df, labelCol, vecCol)
      .select(col("group").as("__lbl"), col("centroid"))
    val withD = df
      .select(col(labelCol).as("__lbl"), col(idCol).as("id"), col(vecCol).as("__v"))
      .join(broadcast(cents), "__lbl")
      .withColumn("dist",
        lit(1.0) - VectorKernelFunctions.cosineSimilarity(col("__v"), col("centroid")))
    withD.groupBy(col("__lbl"))
      .agg(
        avg(col("dist")).as("mu"),
        stddev_pop(col("dist")).as("sigma"),
        graft.functions.kernels.TopKRowsAgg.topK(k,
          Seq("id" -> col("id"), "dist" -> col("dist"),
            "rdist" -> round(col("dist"), 4)),
          Seq("rdist" -> false, "id" -> true)).as("__topk"))
      .select(col("__lbl"), col("mu"), col("sigma"),
        posexplode(col("__topk")).as(Seq("pos", "r")))
      .select(col("__lbl").as("label"), col("r.id").as("id"),
        col("r.dist").as("dist"),
        when(col("sigma") > 0, (col("r.dist") - col("mu")) / col("sigma")).as("z"),
        (col("pos") + 1).as("rank"))
  }

  /** Dimension-wise z-normalization: `(vᵢ − meanᵢ) / stdᵢ` per dimension
    * over the whole corpus (constant dimensions map to 0) — the standard
    * whitening-lite preprocessing before clustering or quantization when
    * dimensions carry wildly different scales.
    *
    * The stats reduce to ONE broadcast row of two `dims`-length arrays
    * ([[dimStats]] + an ordered collect per array), so the normalization
    * pass is a zero-shuffle projection over the corpus (`zip_with` —
    * codegen'd higher-order functions, no UDF). */
  def zNormalizeDims(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = dimStats(df, vecCol)
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
          x => x.getField("mean")).as("__means"),
        transform(array_sort(collect_list(struct(col("dim"), col("std")))),
          x => x.getField("std")).as("__stds"))
    df.select(col(idCol).as("id"), col(vecCol).as("__vec"))
      .crossJoin(broadcast(stats))
      .select(col("id"),
        zip_with(
          zip_with(transform(col("__vec"), v => v.cast("double")), col("__means"),
            (v, m) => v - m),
          col("__stds"),
          (d, s) => when(s > 0.0, d / s).otherwise(lit(0.0))).as("znorm"))
  }

  /** Pairwise cosine between group centroids — the source/language drift
    * matrix (two sources whose centroids sit at cosine ≈ 1 carry
    * near-identical content; a centroid drifting away from its historical
    * position flags a scraper or distribution change). One row per
    * unordered pair (group_a < group_b).
    *
    * Cost: [[groupCentroids]]'s aggregation, then a |groups|² pair join of
    * |groups| ROWS (driver-scale — group counts are tens-to-thousands, not
    * corpus-sized; the inequality join is a broadcast nested loop over that
    * tiny table by construction). */
  def centroidSimilarityMatrix(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val cents = groupCentroids(df, groupCol, vecCol)
      .select(col("group"), col("centroid"))
    val a = cents.select(col("group").as("group_a"), col("centroid").as("__ca"))
    val b = cents.select(col("group").as("group_b"), col("centroid").as("__cb"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        VectorKernelFunctions.cosineSimilarity(col("__ca"), col("__cb")).as("cosine"))
  }

  /** Cohesion scoring against the group's own centroid: each vector's
    * cosine to its group mean, with vectors below `threshold` flagged as
    * outliers — the embedding-space quality filter (mislabeled / off-topic
    * / garbled documents sit far from their cluster's center; SemDeDup-
    * style pipelines prune exactly these). Output: id, group, `cosine`
    * (rounded to `roundTo` decimals), `is_outlier`. The flag compares the
    * ROUNDED cosine so an external oracle recomputing the centroid with
    * differently-ordered floating-point sums lands on the identical
    * boundary decision.
    *
    * Plan shape: [[groupCentroids]]'s one partial-aggregated shuffle, then
    * the |groups|-row centroid table broadcasts back onto an unshuffled
    * corpus scan — the scoring pass is a pure projection through the
    * compiled cosine kernel. */
  def centroidOutliers(df: DataFrame, idCol: String, groupCol: String,
      vecCol: String, threshold: Double, roundTo: Int = 4): DataFrame = {
    val cents = groupCentroids(df, groupCol, vecCol)
      .select(col("group"), col("centroid"))
    val cosine = round(
      VectorKernelFunctions.cosineSimilarity(col(vecCol), col("centroid")), roundTo)
    df.join(broadcast(cents), df(groupCol) === cents("group"))
      .select(col(idCol), col(groupCol), cosine.as("cosine"),
        (cosine < threshold).as("is_outlier"))
  }

  /** Top-`m` centroid indices by cosine, as a codegen'd column expression:
    * an array of (cosine, index) structs reduced by struct ordering. The
    * m = 1 case (corpus assignment — the per-row hot path) is a plain
    * `array_max`; only query probing (tiny row count) pays the sort. */
  /** Materialize the IVF inverted lists as a `list_id`-partitioned parquet
    * layout — the stored form of [[ivfTopK]]'s `assignToLists` step. Written
    * once per corpus (the centroids are the layout's contract: keep them
    * with the table and pass the SAME array to [[ivfTopKStored]]); each
    * probe then reads ONLY the probed lists' directories via partition
    * pruning instead of scanning the corpus. */
  def writeIvfLists(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], path: String): Unit = {
    assignToLists(
      corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec")),
      "nbr_vec", centroids)
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    graft.io.AnnSidecar.write(corpus.sparkSession, path, graft.io.AnnSidecar.Meta(
      "ivf", Map("num_lists" -> centroids.length, "dim" -> centroids.head.length),
      centroids, None))
  }

  /** [[ivfTopKStored]] with the centroids loaded from the layout's own
    * sidecar — the layout is self-describing; nothing to keep in the
    * caller's head. */
  def ivfTopKStored(path: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, nProbe: Int): DataFrame = {
    val meta = graft.io.AnnSidecar.load(queries.sparkSession, path, "ivf")
    ivfTopKStored(path, meta.centroids, queries, queryId, queryVec, k, nProbe)
  }

  /** [[ivfTopK]] against lists stored by [[writeIvfLists]]: the probed
    * list ids become a LITERAL `IN` partition filter on the stored layout
    * (driver-side control data, bounded by numLists — never row data), so
    * the scan prunes to the probed directories (`PartitionFilters` in the
    * plan; asserted in PlanSpec), then the tiny probe table broadcasts
    * into the pruned scan for the exact cosine re-rank. Semantically
    * identical to a fused [[ivfTopK]] run with the same centroids; only
    * the plan — zero corpus-side recompute, bytes read ∝ probed lists —
    * changes. */
  def ivfTopKStored(path: String, centroids: Array[Array[Double]],
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    graft.io.AnnSidecar.verifyIfPresent(spark, path, "ivf", centroids, None)
    val probes = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("query_vec"))
      .withColumn("list_id",
        explode(bestLists(col("query_vec"), centroids, math.min(nProbe, centroids.length))))
    val probedLists = probes.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = graft.io.ParquetIO.read(spark, path)
      .filter(col("list_id").isin(probedLists.map(Integer.valueOf).toSeq: _*))
    val scored = lists.join(broadcast(probes), Seq("list_id"))
      .select(col("query_id"), col("nbr_id"),
        VectorKernelFunctions.cosineSimilarity(col("query_vec"), col("nbr_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** SemDeDup-style semantic deduplication (public recipe: Abbas et al.
    * 2023, arXiv:2303.09540): cluster the corpus embeddings coarsely, then
    * look for near-duplicate pairs ONLY inside each cluster — the cluster
    * assignment turns the corpus-quadratic cosine comparison into
    * Σ|cluster|², tunable via k (the paper runs k ≈ corpus/10k on
    * normalized embeddings, where k-means L2 ≡ cosine).
    *
    * Semantics (deterministic, oracle-replayable):
    *  - assignment: nearest centroid by squared L2 over the first
    *    `clusterDims` coordinates — the compiled
    *    [[VectorKernelFunctions.nearestCentroid]] kernel (left-to-right
    *    accumulation, ties to the lowest centroid index);
    *  - a vector is a duplicate iff some SAME-CLUSTER member with a lower
    *    id has full-vector cosine ≥ `tau` (one-pass greedy by id — every
    *    near-dup set keeps exactly its lowest id; no chaining across the
    *    threshold);
    *  - output: one row per vector `(id, cluster, dup_of, max_prior_cos,
    *    keep)` where `dup_of` is the LOWEST qualifying lower id (null for
    *    kept rows) and `max_prior_cos` the maximum cosine to any lower-id
    *    cluster-mate (null for each cluster's first member).
    *
    * Plan shape: one scan assigns (codegen projection, centroids ride as
    * literals), then vectors shuffle ONCE keyed by cluster for the
    * within-cluster self-join; the pair stream never leaves its cluster
    * partition and aggregates per id with map-side combine. At 100 TB the
    * knobs are k (bounds Σ|cluster|²) and AQE skew-join splitting for the
    * occasional giant cluster; the full-dimension vectors ride the one
    * cluster shuffle and nothing else. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], tau: Double,
      clusterDims: Int, roundTo: Int = 4): DataFrame = {
    require(centroids.nonEmpty, "at least one centroid required")
    require(tau >= -1 && tau <= 1, s"tau must be a cosine threshold: $tau")
    require(clusterDims >= 1, s"clusterDims must be >= 1: $clusterDims")
    val assigned = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"))
      .withColumn("cluster",
        VectorKernelFunctions.nearestCentroid(
          slice(col("__v"), 1, clusterDims), centroids.map(_.clone())))
    val left = assigned.select(col("cluster"), col("id").as("id_a"), col("__v").as("__va"))
    val right = assigned.select(col("cluster"), col("id").as("id"), col("__v").as("__vb"))
    val prior = left.join(right, Seq("cluster"))
      .filter(col("id_a") < col("id"))
      .select(col("id"), col("id_a"),
        VectorKernelFunctions.cosineSimilarity(col("__va"), col("__vb")).as("__cos"))
      .groupBy(col("id"))
      .agg(max(col("__cos")).as("__maxcos"),
        min(when(col("__cos") >= tau, col("id_a"))).as("dup_of"))
    assigned.join(prior, Seq("id"), "left")
      .select(col("id"), col("cluster"), col("dup_of"),
        round(col("__maxcos"), roundTo).as("max_prior_cos"),
        col("dup_of").isNull.as("keep"))
  }

  /** Materialize a [[semDedup]] corpus as a `cluster`-partitioned parquet
    * layout — the stored form of its assignment step, written ONCE per
    * corpus (the [[writeIvfLists]] precedent: the centroids are the
    * layout's contract — keep them with the table and pass the SAME array
    * to [[semDedupProbeStored]]). Each incremental batch then reads ONLY
    * its probed clusters' directories via partition pruning instead of
    * re-clustering (or re-scanning) the corpus. */
  def writeSemDedupClusters(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], clusterDims: Int, path: String): Unit = {
    require(centroids.nonEmpty, "at least one centroid required")
    corpus.select(col(idCol).cast("long").as("corpus_id"),
        col(vecCol).as("corpus_vec"))
      .withColumn("cluster",
        VectorKernelFunctions.nearestCentroid(
          slice(col("corpus_vec"), 1, clusterDims), centroids.map(_.clone())))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
    graft.io.AnnSidecar.write(corpus.sparkSession, path, graft.io.AnnSidecar.Meta(
      "semdedup", Map("num_clusters" -> centroids.length,
        "cluster_dims" -> clusterDims),
      centroids, None))
  }

  /** [[semDedupProbeStored]] with centroids and `clusterDims` loaded from
    * the layout's sidecar. */
  def semDedupProbeStored(newDf: DataFrame, idCol: String, vecCol: String,
      path: String, tau: Double): DataFrame = {
    val meta = graft.io.AnnSidecar.load(newDf.sparkSession, path, "semdedup")
    semDedupProbeStored(newDf, idCol, vecCol, path, meta.centroids, tau,
      meta.params("cluster_dims"))
  }

  /** [[semDedup]]'s incremental admission filter against a corpus stored
    * by [[writeSemDedupClusters]]: assign each batch vector to its cluster
    * (same compiled kernel — assignments are bit-identical to the stored
    * run), collect the probed cluster ids (driver-side control data,
    * bounded by |centroids| — never row data) into a LITERAL `IN`
    * partition filter on the stored layout, and compare each batch vector
    * against ONLY its own cluster's stored members. A batch vector is a
    * duplicate iff some CORPUS member of its cluster has full-vector
    * cosine ≥ `tau` (every corpus member is prior — no id ordering
    * inside the batch). Output: one row per batch vector
    * `(id, cluster, dup_of, max_corpus_cos, keep)` with `dup_of` the
    * lowest qualifying corpus id.
    *
    * Plan shape: bytes read ∝ probed clusters (`PartitionFilters` on the
    * scan — asserted in PlanSpec), comparisons Σ_c |batch_c|·|corpus_c|.
    * The batch is broadcast (the incremental-ingestion shape: batch ≪
    * corpus), so the pruned corpus scan takes NO shuffle at all. */
  def semDedupProbeStored(newDf: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Array[Array[Double]], tau: Double,
      clusterDims: Int, roundTo: Int = 4): DataFrame = {
    require(centroids.nonEmpty, "at least one centroid required")
    require(tau >= -1 && tau <= 1, s"tau must be a cosine threshold: $tau")
    val spark = newDf.sparkSession
    graft.io.AnnSidecar.verifyIfPresent(spark, path, "semdedup", centroids, None)
    // persisted: the batch scan + assignment kernel feed the probed-id
    // collect, the join's broadcast side AND the final left join — without
    // the cache they would run three times per probe. Caller-release
    // contract as with the LSH kernel bases: a library pin, so
    // ScaleOps.releaseCheckpointBlocks on the result frees exactly this
    // block (clearCache() remains the blunt alternative).
    val assigned = newDf.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("__v"))
      .withColumn("cluster",
        VectorKernelFunctions.nearestCentroid(
          slice(col("__v"), 1, clusterDims), centroids.map(_.clone())))
      .transform(graft.ops.ScaleOps.persisted)
    val probed = assigned.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    val corpus = graft.io.ParquetIO.read(spark, path)
      .filter(col("cluster").isin(probed.map(Integer.valueOf).toSeq: _*))
    val hits = corpus.join(broadcast(assigned), Seq("cluster"))
      .select(col("id"),
        VectorKernelFunctions.cosineSimilarity(col("__v"), col("corpus_vec"))
          .as("__cos"),
        col("corpus_id"))
      .groupBy(col("id"))
      .agg(max(col("__cos")).as("__maxcos"),
        min(when(col("__cos") >= tau, col("corpus_id"))).as("dup_of"))
    assigned.join(hits, Seq("id"), "left")
      .select(col("id"), col("cluster"), col("dup_of"),
        round(col("__maxcos"), roundTo).as("max_corpus_cos"),
        col("dup_of").isNull.as("keep"))
  }

  /** Symmetric per-vector int8 scalar quantization (the FAISS `SQ8`
    * recipe): `scale = max|x| / 127`, `code = clamp(⌊x/scale + 0.5⌋,
    * ±127)` — a pure scan projection (native `transform`/`array_max`, no
    * shuffle) that cuts embedding storage 4× while keeping cosine ranking
    * EXACT over the codes: cosine is scale-invariant, so
    * `cos(deq_a, deq_b) = cos(codes_a, codes_b)`, and with |code| ≤ 127
    * the dot/norm sums are exact integers far below 2²⁴ — bit-stable
    * across engines, no decimal machinery needed. The complementary
    * compressed-vector path to PQ/ADC ([[pqEncode]]): SQ8 keeps per-dim
    * resolution and exact in-family ranking; PQ compresses harder and
    * approximates. Zero vectors quantize to all-zero codes (scale 0
    * guard). Output: `(vec_id, scale, codes)`. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val x = col(vecCol)
    val scale = array_max(transform(x, v => abs(v.cast("double")))) / 127.0
    df.select(col(idCol).as("vec_id"), scale.as("scale"),
      transform(x, v =>
        when(scale === 0.0, lit(0L)).otherwise(
          greatest(lit(-127L), least(lit(127L),
            floor(v.cast("double") / scale + 0.5))))
          .cast("int")).as("codes"))
  }

  /** Brute-force top-k over int8-quantized vectors: the code arrays feed
    * the same compiled cosine kernel (cast to float — exact for ints ≤
    * 127), so ranking equals the dequantized ranking by scale invariance.
    * Queries come from the quantized table itself (symmetric search). */
  def int8TopK(quantized: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def f(df: DataFrame) = df.withColumn("__cf",
      transform(col("codes"), c => c.cast("float")))
    bruteForceTopK(f(quantized), "vec_id", "__cf",
      f(queries).select(col("vec_id").as("qid"), col("__cf").as("qvec")),
      "qid", "qvec", k)
  }

  /** Product-quantization codebooks (public recipe: Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI):
    * split the vector into `numSubspaces` contiguous blocks and give each
    * subspace its own codebook — here the seed vectors' subvectors (the
    * deterministic data-point seeding kmeansLloyd/semDedup use; swap in
    * per-subspace [[trainCentroids]] output for production codebooks). */
  def pqCodebooksFromSeeds(seeds: Array[Array[Double]],
      numSubspaces: Int): Array[Array[Array[Double]]] = {
    require(seeds.nonEmpty, "at least one seed vector required")
    val dims = seeds.head.length
    require(dims % numSubspaces == 0,
      s"dims $dims must split evenly into $numSubspaces subspaces")
    val sub = dims / numSubspaces
    Array.tabulate(numSubspaces)(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
  }

  /** PQ encoding: each vector becomes `m` small codes — the nearest
    * codebook entry per subspace (compiled nearest-centroid kernel;
    * left-to-right accumulation, ties to the lowest code). A 64-dim float
    * vector (256 B) compresses to m = 8 codes (8 B with k ≤ 256) — the
    * 32× scan-size reduction that makes billion-vector ANN a CPU-cache
    * problem instead of an I/O problem. Pure projection: no shuffle; at
    * 100 TB write the codes as a column next to the id and scan THAT. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val sub = codebooks.head.head.length
    df.select(col(idCol).as("id"),
      array(codebooks.indices.map(j =>
        VectorKernelFunctions.nearestCentroid(
          slice(col(vecCol), j * sub + 1, sub), codebooks(j).map(_.clone()))): _*)
        .as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: the query
    * stays full-precision; its squared-L2 distance to every centroid of
    * every subspace is tabulated ONCE per query (an m × k lookup table
    * built in the broadcast-side projection), and each corpus row then
    * costs m table lookups + m−1 adds — never a full d-dim distance.
    * `dist(q, x) ≈ Σ_j lut[j][code_j(x)]`.
    *
    * Determinism: LUT cells are plain double arithmetic (left-to-right
    * over the subspace dims, same as the encoding kernel); the m-cell sum
    * runs in DECIMAL(30,12) so it is order-independent and replayable
    * exactly by an external engine. Ranking compares the exact decimals,
    * ties to the ascending id.
    *
    * Plan: corpus scan reads (id, codes) only — the encoded table, 32×
    * smaller than the vectors — one broadcast of |Q| LUT rows, one
    * rank-window shuffle keyed by query. The classic production pairing
    * is IVF + PQ (probe lists, then ADC inside them) — implemented as
    * [[writeIvfPqCodes]] / [[ivfPqTopK]] (per-list residual encoding). */
  def pqTopK(encoded: DataFrame, queries: DataFrame, queryId: String,
      queryVec: String, codebooks: Array[Array[Array[Double]]],
      k: Int, roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val m = codebooks.length
    // LUT as ONE kernel node (see PqLutExpr): the unrolled column-tree
    // form cost ~3 s of driver-side Catalyst work per action at 8×16×8
    val lut = VectorKernelFunctions.pqLut(col(queryVec),
      codebooks.map(_.map(_.clone())))
    val q = queries.select(col(queryId).as("query_id"), lut.as("__lut"))
    val adc = (0 until m).map(j =>
        element_at(element_at(col("__lut"), j + 1), col("codes").getItem(j) + 1)
          .cast("decimal(30,12)"))
      .reduceLeft(_ + _)
    val scored = encoded.crossJoin(broadcast(q))
      .select(col("query_id"), col("id").as("nbr_id"), adc.as("__adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"),
        round(col("__adc").cast("double"), roundTo).as("adc_dist"), col("rank"))
  }

  /** Materialize the PQ codes as a stored table — the layout that makes
    * [[pqTopK]] a codes-only scan: the stored row is (id, m codes), ~32×
    * smaller than the float vectors, and a probe NEVER reads the embedding
    * column (q196's PlanSpec assert pins ReadSchema to the codes). Keep
    * the codebooks with the table — they are the layout's contract, like
    * [[writeIvfLists]]'s centroids. */
  def writePqCodes(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    pqEncode(corpus, idCol, vecCol, codebooks)
      .write.mode("overwrite").parquet(path)
    graft.io.AnnSidecar.write(corpus.sparkSession, path, graft.io.AnnSidecar.Meta(
      "pq", Map("m" -> codebooks.length, "codes" -> codebooks.head.length,
        "sub" -> codebooks.head.head.length),
      Array.empty, Some(codebooks)))
  }

  /** [[pqTopKStored]] with the codebooks loaded from the layout's own
    * sidecar — probing a stored codes table needs only its path. */
  def pqTopKStored(path: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int): DataFrame = {
    val meta = graft.io.AnnSidecar.load(queries.sparkSession, path, "pq")
    pqTopKStored(path, queries, queryId, queryVec, meta.codebooks.get, k)
  }

  /** [[pqTopK]] against codes stored by [[writePqCodes]]: identical
    * semantics (same codebooks ⇒ same ADC distances); only the plan
    * changes — the corpus scan reads the two stored columns and the
    * vectors are never touched. */
  def pqTopKStored(path: String, queries: DataFrame, queryId: String,
      queryVec: String, codebooks: Array[Array[Array[Double]]],
      k: Int): DataFrame = {
    graft.io.AnnSidecar.verifyIfPresent(queries.sparkSession, path, "pq",
      Array.empty, Some(codebooks))
    pqTopK(graft.io.ParquetIO.read(queries.sparkSession, path).select(col("id"), col("codes")),
      queries, queryId, queryVec, codebooks, k)
  }

  /** The production ANN pairing — IVF + PQ with per-list RESIDUAL encoding
    * (Jégou et al. 2011 §IV: quantize `x − c_list`, not `x` — residuals
    * concentrate near 0, so the same codebook budget buys far less
    * distortion): assign each vector to its nearest list centroid by
    * squared L2 (the [[VectorKernelFunctions.nearestCentroid]] kernel —
    * L2/k-means is the IVF-PQ contract, unlike [[writeIvfLists]]'s
    * max-cosine flat lists), PQ-encode the residual with the SHARED
    * `codebooks`, and store `(id, codes)` partitioned by `list_id`. The
    * layout composes q188's partition pruning with q196's codes-only scan:
    * a probe reads only its probed lists' directories AND only the m-byte
    * codes, never the vectors. Both centroids and codebooks are the
    * layout's contract — keep them with the table and pass the SAME arrays
    * to [[ivfPqTopK]]. One scan-local projection, no shuffle. */
  def writeIvfPqCodes(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    require(centroids.nonEmpty, "at least one centroid required")
    val sub = codebooks.head.head.length
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .withColumn("list_id",
        VectorKernelFunctions.nearestCentroid(col("__v"), centroids.map(_.clone())))
    val res = VectorKernelFunctions.centroidResidual(
      col("__v"), col("list_id"), centroids.map(_.clone()))
    assigned.select(col("id"), col("list_id"),
        array(codebooks.indices.map(j =>
          VectorKernelFunctions.nearestCentroid(
            slice(res, j * sub + 1, sub), codebooks(j).map(_.clone()))): _*)
          .as("codes"))
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    graft.io.AnnSidecar.write(corpus.sparkSession, path, graft.io.AnnSidecar.Meta(
      "ivfpq", Map("num_lists" -> centroids.length, "m" -> codebooks.length,
        "sub" -> sub, "dim" -> centroids.head.length),
      centroids, Some(codebooks)))
  }

  /** [[ivfPqTopK]] with centroids AND codebooks loaded from the layout's
    * sidecar — probing a stored table needs only its path. */
  def ivfPqTopK(path: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, nProbe: Int): DataFrame = {
    val meta = graft.io.AnnSidecar.load(queries.sparkSession, path, "ivfpq")
    ivfPqTopK(path, meta.centroids, meta.codebooks.get, queries,
      queryId, queryVec, k, nProbe)
  }

  /** ADC top-k against an IVF+PQ layout stored by [[writeIvfPqCodes]]:
    * each query picks its `nProbe` nearest list centroids (squared L2 via
    * the [[VectorKernelFunctions.pqLut]] kernel run with the centroid set
    * as a single whole-vector codebook — bit-identical accumulation to
    * the assignment kernel; ties to the lowest list), the probed list ids
    * become a LITERAL `IN` partition filter on the stored layout
    * (driver-side control data, bounded by |queries|·nProbe), and each
    * (query, list) pair carries its RESIDUAL lookup table
    * `lut[j][c] = Σᵢ ((q−c_list)[j·sub+i] − codebooks[j][c][i])²` built
    * once on the broadcast side. A candidate row then costs m lookups +
    * m−1 adds in DECIMAL(30,12) — order-independent and replayable
    * exactly by an external engine ([[pqTopK]]'s determinism contract).
    * Ranking is per query across all its probed lists, ties to the
    * ascending id.
    *
    * Plan: pruned codes-only scan (PartitionFilters + ReadSchema asserted
    * in PlanSpec), one broadcast of |Q|·nProbe LUT rows joined on
    * `list_id`, one rank-window shuffle keyed by query. Bytes read scale
    * with probed lists × m bytes/row — at 100 TB the corpus side is
    * ~nProbe/numLists of a 32×-compressed table. */
  def ivfPqTopK(path: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], queries: DataFrame,
      queryId: String, queryVec: String, k: Int, nProbe: Int,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    val spark = queries.sparkSession
    graft.io.AnnSidecar.verifyIfPresent(spark, path, "ivfpq",
      centroids, Some(codebooks))
    val m = codebooks.length
    val np = math.min(nProbe, centroids.length)
    // squared-L2 distances to every list centroid, as ONE kernel row
    val cells = element_at(
      VectorKernelFunctions.pqLut(col("query_vec"),
        Array(centroids.map(_.clone()))), 1)
    // persisted: the probe table feeds the probed-id collect AND the
    // join's broadcast side — without the cache the (possibly
    // nondeterministic) query plan would execute twice, and a second
    // execution assigning a list OUTSIDE the collected literal filter
    // would silently drop candidates. Caller-release contract as with
    // the LSH kernel bases (a library pin, freed by releaseCheckpointBlocks).
    val probes0 = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("query_vec"))
      .withColumn("__cells", cells)
      .withColumn("list_id", explode(transform(
        slice(array_sort(transform(
          sequence(lit(0), lit(centroids.length - 1)),
          i => struct(element_at(col("__cells"), i + 1).as("d"), i.as("i")))),
          1, np),
        s => s.getField("i"))))
      .transform(graft.ops.ScaleOps.persisted)
    val probedLists = probes0.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val qres = VectorKernelFunctions.centroidResidual(
      col("query_vec"), col("list_id"), centroids.map(_.clone()))
    val probes = probes0.select(col("query_id"), col("list_id"),
      VectorKernelFunctions.pqLut(qres, codebooks.map(_.map(_.clone()))).as("__lut"))
    val codesDf = graft.io.ParquetIO.read(spark, path)
      .filter(col("list_id").isin(probedLists.map(Integer.valueOf).toSeq: _*))
      .select(col("list_id"), col("id"), col("codes"))
    val adc = (0 until m).map(j =>
        element_at(element_at(col("__lut"), j + 1), col("codes").getItem(j) + 1)
          .cast("decimal(30,12)"))
      .reduceLeft(_ + _)
    val scored = codesDf.join(broadcast(probes), Seq("list_id"))
      .select(col("query_id"), col("id").as("nbr_id"), adc.as("__adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"),
        round(col("__adc").cast("double"), roundTo).as("adc_dist"), col("rank"))
  }

  /** Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein, SIGIR'98):
    * greedily pick `k` results that balance relevance against redundancy —
    * `score(d) = λ·rel(d) − μ·max_{s∈S} sim(d, s)` with S the picks so
    * far. The standard diversification pass over an ANN candidate list
    * (near-duplicate corpus entries otherwise fill every slot).
    *
    * `candidates` is a per-query top-k table `(query_id, nbr_id, cosine)`
    * (e.g. [[bruteForceTopK]]'s output); vectors resolve from `corpus`.
    * Pass μ explicitly (default 0.3): computing `1 − λ` in binary gives
    * 0.30000000000000004, which is NOT the 0.3 an external decimal-literal
    * engine would use — the pair must be exact complements on both sides
    * of an oracle. Relevance and pairwise cosines are rounded to `roundTo`
    * BEFORE the greedy loop, so scores are engine-replayable; ties pick
    * the lowest id.
    *
    * Plan shape: the candidate×candidate cosine join and the greedy loop
    * both run on |Q|·k²-bounded data — `flatMapGroups` holds ONE query's
    * candidate list (k rows + k² sims) at a time, never the corpus. The
    * greedy selection is inherently sequential per query (each pick
    * changes the next score); per-group state is the textbook place for
    * it. */
  def mmrRerank(candidates: DataFrame, corpus: DataFrame, corpusId: String,
      corpusVec: String, k: Int, lambda: Double = 0.7, mu: Double = 0.3,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates.select(col("query_id").cast("long").as("query_id"),
      col("nbr_id").cast("long").as("nbr_id"),
      round(col("cosine").cast("double"), roundTo).as("rel"))
    val v = corpus.select(col(corpusId).cast("long").as("nbr_id"), col(corpusVec).as("__v"))
    val cv = cand.join(v, "nbr_id")
    val a = cv.select(col("query_id"), col("nbr_id"), col("__v").as("__va"))
    val b = cv.select(col("query_id"), col("nbr_id").as("other_id"), col("__v").as("__vb"))
    val sims = a.join(b, Seq("query_id")).filter(col("nbr_id") =!= col("other_id"))
      .select(col("query_id"), col("nbr_id"), col("other_id"),
        round(VectorKernelFunctions.cosineSimilarity(col("__va"), col("__vb")), roundTo).as("sim"))
      .groupBy(col("query_id"), col("nbr_id"))
      .agg(collect_list(struct(col("other_id").as("_1"), col("sim").as("_2"))).as("sims"))
    val packed = cand.join(sims, Seq("query_id", "nbr_id"), "left")
      .select(col("query_id"), col("nbr_id"), col("rel"),
        coalesce(col("sims"), array().cast("array<struct<_1:bigint,_2:double>>")).as("sims"))
      .as[(Long, Long, Double, Seq[(Long, Double)])]
    packed.groupByKey(_._1).flatMapGroups { (q, it) =>
      // candidates are nominally unique per (query_id, nbr_id); if an
      // upstream feeds duplicates they collapse HERE, deterministically
      // (highest rel wins, not input order) — the greedy then runs over
      // unique ids, so duplicates can never multiply or starve the list
      val cs = it.toArray.sortBy(c => (c._2, -c._3)).distinctBy(_._2)
      val rel = cs.map(c => c._2 -> c._3).toMap
      val simOf = cs.map(c => c._2 -> c._4.toMap).toMap
      val remaining = scala.collection.mutable.SortedSet(cs.map(_._2): _*)
      val out = Vector.newBuilder[(Long, Long, Double, Int)]
      var rank = 1
      var selected = List.empty[Long]
      while (rank <= k && remaining.nonEmpty) {
        var bestId = -1L
        var bestScore = Double.NegativeInfinity
        for (d <- remaining) { // ascending ids + strict > ⇒ lowest id wins ties
          val maxSim =
            if (selected.isEmpty) 0.0
            else selected.map(s => simOf(d).getOrElse(s, 0.0)).max
          val score = lambda * rel(d) - mu * maxSim
          if (score > bestScore) { bestScore = score; bestId = d }
        }
        out += ((q, bestId, bestScore, rank))
        selected ::= bestId
        remaining -= bestId
        rank += 1
      }
      out.result()
    }.toDF("query_id", "nbr_id", "__score", "rank")
      .select(col("query_id"), col("nbr_id"),
        round(col("__score"), roundTo).as("mmr_score"), col("rank"))
  }

  private def bestLists(vec: org.apache.spark.sql.Column, centroids: Array[Array[Double]],
      m: Int): org.apache.spark.sql.Column = {
    val scoredLists = array(centroids.zipWithIndex.map { case (ct, i) =>
      struct(
        VectorKernelFunctions.cosineSimilarity(vec, typedLit(ct.toSeq)).as("c"),
        lit(i).as("i"))
    }.toSeq: _*)
    if (m == 1) array(array_max(scoredLists).getField("i"))
    else transform(slice(reverse(array_sort(scoredLists)), 1, m), s => s.getField("i"))
  }

  private def nearest(centroids: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { d += centroids(c)(i) * v(i); i += 1 }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val inv = if (n == 0) 0.0 else 1.0 / math.sqrt(n)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  /** Sample covariance matrix of an embedding column — the anisotropy /
    * collapsed-dimension diagnostic ([[dimStats]] reports per-dim
    * variance; the OFF-diagonal structure is what tells you whether two
    * dims carry the same signal, and it feeds [[pcaComponents]]). Output:
    * one row per upper-triangle cell `(i, j, mean_i, mean_j, cov)`
    * (0-based, i ≤ j), d(d+1)/2 rows for dimension d.
    *
    * Scale: ONE [[graft.functions.kernels.VectorMomentsAgg]] pass — a
    * single fused-multiply-add sweep per row, one ~d²/2-double buffer per
    * partition shuffled, never a posexplode² row blowup. The reshape to
    * cells happens on the driver from the one aggregate row (d-bounded,
    * not data-bounded). */
  def embeddingCovariance(df: DataFrame, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    val row = df.filter(col(vecCol).isNotNull)
      .agg(graft.functions.kernels.VectorMomentsAgg
        .vectorMoments(col(vecCol)).as("m"))
      .selectExpr("m.n", "m.sums", "m.xtx").head()
    import spark.implicits._
    if (row.isNullAt(0)) {
      return Seq.empty[(Int, Int, Double, Double, Double)]
        .toDF("i", "j", "mean_i", "mean_j", "cov")
    }
    val n = row.getLong(0)
    val s = row.getSeq[Double](1).toArray
    val ss = row.getSeq[Double](2).toArray
    val d = s.length
    val cells = for {
      i <- 0 until d
      j <- i until d
    } yield {
      val k = i * d - i * (i - 1) / 2 + (j - i)
      val cov = if (n >= 2) (ss(k) - s(i) * s(j) / n) / (n - 1) else Double.NaN
      (i, j, s(i) / n, s(j) / n,
        if (n >= 2) cov else Double.NaN)
    }
    cells.toDF("i", "j", "mean_i", "mean_j", "cov")
  }

  /** Full eigendecomposition of a symmetric d×d matrix by cyclic Jacobi
    * rotations (the classical Golub & Van Loan algorithm) — deterministic,
    * quadratically convergent, and GAP-INDEPENDENT: near-degenerate
    * spectra (the common shape for real embedding covariances, where
    * power iteration's (λ₂/λ₁)^k rate stalls) still resolve to machine
    * precision. Returns (eigenvalues by index, eigenvector matrix with
    * eigenvectors in COLUMNS). Driver-side O(sweeps·d³); d is an
    * embedding dimensionality, so microseconds. */
  private[graft] def symmetricEigen(m: Array[Array[Double]],
      maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      math.sqrt(2 * s)
    }
    val scale = {
      var s = 0.0
      for (i <- 0 until d; j <- 0 until d) s += a(i)(j) * a(i)(j)
      math.sqrt(s)
    }
    var sweep = 0
    while (sweep < maxSweeps && offNorm > 1e-14 * scale && scale > 0) {
      for (p <- 0 until d - 1; q <- p + 1 until d) {
        val apq = a(p)(q)
        if (apq != 0.0) {
          val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
          val t = (if (theta >= 0) 1.0 else -1.0) /
            (math.abs(theta) + math.sqrt(theta * theta + 1))
          val c = 1 / math.sqrt(t * t + 1)
          val s = t * c
          var i = 0
          while (i < d) { // A ← AJ (columns p, q)
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
            i += 1
          }
          i = 0
          while (i < d) { // A ← JᵀA (rows p, q)
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
            i += 1
          }
          i = 0
          while (i < d) { // V ← VJ
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
            i += 1
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Top-k principal components — the PCA behind whitening, anisotropy
    * removal and low-rank compression of an embedding column, with NO
    * linear-algebra dependency: the covariance lands on the driver via
    * the one-pass moments kernel (d×d doubles — 32 KB at d = 64), then
    * [[symmetricEigen cyclic Jacobi]] eigendecomposes it to machine
    * precision (deterministic, no RNG; sign fixed so the
    * largest-|coordinate| is positive; equal eigenvalues break ties by
    * ascending original index). Returns
    * `(component, dim, value, eigenvalue, explained_var_ratio)` rows
    * (k·d of them) where ratio = λ / trace(C).
    *
    * Scale: one distributed moments pass; everything after is
    * O(sweeps·d³) on the driver — microseconds at embedding dims.
    * Accuracy: Jacobi is gap-independent, so the near-degenerate spectra
    * of real embedding corpora (where the previous power-iteration
    * design resolved eigenpairs only to ~1e-2 relative residual) come
    * back with ‖Cv − λv‖/λ ≈ 1e-15 — tight enough that the q316 catalog
    * query pins the residual/orthonormality invariants to literal
    * zero/one through the DuckDB oracle. */
  def pcaComponents(df: DataFrame, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = df.sparkSession
    val row = df.filter(col(vecCol).isNotNull)
      .agg(graft.functions.kernels.VectorMomentsAgg
        .vectorMoments(col(vecCol)).as("m"))
      .selectExpr("m.n", "m.sums", "m.xtx").head()
    import spark.implicits._
    require(!row.isNullAt(0) && row.getLong(0) >= 2,
      "pcaComponents needs at least 2 non-null vectors")
    val n = row.getLong(0)
    val s = row.getSeq[Double](1).toArray
    val ss = row.getSeq[Double](2).toArray
    val d = s.length
    require(k <= d, s"k ($k) must be <= dim ($d)")
    val c = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val kk = i * d - i * (i - 1) / 2 + (j - i)
      val cov = (ss(kk) - s(i) * s(j) / n) / (n - 1)
      c(i)(j) = cov; c(j)(i) = cov
    }
    val trace = (0 until d).map(i => c(i)(i)).sum
    val (eig, vecs) = symmetricEigen(c)
    // descending eigenvalue order, ties broken by ascending original
    // index — fully deterministic
    val order = (0 until d).sortBy(i => (-eig(i), i))
    val comps = Seq.newBuilder[(Int, Int, Double, Double, Double)]
    for (comp <- 0 until k) {
      val idx = order(comp)
      val raw = Array.tabulate(d)(i => vecs(i)(idx))
      val argmax = (0 until d).maxBy(i => (math.abs(raw(i)), -i))
      val sign = if (raw(argmax) < 0) -1.0 else 1.0
      for (i <- 0 until d)
        comps += ((comp, i, raw(i) * sign, eig(idx),
          if (trace > 0) eig(idx) / trace else Double.NaN))
    }
    comps.result()
      .toDF("component", "dim", "value", "eigenvalue", "explained_var_ratio")
  }

  /** Isotropy score of an embedding column — the expected cosine between
    * two RANDOM vectors from the corpus, computed exactly without any
    * pair enumeration: for unit vectors, E[cos(u_i, u_j)] over distinct
    * pairs = (‖Σu‖² − n) / (n(n−1)). A healthy embedding space scores
    * near 0 (directions spread out); anisotropic/collapsed spaces (the
    * common contextual-embedding pathology) score high, which breaks
    * cosine-threshold dedup and ANN recall assumptions — check this
    * BEFORE trusting [[Dedup.embeddingNearDup]] thresholds. One row:
    * `(n, mean_pairwise_cos)`; zero-norm vectors drop.
    *
    * Scale: one normalize-and-posexplode pass partially aggregated to d
    * per-dimension sums — no pair join anywhere; the identity does the
    * n² work. */
  def isotropyScore(df: DataFrame, vecCol: String): DataFrame = {
    val u = df.filter(col(vecCol).isNotNull)
      .select(VectorFunctions.l2Normalize(col(vecCol)).as("u"),
        VectorFunctions.norm(col(vecCol)).as("_nrm"))
      .filter(col("_nrm") > 0)
    val dims = u.select(posexplode(col("u")).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(sum(col("v")).as("sv"))
    val tot = dims.agg(sum(col("sv") * col("sv")).as("s2"))
    val nn = u.agg(count(lit(1)).as("n"))
    tot.crossJoin(broadcast(nn))
      .select(col("n"),
        when(col("n") >= 2,
          (col("s2") - col("n")) / (col("n") * (col("n") - lit(1.0))))
          .as("mean_pairwise_cos"))
  }

  /** Linear CKA (centered kernel alignment) between two embedding
    * columns — the standard "do these two representations encode the
    * same structure?" score (Kornblith et al. 2019): CKA = ‖C_ab‖²_F /
    * (‖C_aa‖_F·‖C_bb‖_F) over the centered cross/self covariance
    * blocks. 1 = same geometry up to rotation/scale, → 0 = unrelated.
    * Use it to judge a truncation, a quantization, or a re-embedding
    * before swapping models under a dedup threshold. One row:
    * `(n, dim_a, dim_b, cka)`; NULL when either side has zero variance.
    * Rows need BOTH vectors (complete-case).
    *
    * Scale: the two vectors CONCATENATE per row and ride ONE
    * [[graft.functions.kernels.VectorMomentsAgg]] pass ((dₐ+d_b)²/2
    * buffer doubles); the block algebra is driver-side. No second scan,
    * no pairwise anything. */
  def linearCka(df: DataFrame, colA: String, colB: String): DataFrame = {
    val base = df.filter(col(colA).isNotNull && col(colB).isNotNull)
    // no complete row (or a NULL size) reads as dimension 0: the n = 0 row
    val da = base.select(size(col(colA))).head(1).headOption match {
      case Some(r) if !r.isNullAt(0) => r.getInt(0)
      case _ => 0
    }
    val spark = df.sparkSession
    import spark.implicits._
    def out(n: Long, db: Int, cka: Option[Double]) =
      Seq((n, da, db, cka)).toDF("n", "dim_a", "dim_b", "cka")
    if (da == 0) return out(0L, 0, None)
    val row = base
      .select(concat(col(colA), col(colB)).as("_cat"))
      .agg(graft.functions.kernels.VectorMomentsAgg
        .vectorMoments(col("_cat")).as("m"))
      .selectExpr("m.n", "m.sums", "m.xtx").head()
    val n = row.getLong(0)
    val s = row.getSeq[Double](1).toArray
    val ss = row.getSeq[Double](2).toArray
    val d = s.length
    val db = d - da
    require(db >= 1, s"colB must be non-empty (total $d, dim_a $da)")
    def cov(i: Int, j: Int): Double = {
      val (lo, hi) = if (i <= j) (i, j) else (j, i)
      val k = lo * d - lo * (lo - 1) / 2 + (hi - lo)
      (ss(k) - s(i) * s(j) / n) / (n - 1)
    }
    var (fab, faa, fbb) = (0.0, 0.0, 0.0)
    for (i <- 0 until da; j <- 0 until da) { val c = cov(i, j); faa += c * c }
    for (i <- da until d; j <- da until d) { val c = cov(i, j); fbb += c * c }
    for (i <- 0 until da; j <- da until d) { val c = cov(i, j); fab += c * c }
    out(n, db, Option.when(faa > 0 && fbb > 0)(fab / math.sqrt(faa * fbb)))
  }

  /** Mahalanobis distance per vector — the covariance-aware outlier
    * score ([[centroidOutliers]] uses raw cosine distance, which
    * over-flags along high-variance directions; Mahalanobis whitens
    * first, so "3σ" means 3σ in EVERY direction). One pass of the
    * moments kernel lands μ and C on the driver; C + ridge·I factors by
    * Cholesky, L⁻¹ comes from d forward substitutions, and each row's
    * d² = ‖L⁻¹(x−μ)‖² evaluates as d codegen'd dot-product kernels
    * against literal rows — no UDF, corpus never shuffles. Output: the
    * input plus `mahalanobis_sq` (squared distance; E[d²] ≈ dim under
    * the fitted model — a self-check the spec and the catalog query
    * both pin). Needs n ≥ dim + 1 for a non-degenerate C; `ridge`
    * regularizes collapsed directions (documented bias: distances along
    * a zero-variance direction read as (Δ/√ridge)², i.e. huge — which
    * is exactly the outlier semantics you want for a frozen dim).
    *
    * Scale: one kernel aggregation + one projection scan; driver work
    * is O(d³) for the factorization (d = 64 → microseconds). */
  def mahalanobisScores(df: DataFrame, vecCol: String,
      ridge: Double = 1e-9, outCol: String = "mahalanobis_sq"): DataFrame = {
    require(ridge >= 0, s"ridge must be >= 0: $ridge")
    val row = df.filter(col(vecCol).isNotNull)
      .agg(graft.functions.kernels.VectorMomentsAgg
        .vectorMoments(col(vecCol)).as("m"))
      .selectExpr("m.n", "m.sums", "m.xtx").head()
    require(!row.isNullAt(0) && row.getLong(0) >= 2,
      "mahalanobisScores needs at least 2 non-null vectors")
    val n = row.getLong(0)
    val s = row.getSeq[Double](1).toArray
    val ss = row.getSeq[Double](2).toArray
    val d = s.length
    val mu = s.map(_ / n)
    val c = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val kk = i * d - i * (i - 1) / 2 + (j - i)
      val cov = (ss(kk) - s(i) * s(j) / n) / (n - 1)
      c(i)(j) = cov; c(j)(i) = cov
    }
    for (i <- 0 until d) c(i)(i) += ridge
    // Cholesky C = L Lt (lower), then W = L^-1 by forward substitution
    val lm = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- 0 to i) {
      var acc = c(i)(j)
      var k = 0
      while (k < j) { acc -= lm(i)(k) * lm(j)(k); k += 1 }
      if (i == j) {
        require(acc > 0,
          s"covariance not positive definite at dim $i — raise ridge")
        lm(i)(i) = math.sqrt(acc)
      } else lm(i)(j) = acc / lm(j)(j)
    }
    val wInv = Array.ofDim[Double](d, d) // rows of L^-1
    for (i <- 0 until d) {
      wInv(i)(i) = 1.0 / lm(i)(i)
      // W_ij = −(Σ_{k=j}^{i−1} L_ik·W_kj) / L_ii, rows k < i complete
      for (j <- 0 until i) {
        var acc = 0.0
        var k = j
        while (k < i) { acc -= lm(i)(k) * wInv(k)(j); k += 1 }
        wInv(i)(j) = acc / lm(i)(i)
      }
    }
    // d^2 = sum_i (w_i . x - w_i . mu)^2 — one dot kernel per component
    val zs = (0 until d).map { i =>
      val w = wInv(i)
      val shift = w.zip(mu).map { case (a, b) => a * b }.sum
      val z = VectorFunctions.dot(col(vecCol), typedLit(w.toSeq)) - shift
      z * z
    }
    df.withColumn(outCol, zs.reduce(_ + _))
  }

  /** Project (and optionally whiten) an embedding column onto fixed
    * components — z_c = wᵀ(x − μ), ÷ √(λ+eps) when whitening. Components
    * and means arrive as plain driver arrays (the [[pcaComponents]]
    * output, collected k·d-bounded); each output coordinate compiles to
    * ONE codegen'd dot-product kernel against a literal vector plus a
    * precomputed scalar shift — no UDF, no per-row allocation beyond the
    * output array, corpus never shuffles. */
  def pcaProject(df: DataFrame, vecCol: String,
      means: Array[Double], components: Array[Array[Double]],
      eigenvalues: Array[Double] = Array.empty, eps: Double = 1e-9,
      outCol: String = "projection"): DataFrame = {
    require(components.nonEmpty, "at least one component required")
    require(eigenvalues.isEmpty || eigenvalues.length == components.length,
      "eigenvalues must match components when whitening")
    val zs = components.zipWithIndex.map { case (w, i) =>
      val shift = w.zip(means).map { case (a, b) => a * b }.sum
      val scale = if (eigenvalues.isEmpty) 1.0
        else 1.0 / math.sqrt(eigenvalues(i) + eps)
      ((VectorFunctions.dot(col(vecCol), typedLit(w.toSeq)) - shift) * scale)
        .as(s"_z$i")
    }
    df.withColumn(outCol, array(zs: _*))
  }
}
