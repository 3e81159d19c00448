package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.kernels.VectorKernelFunctions
import graft.operators.{Search, Similarity}

import Support._

/** Catalog family: lexical and dense retrieval (BM25, TF-IDF, exact and
  * ANN top-k, IVF, PQ, IVF+PQ, MMR, hybrid fusion, ranking metrics) and
  * embedding analysis built on [[graft.operators.Similarity]] (k-means,
  * PCA, SemDeDup, centroids, projections, outliers). */
object Retrieval {

  /** Shared q276/q277 eval scenario: brand recommendations per sampled
    * customer (custkey % 20 == 1 — a bounded query set at any sf) ranked
    * by first-half revenue, judged on second-half purchase counts. Returns
    * (results(c, b, r), qrels(c, b, rel)). Ranks use the ROUNDED revenue
    * with brand-asc tiebreak — a total order, identical on both engines. */
  private def brandRecEval(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = read(s, dir, "lineitem")
    val ord = read(s, dir, "orders").filter(col("o_custkey") % 20 === 1)
    val part = read(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val base = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .select(col("o_custkey").as("c"), col("p_brand").as("b"),
        to_date(col("o_orderdate")).as("d"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val split = lit("1998-06-01").cast("date")
    val h1 = base.filter(col("d") < split)
      .groupBy(col("c"), col("b")).agg(round(sum(col("rev")), 2).as("s"))
    val w = Window.partitionBy(col("c")).orderBy(col("s").desc, col("b").asc)
    val res = h1.withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select(col("c"), col("b"), col("r"))
    val rel = base.filter(col("d") >= split)
      .groupBy(col("c"), col("b"))
      .agg(least(count(lit(1)), lit(4L)).as("rel"))
    (res, rel)
  }

  /** Stage (once per source dir per JVM) the q196 PQ layout: seed
    * codebooks + the encoded codes table. The codebooks ride in the cache
    * with the path — they are the layout's contract (q188's pattern). */
  private val pqCodesCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Array[Double]]])]()
  private def stagePqCodes(s: SparkSession,
      dir: String): (String, Array[Array[Array[Double]]]) =
    pqCodesCache.computeIfAbsent(dir, { d =>
      val emb = read(s, d, "embeddings")
      val seeds = emb.filter(col("vec_id") < 16)
        .orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cbs = Similarity.pqCodebooksFromSeeds(seeds, numSubspaces = 8)
      val path = java.nio.file.Files.createTempDirectory("graft_pq_").toString + "/codes"
      Similarity.writePqCodes(emb, "vec_id", "embedding", cbs, path)
      (path, cbs)
    })

  /** Stage (once per source dir per JVM) the q188 IVF layout: centroids
    * trained on the embeddings corpus (deterministic seeded sample), lists
    * written partitioned by list_id. Cached so bench passes measure the
    * PRUNED PROBE, not the one-time layout job; the centroids array is
    * part of the layout's contract and rides in the cache with the path. */
  private val ivfListsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Double]])]()
  private[graft] def stageIvfLists(s: SparkSession, dir: String): (String, Array[Array[Double]]) =
    ivfListsCache.computeIfAbsent(dir, { d =>
      val emb = read(s, d, "embeddings")
      val centroids = Similarity.trainCentroids(emb, "embedding", numLists = 16)
      val path = java.nio.file.Files.createTempDirectory("graft_ivf_").toString + "/lists"
      Similarity.writeIvfLists(emb, "vec_id", "embedding", centroids, path)
      (path, centroids)
    })

  /** Stage (once per source dir per JVM) the q207 IVF+PQ layout: list
    * centroids = the full vectors of vec_id < 8 (data-point seeds the
    * oracle recomputes from the table), residual codebooks = the
    * RESIDUALS of vec_id < 16 against their own assigned lists, split
    * into 8 subspaces. Both ride with the path — they are the layout's
    * contract (q188/q196 precedent). The first 8 codebook entries are
    * zero vectors (a seed's residual to itself) — harmless: they encode
    * "sits at the centroid". */
  private val ivfPqCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Array[Array[Double]], Array[Array[Array[Double]]])]()
  private[graft] def stageIvfPq(s: SparkSession, dir: String)
      : (String, Array[Array[Double]], Array[Array[Array[Double]]]) =
    ivfPqCache.computeIfAbsent(dir, { d =>
      val emb = read(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      import graft.functions.kernels.VectorKernelFunctions
      val residSeeds = emb.filter(col("vec_id") < 16)
        .orderBy(col("vec_id"))
        .select(VectorKernelFunctions.centroidResidual(
          col("embedding"),
          VectorKernelFunctions.nearestCentroid(col("embedding"), cents),
          cents))
        .collect().map(_.getSeq[Double](0).toArray)
      val cbs = Similarity.pqCodebooksFromSeeds(residSeeds, numSubspaces = 8)
      val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString + "/codes"
      Similarity.writeIvfPqCodes(emb, "vec_id", "embedding", cents, cbs, path)
      (path, cents, cbs)
    })

  /** Stage (once per source dir per JVM) the q206 SemDeDup layout: the
    * even-vec_id corpus half clustered on the q189 seed centroids (8-dim
    * prefixes of vec_id < 8) and written cluster-partitioned. Cached so
    * bench passes measure the PRUNED PROBE, not the one-time layout write;
    * the centroids are the layout's contract and ride with the path. */
  private val semDedupClustersCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Double]])]()
  private[graft] def stageSemDedupClusters(s: SparkSession,
      dir: String): (String, Array[Array[Double]]) =
    semDedupClustersCache.computeIfAbsent(dir, { d =>
      val emb = read(s, d, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(slice(col("embedding"), 1, 8))
        .collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val path = java.nio.file.Files.createTempDirectory("graft_sdd_").toString + "/clusters"
      Similarity.writeSemDedupClusters(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        seeds, clusterDims = 8, path)
      (path, seeds)
    })

  /** Exact brute-force cosine top-5 in DuckDB — the oracle for every ANN
    * operator whose output provably equals exact search: q21 (brute force
    * by definition), q29 (LSH net verified 100%-recall at oracle scale),
    * q40 (IVF with nProbe = numLists probes every list). */
  private val knnExactSql: String =
    """SELECT query_id, nbr_id, round(cos, 4) AS cosine, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q) t
         WHERE rank <= 5 ORDER BY query_id, rank"""

  /** The q179 one-Lloyd-iteration CTE chain (ends at `a2`, the final
    * assignment) — shared by [[kmeansSql]] and [[silhouetteSql]]. */
  private def kmeansCtes(k: Int, dims: Int): String = {
    def d2(c: Int => String): String =
      (1 to dims).map(i => s"(b.v[$i]-${c(i)})*(b.v[$i]-${c(i)})").mkString(" + ")
    val meanCols = (1 to dims).map(i =>
      s"CAST(sum(v[$i]::DECIMAL(30,12)) AS DOUBLE)/count(*) AS c$i").mkString(", ")
    val ccCols = (1 to dims).map(i =>
      s"coalesce(m.c$i, c0.c[$i]) AS c$i").mkString(", ")
    s"""b AS (SELECT vec_id AS id, embedding[1:$dims]::DOUBLE[] AS v
                   FROM embeddings),
        c0 AS (SELECT id AS j, v AS c FROM b WHERE id < $k),
        s1 AS (SELECT b.id, c0.j, ${d2(i => s"c0.c[$i]")} AS d
               FROM b CROSS JOIN c0),
        a1 AS (SELECT id, j AS cluster FROM (
                 SELECT id, j, row_number() OVER (PARTITION BY id
                   ORDER BY d ASC, j ASC) AS rn FROM s1) t
               WHERE rn = 1),
        m AS (SELECT cluster, $meanCols
              FROM a1 JOIN b USING (id) GROUP BY cluster),
        cc AS (SELECT c0.j, $ccCols
               FROM c0 LEFT JOIN m ON m.cluster = c0.j),
        s2 AS (SELECT b.id, cc.j, ${d2(i => s"cc.c$i")} AS d
               FROM b CROSS JOIN cc),
        a2 AS (SELECT id, j AS cluster FROM (
                 SELECT id, j, row_number() OVER (PARTITION BY id
                   ORDER BY d ASC, j ASC) AS rn FROM s2) t
               WHERE rn = 1)"""
  }

  /** q179 oracle: one Lloyd step replayed exactly — unrolled left-to-right
    * squared-L2 terms (matching the Spark expression's fold order),
    * row_number ties to the lowest cluster index (≡ the struct array_min),
    * DECIMAL-exact per-dimension sums divided once in double, and the
    * empty-cluster fallback to the PREVIOUS centroid (kmeansLloyd's
    * contract). The coalesce below writes that fallback against the SEED
    * centroids c0 — correct ONLY because this oracle replays exactly one
    * iteration, where previous ≡ seed. A multi-iteration replay must
    * coalesce each round against the prior round's cc CTE instead, or it
    * silently diverges from kmeansLloyd on the first empty cluster. */
  private def kmeansSql(k: Int, dims: Int): String =
    s"""WITH ${kmeansCtes(k, dims)}
        SELECT id AS vec_id, cluster FROM a2 ORDER BY vec_id"""

  /** q359 oracle: [[kmeansCtes]]'s final assignment, decimal-exact final
    * centroids, per-point own/nearest-other distances, and the same
    * 12-dp per-point quantization the Spark side applies before the
    * cluster means. */
  private def silhouetteSql(k: Int, dims: Int): String = {
    val meanCols = (1 to dims).map(i =>
      s"CAST(sum(v[$i]::DECIMAL(30,12)) AS DOUBLE)/count(*) AS c$i").mkString(", ")
    val d2m = (1 to dims).map(i =>
      s"(b.v[$i]-m2.c$i)*(b.v[$i]-m2.c$i)").mkString(" + ")
    s"""WITH ${kmeansCtes(k, dims)},
        m2 AS (SELECT cluster, $meanCols
               FROM a2 JOIN b USING (id) GROUP BY cluster),
        s3 AS (SELECT b.id, a2.cluster AS own, m2.cluster AS j, $d2m AS d
               FROM b JOIN a2 USING (id) CROSS JOIN m2),
        pp AS (SELECT id, own,
                 sqrt(max(CASE WHEN j = own THEN d END)) AS a,
                 sqrt(min(CASE WHEN j <> own THEN d END)) AS bb
               FROM s3 GROUP BY 1, 2),
        qq AS (SELECT own AS cluster,
                 round((CASE WHEN greatest(a, bb) = 0 THEN 0.0
                        ELSE (bb - a) / greatest(a, bb) END)
                   * 1e12)::BIGINT AS sq,
                 round(a * 1e12)::BIGINT AS aq,
                 round(bb * 1e12)::BIGINT AS bq
               FROM pp)
        SELECT cluster, count(*)::BIGINT AS n,
          round(sum(sq)::DOUBLE / 1e12 / count(*), 6) + 0.0
            AS mean_silhouette,
          round(sum(aq)::DOUBLE / 1e12 / count(*), 6) + 0.0
            AS mean_dist_own,
          round(sum(bq)::DOUBLE / 1e12 / count(*), 6) + 0.0
            AS mean_dist_other
        FROM qq GROUP BY cluster ORDER BY cluster"""
  }

  /** q189 oracle: SemDeDup replayed — seed-centroid assignment on the
    * `dims`-dim prefix (same unrolled left-to-right squared-L2 + lowest-
    * index ties as kmeansSql's s1/a1 step), then full-vector cosine only
    * within clusters; duplicate = some lower-id cluster-mate with
    * cos >= tau (tau chosen in an empirical gap — see the q189 entry). */
  private def semDedupSql(k: Int, dims: Int, tau: Double): String = {
    val d2 = (1 to dims).map(i => s"(b.v[$i]-c0.c[$i])*(b.v[$i]-c0.c[$i])").mkString(" + ")
    s"""WITH b AS (SELECT vec_id AS id, embedding[1:$dims]::DOUBLE[] AS v,
                     embedding::DOUBLE[] AS f
                   FROM embeddings),
        c0 AS (SELECT id AS j, v AS c FROM b WHERE id < $k),
        s1 AS (SELECT b.id, c0.j, $d2 AS d FROM b CROSS JOIN c0),
        a AS (SELECT id, j AS cluster FROM (
                SELECT id, j, row_number() OVER (PARTITION BY id
                  ORDER BY d ASC, j ASC) AS rn FROM s1) t
              WHERE rn = 1),
        p AS (SELECT x.id, max(list_cosine_similarity(bx.f, by.f)) AS maxcos,
                min(CASE WHEN list_cosine_similarity(bx.f, by.f) >= $tau
                         THEN y.id END) AS dup_of
              FROM a x JOIN a y ON x.cluster = y.cluster AND y.id < x.id
              JOIN b bx ON bx.id = x.id JOIN b by ON by.id = y.id
              GROUP BY x.id)
        SELECT a.id AS vec_id, a.cluster, p.dup_of,
               round(p.maxcos, 4) AS max_prior_cos,
               p.dup_of IS NULL AS keep
        FROM a LEFT JOIN p USING (id) ORDER BY vec_id"""
  }

  /** q206 oracle: [[semDedupSql]]'s clustering CTEs with the pair join
    * restricted to batch (odd vec_ids) × corpus (even vec_ids) — every
    * corpus member is prior, so no id-ordering condition inside the pair. */
  private def semDedupProbeSql(k: Int, dims: Int, tau: Double): String = {
    val d2 = (1 to dims).map(i => s"(b.v[$i]-c0.c[$i])*(b.v[$i]-c0.c[$i])").mkString(" + ")
    s"""WITH b AS (SELECT vec_id AS id, embedding[1:$dims]::DOUBLE[] AS v,
                     embedding::DOUBLE[] AS f
                   FROM embeddings),
        c0 AS (SELECT id AS j, v AS c FROM b WHERE id < $k),
        s1 AS (SELECT b.id, c0.j, $d2 AS d FROM b CROSS JOIN c0),
        a AS (SELECT id, j AS cluster FROM (
                SELECT id, j, row_number() OVER (PARTITION BY id
                  ORDER BY d ASC, j ASC) AS rn FROM s1) t
              WHERE rn = 1),
        batch AS (SELECT * FROM a WHERE id % 2 = 1),
        corp AS (SELECT * FROM a WHERE id % 2 = 0),
        p AS (SELECT x.id, max(list_cosine_similarity(bx.f, by.f)) AS maxcos,
                min(CASE WHEN list_cosine_similarity(bx.f, by.f) >= $tau
                         THEN y.id END) AS dup_of
              FROM batch x JOIN corp y ON x.cluster = y.cluster
              JOIN b bx ON bx.id = x.id JOIN b by ON by.id = y.id
              GROUP BY x.id)
        SELECT batch.id AS vec_id, batch.cluster, p.dup_of,
               round(p.maxcos, 4) AS max_corpus_cos,
               p.dup_of IS NULL AS keep
        FROM batch LEFT JOIN p USING (id) ORDER BY vec_id"""
  }

  /** q198 oracle: MMR replayed with the greedy loop UNROLLED as one CTE
    * chain per pick — relevance and pairwise cosines round to 6 dp before
    * any scoring (same as the Scala side), each step scores the remaining
    * candidates as `0.7·rel − 0.3·maxsim-to-picked` (double arithmetic on
    * identical inputs) and picks by (score desc, id asc). */
  private def mmrSql(nq: Int, cands: Int, k: Int): String = {
    val steps = (1 to k).map { i =>
      if (i == 1)
        s"""sc1 AS (SELECT query_id, nbr_id, 0.7*rel - 0.3*0.0 AS score FROM cand),
            pick1 AS (SELECT query_id, nbr_id, score, 1 AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, nbr_id ASC) AS rn FROM sc1) t WHERE rn = 1)"""
      else {
        val selUnion = (1 until i).map(j => s"SELECT query_id, nbr_id FROM pick$j")
          .mkString(" UNION ALL ")
        s"""sel$i AS ($selUnion),
            sc$i AS (SELECT c.query_id, c.nbr_id,
                0.7*c.rel - 0.3*(SELECT max(p.sim) FROM pairs p
                    JOIN sel$i s ON s.query_id = p.query_id
                                AND s.nbr_id = p.other_id
                    WHERE p.query_id = c.query_id
                      AND p.nbr_id = c.nbr_id) AS score
              FROM cand c
              WHERE NOT EXISTS (SELECT 1 FROM sel$i s
                  WHERE s.query_id = c.query_id AND s.nbr_id = c.nbr_id)),
            pick$i AS (SELECT query_id, nbr_id, score, $i AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, nbr_id ASC) AS rn FROM sc$i) t WHERE rn = 1)"""
      }
    }.mkString(",\n            ")
    val allPicks = (1 to k).map(i => s"SELECT * FROM pick$i").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                   WHERE vec_id < $nq),
        cand AS (SELECT query_id, nbr_id, rel FROM (
            SELECT q.query_id, c.vec_id AS nbr_id,
              round(list_cosine_similarity(
                q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS rel,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(
                    q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                  c.vec_id ASC) AS r
            FROM embeddings c CROSS JOIN q) t WHERE r <= $cands),
        pairs AS (SELECT a.query_id, a.nbr_id, b.nbr_id AS other_id,
              round(list_cosine_similarity(
                ca.embedding::DOUBLE[], cb.embedding::DOUBLE[]), 6) AS sim
            FROM cand a JOIN cand b
              ON a.query_id = b.query_id AND a.nbr_id <> b.nbr_id
            JOIN embeddings ca ON ca.vec_id = a.nbr_id
            JOIN embeddings cb ON cb.vec_id = b.nbr_id),
        $steps
        SELECT query_id, nbr_id, round(score, 6) AS mmr_score, rank
        FROM ($allPicks) u ORDER BY query_id, rank"""
  }

  /** q194 oracle: PQ + ADC replayed — per-subspace encoding is the same
    * unrolled left-to-right squared-L2 argmin the nearest-centroid kernel
    * runs (ties to the lowest code), codebook j's centroid c IS seed c's
    * j-th subvector, and the per-subspace ADC cells are cast to
    * DECIMAL(30,12) before summing so the total is order-independent on
    * both engines; ranking compares the exact decimals. */
  private def pqSql(m: Int, sub: Int, codes: Int, nq: Int, topk: Int): String = {
    def d2(a: String, b: String, j: String): String =
      (1 to sub).map(i =>
        s"($a.f[$j*$sub+$i]-$b.f[$j*$sub+$i])*($a.f[$j*$sub+$i]-$b.f[$j*$sub+$i])")
        .mkString(" + ")
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS f FROM embeddings),
        seeds AS (SELECT id AS c, f FROM b WHERE id < $codes),
        encd AS (SELECT b.id, g.j, s.c, ${d2("b", "s", "g.j")} AS d
                 FROM b CROSS JOIN range($m) g(j) CROSS JOIN seeds s),
        enc AS (SELECT id, j, c AS code FROM (
                  SELECT id, j, c, row_number() OVER (PARTITION BY id, j
                    ORDER BY d ASC, c ASC) AS rn FROM encd) t WHERE rn = 1),
        q AS (SELECT id AS query_id, f FROM b WHERE id < $nq),
        contrib AS (SELECT q.query_id, e.id AS nbr_id,
                      CAST(${d2("q", "s", "e.j")} AS DECIMAL(30,12)) AS dd
                    FROM enc e JOIN seeds s ON s.c = e.code CROSS JOIN q),
        adc AS (SELECT query_id, nbr_id, sum(dd) AS adc
                FROM contrib GROUP BY query_id, nbr_id),
        r AS (SELECT query_id, nbr_id, adc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY adc ASC, nbr_id ASC) AS rank
              FROM adc)
        SELECT query_id, nbr_id, round(CAST(adc AS DOUBLE), 6) AS adc_dist, rank
        FROM r WHERE rank <= $topk ORDER BY query_id, rank"""
  }

  /** q207 oracle: the IVF+PQ probe replayed end-to-end — list assignment
    * (argmin full-vector squared L2, ties to the lowest list), residual
    * codebooks (the vec_id < `codes` residuals), per-corpus-row encode
    * (argmin subspace residual-vs-codebook L2, ties to the lowest code),
    * probe selection (nProbe nearest lists per query, same distance
    * chain), and the DECIMAL(30,12) ADC sums. Every distance term is
    * `((x−cx)−(s−cs))²` expanded per dimension in the same left-to-right
    * order the kernels accumulate, so assignments, codes and sums are
    * bit-replayable. */
  private def ivfPqSql(lists: Int, m: Int, sub: Int, codes: Int, nq: Int,
      topk: Int, nProbe: Int): String = {
    val dims = m * sub
    // full-vector squared L2 (assignment + probe selection)
    def d2full(a: String, c: String): String =
      (1 to dims).map(i => s"($a.f[$i]-$c.f[$i])*($a.f[$i]-$c.f[$i])")
        .mkString(" + ")
    // subspace-j squared L2 between residuals: x's residual vs seed s's;
    // args are full array refs ("bb.f", "bb.cf", ...)
    def d2res(xf: String, xc: String, sf: String, sc: String, j: String): String =
      (1 to sub).map { i =>
        val t = s"(($xf[$j*$sub+$i]-$xc[$j*$sub+$i])-($sf[$j*$sub+$i]-$sc[$j*$sub+$i]))"
        s"$t*$t"
      }.mkString(" + ")
    s"""WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS f FROM embeddings),
        cent AS (SELECT id AS l, f FROM b WHERE id < $lists),
        ad AS (SELECT b.id, cent.l, ${d2full("b", "cent")} AS d
               FROM b CROSS JOIN cent),
        a AS (SELECT id, l AS list FROM (
                SELECT id, l, row_number() OVER (PARTITION BY id
                  ORDER BY d ASC, l ASC) AS rn FROM ad) t WHERE rn = 1),
        bb AS (SELECT b.id, b.f, cx.f AS cf, a.list FROM b
               JOIN a ON a.id = b.id JOIN cent cx ON cx.l = a.list),
        ss AS (SELECT id AS c, f, cf FROM bb WHERE id < $codes),
        encd AS (SELECT bb.id, g.j, ss.c,
                   ${d2res("bb.f", "bb.cf", "ss.f", "ss.cf", "g.j")} AS d
                 FROM bb CROSS JOIN range($m) g(j) CROSS JOIN ss),
        enc AS (SELECT id, j, c AS code FROM (
                  SELECT id, j, c, row_number() OVER (PARTITION BY id, j
                    ORDER BY d ASC, c ASC) AS rn FROM encd) t WHERE rn = 1),
        q AS (SELECT id AS query_id, f FROM b WHERE id < $nq),
        qa AS (SELECT q.query_id, cent.l, ${d2full("q", "cent")} AS d
               FROM q CROSS JOIN cent),
        probe AS (SELECT query_id, l AS list FROM (
                    SELECT query_id, l, row_number() OVER (PARTITION BY query_id
                      ORDER BY d ASC, l ASC) AS rn FROM qa) t WHERE rn <= $nProbe),
        qq AS (SELECT q.query_id, probe.list, q.f, cent.f AS cf
               FROM q JOIN probe USING (query_id) JOIN cent ON cent.l = probe.list),
        contrib AS (SELECT qq.query_id, e.id AS nbr_id,
                      CAST(${d2res("qq.f", "qq.cf", "ss.f", "ss.cf", "e.j")}
                        AS DECIMAL(30,12)) AS dd
                    FROM enc e
                    JOIN bb ON bb.id = e.id
                    JOIN qq ON qq.list = bb.list
                    JOIN ss ON ss.c = e.code),
        adc AS (SELECT query_id, nbr_id, sum(dd) AS adc
                FROM contrib GROUP BY query_id, nbr_id),
        r AS (SELECT query_id, nbr_id, adc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY adc ASC, nbr_id ASC) AS rank
              FROM adc)
        SELECT query_id, nbr_id, round(CAST(adc AS DOUBLE), 6) AS adc_dist, rank
        FROM r WHERE rank <= $topk ORDER BY query_id, rank"""
  }

  /** Shared q276/q277 oracle scaffold — the brandRecEval scenario plus the
    * trec_eval metric algebra, ending at a CTE `m(c, n_ranked, n_rel, dcg,
    * idcg, ndcg, ap, rr)` for the per-query (q276) and corpus-mean (q277)
    * finals to select from. */
  private def rankingEvalSql: String =
    """WITH base AS (
         SELECT o.o_custkey c, p.p_brand b, o.o_orderdate::DATE d,
                l.l_extendedprice * (1 - l.l_discount) rev
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN part p ON l.l_partkey = p.p_partkey
         WHERE o.o_custkey % 20 = 1),
       res AS (
         SELECT c, b, r FROM (
           SELECT c, b, row_number() OVER (PARTITION BY c
             ORDER BY round(sum(rev), 2) DESC, b ASC) r
           FROM base WHERE d < DATE '1998-06-01' GROUP BY c, b) rk
         WHERE r <= 10),
       rel AS (
         SELECT c, b, least(count(*), 4)::DOUBLE rel
         FROM base WHERE d >= DATE '1998-06-01' GROUP BY c, b),
       scored AS (
         SELECT res.c, res.r, coalesce(rel.rel, 0) rel,
           (pow(2, coalesce(rel.rel, 0)) - 1) / log2(res.r + 1) gain,
           sum(CASE WHEN coalesce(rel.rel, 0) > 0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY res.c ORDER BY res.r) cumrel
         FROM res LEFT JOIN rel ON res.c = rel.c AND res.b = rel.b),
       ranked AS (
         SELECT c, count(*)::BIGINT n_ranked, sum(gain) dcg,
           sum(CASE WHEN rel > 0 THEN cumrel::DOUBLE / r ELSE 0 END) apnum,
           min(CASE WHEN rel > 0 THEN r END) firstrel
         FROM scored GROUP BY c),
       ideal AS (
         SELECT c, count(*)::BIGINT n_rel,
           sum(CASE WHEN ir <= 10 THEN (pow(2, rel) - 1) / log2(ir + 1)
               ELSE 0 END) idcg
         FROM (SELECT c, rel, b, row_number() OVER (PARTITION BY c
                 ORDER BY rel DESC, b ASC) ir FROM rel) iq
         GROUP BY c),
       m AS (
         SELECT ranked.c, n_ranked, coalesce(n_rel, 0)::BIGINT n_rel, dcg,
           coalesce(idcg, 0) idcg,
           CASE WHEN idcg > 0 THEN dcg / idcg END ndcg,
           CASE WHEN n_rel > 0 THEN apnum / least(n_rel, 10) END ap,
           CASE WHEN firstrel IS NOT NULL THEN 1.0 / firstrel END rr
         FROM ranked LEFT JOIN ideal ON ranked.c = ideal.c)
    """

  val cases: Seq[Case] = Seq(
    // ---- similarity search (extensions) ---------------------------------
    Case("q21_knn_bruteforce", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
        .select(col("query_id"), col("nbr_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      knnExactSql),

    // ---- Matryoshka two-stage retrieval (truncate → rerank) -------------
    // candidate generation on the 8-dim embedding PREFIX (1/8 of the dot-
    // product cost; cosine is scale-invariant so the raw slice ranks
    // identically to the renormalized Matryoshka form), then the top-20
    // survivors rerank at full dimension for the final top-5
    Case("q177_matryoshka_rerank", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val sliced = emb.select(col("vec_id"), slice(col("embedding"), 1, 8).as("svec"))
      val cands = Similarity.bruteForceTopK(
          sliced, "vec_id", "svec",
          sliced.filter(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("svec").as("qvec")),
          "qid", "qvec", k = 20)
        .select(col("query_id"), col("nbr_id"))
      val qfull = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val rer = cands
        .join(emb.select(col("vec_id"), col("embedding")),
          cands("nbr_id") === col("vec_id"))
        .join(broadcast(qfull), "query_id")
        .select(col("query_id"), col("nbr_id"),
          graft.functions.VectorFunctions.cosine(col("q_emb"), col("embedding")).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("nbr_id").asc)
      rer.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("query_id"), col("nbr_id"),
          round(col("cos"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // Two-stage Matryoshka retrieval: stage-1 ranks by the 8-dim prefix
      // cosine (same index-order double arithmetic both engines), stage-2
      // reranks the 20 survivors at full dimension
      """WITH q AS (SELECT vec_id AS query_id, embedding
                    FROM embeddings WHERE vec_id < 10),
         c1 AS (SELECT q.query_id, c.vec_id AS nbr_id,
                  row_number() OVER (PARTITION BY q.query_id
                    ORDER BY list_cosine_similarity(
                        q.embedding[1:8]::DOUBLE[], c.embedding[1:8]::DOUBLE[]) DESC,
                      c.vec_id ASC) AS crank
                FROM embeddings c CROSS JOIN q),
         cand AS (SELECT query_id, nbr_id FROM c1 WHERE crank <= 20),
         r AS (SELECT cand.query_id, cand.nbr_id,
                 list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
                 row_number() OVER (PARTITION BY cand.query_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                     cand.nbr_id ASC) AS rank
               FROM cand
               JOIN embeddings c ON c.vec_id = cand.nbr_id
               JOIN q ON q.query_id = cand.query_id)
         SELECT query_id, nbr_id, round(cos, 4) AS cosine, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),

    // ---- ANN recall measurement (the tuning instrument) -----------------
    // recall@10 of a 4-dim-prefix candidate generator against the exact
    // full-dimension top-10 — deliberately aggressive truncation so the
    // recall is NON-trivial (a 1.0-everywhere oracle would prove nothing)
    Case("q178_ann_recall", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
      def topk(vecExpr: org.apache.spark.sql.Column) = {
        val c = emb.select(col("vec_id"), vecExpr.as("v"))
        Similarity.bruteForceTopK(c, "vec_id", "v",
          queries.select(col("vec_id").as("qid"), vecExpr.as("qv")),
          "qid", "qv", k = 10)
      }
      Similarity.recallAtK(
          approx = topk(slice(col("embedding"), 1, 4)),
          exact = topk(col("embedding")), k = 10)
        .gateOrdered(col("query_id"))
    },
      // Recall@10 of the 4-dim prefix vs exact: both rankings replicated
      // with the same index-order double cosine; per-query hit counts are
      // exact integers
      """WITH q AS (SELECT vec_id AS query_id, embedding
                    FROM embeddings WHERE vec_id < 50),
         ap AS (SELECT query_id, nbr_id FROM (
                  SELECT q.query_id, c.vec_id AS nbr_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY list_cosine_similarity(
                          q.embedding[1:4]::DOUBLE[], c.embedding[1:4]::DOUBLE[]) DESC,
                        c.vec_id ASC) AS r
                  FROM embeddings c CROSS JOIN q) t WHERE r <= 10),
         ex AS (SELECT query_id, nbr_id FROM (
                  SELECT q.query_id, c.vec_id AS nbr_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY list_cosine_similarity(
                          q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS r
                  FROM embeddings c CROSS JOIN q) t WHERE r <= 10)
         SELECT ex.query_id, count(ap.nbr_id)::BIGINT AS n_hit,
                round(count(ap.nbr_id) / 10.0, 4) AS recall
         FROM ex LEFT JOIN ap
           ON ex.query_id = ap.query_id AND ex.nbr_id = ap.nbr_id
         GROUP BY ex.query_id ORDER BY ex.query_id"""),

    // ---- distributed Lloyd k-means (iterative, driver-sequenced) --------
    // one full Lloyd step from data-point seeds on the 8-dim prefix:
    // assign (unrolled left-to-right squared-L2, lowest-index ties) →
    // decimal-exact means → final assignment; every step replicated
    // bit-for-bit by the oracle
    Case("q179_kmeans_lloyd", (s, dir) => {
      Similarity.kmeansLloyd(read(s, dir, "embeddings"), "vec_id", "embedding",
          initIds = Seq(0L, 1L, 2L, 3L), iterations = 1, dims = 8)
        .select(col("id").as("vec_id"), col("cluster"))
        .gateOrdered(col("vec_id"))
    },
      // One Lloyd step replayed dimension-by-dimension (see kmeansSql)
      kmeansSql(k = 4, dims = 8)),

    // ---- Procrustes alignment recovers a planted rotation (Similarity) ----
    // the model-migration map: B is A pushed through a KNOWN orthogonal
    // transform (dimension rotate-by-3 with odd-index sign flips);
    // R = UV^T from the Jacobi SVD of the exact-decimal cross-moment must
    // land back on that transform to machine precision
    Case("q362_procrustes", (s, dir) => {
      val src = read(s, dir, "embeddings")
      val planted = src.select(col("vec_id"),
        array((0 until 8).map { j =>
          val e = col("embedding").getItem((j + 3) % 8).cast("double")
          if (j % 2 == 1) -e else e
        }: _*).as("vb"))
      Similarity.procrustesAlign(src, planted, "vec_id", "embedding", "vb",
          dims = 8)
        .select(col("i"), col("j"),
          (round(col("r"), 6) + lit(0.0)).as("r"))
        .gateOrdered(col("i"), col("j"))
    },
      // the planted transform IS the expected answer: Jacobi lands within
      // ~1e-13 of the exact permutation/sign matrix, so the 6-dp rounding
      // snaps to these literals
      {
        val cells = for (i <- 0 until 8; j <- 0 until 8) yield {
          val v =
            if (i == (j + 3) % 8) (if (j % 2 == 1) -1.0 else 1.0) else 0.0
          s"($i, $j, $v::DOUBLE)"
        }
        s"""SELECT i, j, r + 0.0 AS r
         FROM (VALUES ${cells.mkString(", ")}) t(i, j, r)
         ORDER BY i, j"""
      }),

    // ---- simplified silhouette over the q179 clustering (Similarity) ------
    // per-cluster quality readout: (b - a)/max(a, b) against decimal-exact
    // final centroids; per-point scores quantize to 12-dp longs before the
    // cluster means so both engines sum exact integers
    Case("q359_silhouette", (s, dir) => {
      Similarity.silhouetteSimplified(read(s, dir, "embeddings"), "vec_id",
          "embedding", initIds = Seq(0L, 1L, 2L, 3L), iterations = 1,
          dims = 8)
        .select(col("cluster"), col("n"),
          (round(col("mean_silhouette"), 6) + lit(0.0)).as("mean_silhouette"),
          (round(col("mean_dist_own"), 6) + lit(0.0)).as("mean_dist_own"),
          (round(col("mean_dist_other"), 6) + lit(0.0)).as("mean_dist_other"))
        .gateOrdered(col("cluster"))
    },
      // kmeansCtes + decimal-exact m2 centroids + the 12-dp per-point
      // quantization before the cluster means
      silhouetteSql(k = 4, dims = 8)),

    // ---- IVF probe against a PRECOMPUTED list_id-partitioned layout -----
    Case("q188_ivf_stored", (s, dir) => {
      // the vector-side mirror of q184: inverted lists materialized once,
      // partitioned by list_id; the probe prunes to the probed lists'
      // directories (PlanSpec asserts PartitionFilters) and broadcasts the
      // query table. nProbe = numLists ⇒ exact search, so the stored-path
      // plan runs under the same brute-force oracle as q40's fused run
      // centroids load from the layout's sidecar (no-array overload)
      val (path, _) = stageIvfLists(s, dir)
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopKStored(path, queries, "qid", "qvec",
          k = 5, nProbe = 16)
        .select(col("query_id"), col("nbr_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // Stored-layout IVF probe ≡ fused run at nProbe = numLists: exact
      // search either way, so the same brute-force oracle applies; only the
      // plan (partition-pruned list reads) differs — PlanSpec asserts it
      knnExactSql),

    // ---- SemDeDup: semantic dedup inside coarse embedding clusters ------
    // cluster on the 8-dim prefix against data-point seed centroids
    // (vec_id < 8 — the oracle recomputes them from the table), then
    // full-vector cosine ONLY within clusters; tau = 0.42 sits in a wide
    // empirical gap of the sf0.01 pair-cosine distribution (nearest pairs
    // 0.4322 / 0.4104), so the threshold compare is ulp-safe
    Case("q189_semdedup", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .orderBy(col("vec_id"))
        .select(slice(col("embedding"), 1, 8))
        .collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      Similarity.semDedup(emb, "vec_id", "embedding",
          centroids = seeds, tau = 0.42, clusterDims = 8)
        .select(col("id").as("vec_id"), col("cluster"), col("dup_of"),
          col("max_prior_cos"), col("keep"))
        .gateOrdered(col("vec_id"))
    },
      // SemDeDup: seed-centroid assignment + within-cluster cosine (see
      // semDedupSql; tau in an empirical gap, so the >= compare is ulp-safe)
      semDedupSql(k = 8, dims = 8, tau = 0.42)),

    // ---- SemDeDup against a PRECOMPUTED cluster-partitioned corpus ------
    // q189's stored/incremental form (the q184/q188 pattern): the corpus
    // half (even vec_ids) is clustered ONCE into a cluster-partitioned
    // layout, the incoming batch (odd vec_ids) re-uses the same seed
    // centroids — assignments bit-identical by the kernel's determinism —
    // and reads ONLY its probed clusters' directories (PartitionFilters,
    // asserted in PlanSpec). tau = 0.42: cross-parity same-cluster pairs
    // are a subset of q189's pair set, so its empirical gap argument
    // (nearest pairs 0.4322 / 0.4104 at sf0.01) carries over unchanged.
    Case("q206_semdedup_stored", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      // the no-array overload: centroids + clusterDims come from the
      // layout's own sidecar, so the CORRECTNESS row exercises the
      // sidecar load+verify round-trip, not caller-remembered arrays
      val (path, _) = stageSemDedupClusters(s, dir)
      Similarity.semDedupProbeStored(
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
          path, tau = 0.42)
        .select(col("id").as("vec_id"), col("cluster"), col("dup_of"),
          col("max_corpus_cos"), col("keep"))
        .gateOrdered(col("vec_id"))
    },
      // same clustering CTEs, batch×corpus pair restriction (stored probe)
      semDedupProbeSql(k = 8, dims = 8, tau = 0.42)),

    // ---- int8 scalar quantization + quantized search --------------------
    // SQ8: 4× embedding compression with EXACT in-family cosine ranking
    // (scale invariance + integer-exact sums); oracle replays scale,
    // clamp/floor codes and the code-space cosine per candidate
    Case("q212_int8_quant", (s, dir) => {
      val q = Similarity.quantizeInt8(read(s, dir, "embeddings"),
        "vec_id", "embedding")
      Similarity.int8TopK(q, q.filter(col("vec_id") < 5), k = 10)
        .join(q.select(col("vec_id").as("query_id"),
          round(col("scale"), 6).as("q_scale")), Seq("query_id"))
        .select(col("query_id"), col("q_scale"), col("nbr_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // SQ8 replay: same scale, same ⌊x/s + 0.5⌋ clamp, cosine over the
      // integer code vectors (scale cancels; sums integer-exact)
      """WITH qt AS (
           SELECT vec_id,
                  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127
                    AS scale,
                  embedding::DOUBLE[] AS e
           FROM embeddings),
         codes AS (
           SELECT vec_id, scale,
                  CASE WHEN scale = 0
                       THEN list_transform(e, x -> 0.0)
                       ELSE list_transform(e, x ->
                              greatest(-127, least(127, floor(x / scale + 0.5))))
                  END AS c
           FROM qt)
         SELECT query_id, q_scale, nbr_id, round(cos, 4) AS cosine, rank FROM (
           SELECT q.vec_id AS query_id, round(q.scale, 6) AS q_scale,
                  t.vec_id AS nbr_id,
                  list_cosine_similarity(q.c, t.c) AS cos,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.c, t.c) DESC,
                             t.vec_id ASC) AS rank
           FROM codes t CROSS JOIN (SELECT * FROM codes WHERE vec_id < 5) q) z
         WHERE rank <= 10 ORDER BY query_id, rank"""),

    // ---- IVF+PQ: residual-encoded lists, pruned ADC probe ---------------
    // the production ANN pairing (q188's partition pruning × q196's
    // codes-only scan): 8 L2 seed lists, residual codebooks from the
    // vec_id < 16 residuals, nProbe = 3. The oracle replays assignment,
    // residual encode, probe selection and the decimal ADC sums — every
    // distance is the same left-to-right double chain on both engines.
    Case("q207_ivfpq_stored", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      // centroids + codebooks load from the layout's sidecar (no-array
      // overload) — the oracle row pins the self-describing round-trip
      val (path, _, _) = stageIvfPq(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(path, queries, "qid", "qvec",
          k = 10, nProbe = 3)
        .orderBy(col("query_id"), col("rank"))
    },
      // IVF+PQ residual probe replayed end-to-end (see ivfPqSql)
      ivfPqSql(lists = 8, m = 8, sub = 8, codes = 16,
        nq = 5, topk = 10, nProbe = 3)),

    // ---- product quantization + asymmetric-distance search --------------
    // 64-dim floats → 8 subspace codes (seed-subvector codebooks, k=16);
    // queries build an 8×16 LUT once and every corpus row costs 8 lookups
    // — the compressed-domain ANN scan. Decimal-exact LUT-cell sums make
    // the ranking replayable bit-for-bit (see Similarity.pqTopK)
    Case("q194_pq_adc", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 16)
        .orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cbs = Similarity.pqCodebooksFromSeeds(seeds, numSubspaces = 8)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
      Similarity.pqTopK(enc,
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", cbs, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // PQ encode + ADC search replayed subspace-by-subspace (see pqSql)
      pqSql(m = 8, sub = 8, codes = 16, nq = 5, topk = 10)),

    // ---- MMR diversified re-rank over the dense top-20 ------------------
    // λ·rel − μ·max-sim-to-picked, greedy k=5 per query; relevance and
    // pairwise cosines rounded BEFORE the loop so the oracle replays the
    // greedy bit-for-bit (μ passed as the exact decimal 0.3 — see
    // Similarity.mmrRerank on why 1−λ in binary would diverge)
    Case("q198_mmr_rerank", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val cands = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 20)
      Similarity.mmrRerank(cands, emb, "vec_id", "embedding",
          k = 5, lambda = 0.7, mu = 0.3)
        .orderBy(col("query_id"), col("rank"))
    },
      // MMR greedy unrolled step-by-step (see mmrSql)
      mmrSql(nq = 5, cands = 20, k = 5)),

    // ---- PQ search against the STORED codes table -----------------------
    // q194's pipeline split at the production seam: codes written once
    // (staged, cached per dir), the probe scans ONLY (id, codes) — the
    // embedding column never loads (PlanSpec pins ReadSchema). Same
    // codebooks ⇒ same ADC distances ⇒ q194's oracle verbatim
    Case("q196_pq_stored", (s, dir) => {
      // codebooks load from the layout's sidecar (no-array overload)
      val (path, _) = stagePqCodes(s, dir)
      val emb = read(s, dir, "embeddings")
      Similarity.pqTopKStored(path,
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // the stored-codes probe computes identical ADC distances (q194)
      pqSql(m = 8, sub = 8, codes = 16, nq = 5, topk = 10)),
    Case("q29_lsh_ann", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        dim = 64, k = 5, numBits = 32, numBands = 16)
        .select(col("query_id"), col("nbr_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      knnExactSql),

    // ---- similarity: IVF under an exact oracle --------------------------
    Case("q40_ivf_ann", (s, dir) => {
      // nProbe = numLists ⇒ IVF degenerates to exact search, so the whole
      // IVF machinery (driver-side k-means train, codegen'd list
      // assignment, broadcast probe join, windowed re-rank) runs under the
      // exact brute-force oracle. The recall-trading nProbe < numLists path
      // is spec-tested (recall on near-random vectors has no SQL oracle).
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 5, numLists = 16, nProbe = 16)
        .select(col("query_id"), col("nbr_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      knnExactSql),

    // ---- BM25 keyword search (lexical retrieval) ------------------------
    Case("q72_bm25_search", (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, "spark table join"),
        (1L, "slow hash batch"),
        (2L, "vector stream window value")).toDF("query_id", "qtext")
      Search.bm25TopK(read(s, dir, "documents"), "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id"),
          round(col("score"), 4).as("score"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // Okapi BM25 (Lucene idf form) over distinct query terms; ranks over
      // unrounded scores with doc-id tiebreak on both engines (q21 pattern)
      """WITH base AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS dl FROM base WHERE len(toks) > 0),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
         q(query_id, qtext) AS (VALUES
           (CAST(0 AS BIGINT), 'spark table join'),
           (CAST(1 AS BIGINT), 'slow hash batch'),
           (CAST(2 AS BIGINT), 'vector stream window value')),
         qt AS (
           SELECT query_id, unnest(list_distinct(list_filter(
             regexp_split_to_array(trim(lower(qtext)), '\s+'),
             x -> len(x) > 0))) AS term
           FROM q),
         vocab AS (SELECT DISTINCT term FROM qt),
         posting AS (
           SELECT term, doc_id, dl, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) s
           JOIN vocab USING (term)
           GROUP BY term, doc_id, dl),
         dfreq AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
         sc AS (
           SELECT qt.query_id, p.doc_id,
             sum(ln(1.0 + (st.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / st.avgdl))) AS score
           FROM posting p
           JOIN dfreq f USING (term)
           JOIN qt ON qt.term = p.term
           CROSS JOIN stats st
           GROUP BY qt.query_id, p.doc_id)
         SELECT query_id, doc_id, round(score, 4) AS score, rank FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS rank
           FROM sc) r
         WHERE rank <= 10 ORDER BY query_id, rank"""),

    // ---- per-document TF-IDF keywords -----------------------------------
    // top-3 terms per doc by tf·ln(N/df) over the corpus's own df table;
    // minDf=5 drops hapax noise; ranked on the 6-dp-rounded score with
    // term-asc tie-break (a total order — deterministic across engines)
    Case("q218_tfidf_keywords", (s, dir) => {
      Search.tfidfKeywords(read(s, dir, "documents"), "doc_id", "text",
        k = 3, minDf = 5L)
        .gateOrdered(col("doc_id"), col("rank"))
    },
      // TF-IDF keywords: the same tokenizer and posting/df tables as q72,
      // classic tf·ln(N/df), rank on the ROUNDED score + term asc
      """WITH base AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks FROM base WHERE len(toks) > 0),
         post AS (SELECT term, doc_id, count(*)::BIGINT AS tf
                  FROM (SELECT doc_id, unnest(toks) AS term FROM d) s
                  GROUP BY term, doc_id),
         dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post
                   GROUP BY term HAVING count(*) >= 5),
         nn AS (SELECT count(*)::BIGINT AS n_docs FROM d),
         sc AS (SELECT p.doc_id, p.term, p.tf, f.df,
                  round(p.tf * ln(nn.n_docs::DOUBLE / f.df), 6) AS tfidf
                FROM post p JOIN dfreq f USING (term) CROSS JOIN nn),
         rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term ASC) AS rank FROM sc)
         SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
         FROM rk WHERE rank <= 3 ORDER BY doc_id, rank"""),

    // ---- seeded Rademacher random projection (JL, 64 -> 8) --------------
    // the projection matrix is md5-derived from the seed string on BOTH
    // engines — no storage, no RNG state; per-dim sums are sequential
    // left-to-right doubles (≡ DuckDB's list_dot_product), so values are
    // bit-identical before the shared 6-dp round
    Case("q219_random_projection", (s, dir) => {
      Similarity.randomProjection(read(s, dir, "embeddings"), "vec_id",
        "embedding", inDims = 64, outDims = 8)
        .gateOrdered(col("vec_id"), col("dim"))
    },
      // Rademacher projection replay: the ±1 matrix regenerated from the
      // same md5 seed strings, the dot product sequential ascending
      // (list_dot_product ≡ the unrolled Spark fold), same √k scale and
      // 6-dp round
      """WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sg AS (SELECT j, list_transform(range(0, 64), i ->
                  CASE WHEN substring(md5('rp:' || j || ':' || i), 1, 1) < '8'
                       THEN 1.0 ELSE -1.0 END) AS s
                FROM range(0, 8) t(j)),
         p AS (SELECT vec_id, j,
                 round(list_dot_product(v, s) / sqrt(8), 6) + 0.0 AS value
               FROM b CROSS JOIN sg)
         SELECT vec_id, j::INT AS dim, value FROM p ORDER BY vec_id, dim"""),

    // ---- hybrid retrieval: BM25 ⊕ dense ANN via reciprocal-rank fusion --
    // the q72 lexical queries and the matching dense query vectors
    // (query_id ≡ vec_id — the synthetic tables share one id space) each
    // produce a top-20; RRF fuses rank-wise (no score calibration) into
    // the final top-10. Both upstream rankings are independently
    // oracle-proven (q72 / q21), so the fusion layer is what this checks
    Case("q190_hybrid_rrf", (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, "spark table join"),
        (1L, "slow hash batch"),
        (2L, "vector stream window value")).toDF("query_id", "qtext")
      val sparse = Search.bm25TopK(read(s, dir, "documents"), "doc_id", "text",
          queries, "query_id", "qtext", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = read(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 20)
        .select(col("query_id"), col("nbr_id").as("doc_id"), col("rank"))
      Search.rrfFuse(Seq("bm25" -> sparse, "dense" -> dense), k = 10)
        .select(col("query_id"), col("doc_id"), col("rank_bm25"),
          col("rank_dense"), col("rrf_score"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // RRF hybrid: q72's BM25 CTEs (top-20) ⊕ q21's dense knn (top-20,
      // query vectors vec_id < 3), fused with the same left-to-right
      // coalesce(1/(60+r)) sum the Scala side folds (DuckDB promotes '/'
      // to DOUBLE, so both engines fuse in double); ties → doc_id asc
      """WITH base AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS dl FROM base WHERE len(toks) > 0),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
         q(query_id, qtext) AS (VALUES
           (CAST(0 AS BIGINT), 'spark table join'),
           (CAST(1 AS BIGINT), 'slow hash batch'),
           (CAST(2 AS BIGINT), 'vector stream window value')),
         qt AS (
           SELECT query_id, unnest(list_distinct(list_filter(
             regexp_split_to_array(trim(lower(qtext)), '\s+'),
             x -> len(x) > 0))) AS term
           FROM q),
         vocab AS (SELECT DISTINCT term FROM qt),
         posting AS (
           SELECT term, doc_id, dl, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) s
           JOIN vocab USING (term)
           GROUP BY term, doc_id, dl),
         dfreq AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
         sc AS (
           SELECT qt.query_id, p.doc_id,
             sum(ln(1.0 + (st.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / st.avgdl))) AS score
           FROM posting p
           JOIN dfreq f USING (term)
           JOIN qt ON qt.term = p.term
           CROSS JOIN stats st
           GROUP BY qt.query_id, p.doc_id),
         spk AS (SELECT query_id, doc_id, rank_bm25 FROM (
                   SELECT query_id, doc_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rank_bm25
                   FROM sc) t WHERE rank_bm25 <= 20),
         dek AS (SELECT query_id, doc_id, rank_dense FROM (
                   SELECT eq.vec_id AS query_id, c.vec_id AS doc_id,
                     row_number() OVER (PARTITION BY eq.vec_id
                       ORDER BY list_cosine_similarity(
                           eq.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                         c.vec_id ASC) AS rank_dense
                   FROM embeddings c
                   CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) eq) t
                 WHERE rank_dense <= 20),
         f AS (SELECT coalesce(spk.query_id, dek.query_id) AS query_id,
                 coalesce(spk.doc_id, dek.doc_id) AS doc_id,
                 spk.rank_bm25, dek.rank_dense,
                 coalesce(1.0/(60 + spk.rank_bm25), 0.0)
                   + coalesce(1.0/(60 + dek.rank_dense), 0.0) AS fs
               FROM spk FULL OUTER JOIN dek
                 ON spk.query_id = dek.query_id AND spk.doc_id = dek.doc_id)
         SELECT query_id, doc_id, rank_bm25::INT AS rank_bm25,
                rank_dense::INT AS rank_dense, round(fs, 6) AS rrf_score, rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY fs DESC, doc_id ASC) AS rank FROM f) t
         WHERE rank <= 10 ORDER BY query_id, rank"""),

    // ---- per-label embedding centroids ----------------------------------
    Case("q82_group_centroids", (s, dir) => {
      Similarity.groupCentroids(read(s, dir, "embeddings"), "label", "embedding")
        .select(col("group").as("label"), col("n_vectors"),
          posexplode(col("centroid")).as(Seq("dim", "value")))
        .select(col("label"), col("dim"),
          // + 0.0 folds IEEE −0.0 into +0.0 (DuckDB prints 0; a zero mean
          // of negative values would otherwise hash-mismatch)
          (round(col("value"), 4) + lit(0.0)).as("value"),
          col("n_vectors"))
        .orderBy(col("label"), col("dim"))
    },
      // Element-wise mean embedding per label; dim is 0-based
      """SELECT label, (i - 1)::INT AS dim,
           round(avg(embedding[i]::DOUBLE), 4) + 0.0 AS value,
           count(*)::BIGINT AS n_vectors
         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
         GROUP BY label, dim ORDER BY label, dim"""),

    // ---- embedding mislabel candidates (Similarity) -----------------------
    // k farthest-from-own-centroid vectors per label with within-label
    // z-score; top-k is the bounded-heap aggregate (map-side combining),
    // NOT a per-label sort window
    Case("q225_mislabel_candidates", (s, dir) => {
      Similarity.mislabelCandidates(read(s, dir, "embeddings"),
          "vec_id", "embedding", "label", k = 5)
        .select(col("label"), col("id"),
          (round(col("dist"), 4) + lit(0.0)).as("dist"),
          (round(col("z"), 4) + lit(0.0)).as("z"), col("rank"))
        .orderBy(col("label"), col("rank"))
    },
      // Centroid = per-dim mean (q82's construction); dist = 1 − cos to the
      // OWN label's centroid; z over the label's population σ; top-5 per
      // label by dist desc, id asc
      """WITH ex AS (SELECT label, vec_id, embedding::DOUBLE[] AS e
                     FROM embeddings),
         cent AS (SELECT label, list(m ORDER BY dim) AS c FROM (
                    SELECT label, i AS dim, avg(e[i]) AS m
                    FROM ex, unnest(range(1, len(e) + 1)) AS u(i)
                    GROUP BY label, i) GROUP BY label),
         d AS (SELECT ex.label, vec_id,
                 1 - list_cosine_similarity(e, c) AS dist
               FROM ex JOIN cent USING (label)),
         s AS (SELECT label, avg(dist) AS mu, stddev_pop(dist) AS sigma
               FROM d GROUP BY label),
         r AS (SELECT d.label, vec_id, dist,
                 CASE WHEN sigma > 0 THEN (dist - mu) / sigma END AS z,
                 row_number() OVER (PARTITION BY d.label
                   ORDER BY round(dist, 4) DESC, vec_id ASC) AS rank
               FROM d JOIN s USING (label))
         SELECT label, vec_id AS id, round(dist, 4) + 0.0 AS dist,
                round(z, 4) + 0.0 AS z, rank
         FROM r WHERE rank <= 5 ORDER BY label, rank"""),

    // ---- rank-biased overlap of two term rankings (Search) ---------------
    // top-20 tf rankings of the even/odd document halves, compared with
    // the top-weighted RBO measure; everything after the term counts is
    // k-bounded by construction
    Case("q234_rbo", (s, dir) => {
      val docs = read(s, dir, "documents")
      def topTerms(half: Int): DataFrame = {
        val w = Window.orderBy(col("cnt").desc, col("term").asc)
        docs.filter(col("doc_id") % 2 === half)
          .select(explode(TextFunctions.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term").asc).limit(20)
          .withColumn("rank", row_number().over(w))
      }
      Search.rbo(topTerms(0), topTerms(1), "term", "rank", p = 0.9, k = 20)
        .select(col("depth"), col("n_common"),
          (round(col("rbo"), 6) + lit(0.0)).as("rbo"),
          (round(col("rbo_ext"), 6) + lit(0.0)).as("rbo_ext"))
    },
      // RBO from the overlap-at-depth table: X_d = pairs whose max rank <= d;
      // same q72-convention tokenizer, (count desc, term asc) rankings
      """WITH toks AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         ra AS (SELECT term, row_number() OVER
                  (ORDER BY count(*) DESC, term ASC) AS r
                FROM toks WHERE doc_id % 2 = 0 GROUP BY term
                ORDER BY count(*) DESC, term ASC LIMIT 20),
         rb AS (SELECT term, row_number() OVER
                  (ORDER BY count(*) DESC, term ASC) AS r
                FROM toks WHERE doc_id % 2 = 1 GROUP BY term
                ORDER BY count(*) DESC, term ASC LIMIT 20),
         fd AS (SELECT greatest(ra.r, rb.r) AS g FROM ra JOIN rb USING (term)),
         xd AS (SELECT d, (SELECT count(*) FROM fd WHERE g <= d)::BIGINT AS x
                FROM range(1, 21) t(d)),
         s AS (SELECT sum(pow(0.9, d - 1) * x / d) AS acc,
                 max(CASE WHEN d = 20 THEN x END)::BIGINT AS nc
               FROM xd)
         SELECT 20 AS depth, nc AS n_common,
           round(0.1 * acc, 6) + 0.0 AS rbo,
           round(0.1 * acc + nc / 20.0 * pow(0.9, 20), 6) + 0.0 AS rbo_ext
         FROM s"""),

    // ---- ranked-retrieval eval: per-query NDCG@10 / AP / RR (Search) ------
    // brand recommendations from first-half spend, judged against
    // second-half purchases: ranks on the ROUNDED H1 revenue (brand-asc
    // tiebreak — the repo's deterministic-ranking pattern), graded
    // relevance = H2 purchase count capped at 4
    Case("q276_ndcg", (s, dir) => {
      val (res, rel) = brandRecEval(s, dir)
      Search.rankingMetrics(res, rel, "c", "b", "r", "rel", k = 10)
        .select(col("c").as("custkey"), col("n_ranked"), col("n_rel"),
          (round(col("dcg"), 6) + lit(0.0)).as("dcg"),
          (round(col("idcg"), 6) + lit(0.0)).as("idcg"),
          (round(col("ndcg"), 6) + lit(0.0)).as("ndcg"),
          (round(col("ap"), 6) + lit(0.0)).as("ap"),
          (round(col("rr"), 6) + lit(0.0)).as("rr"))
        .gateOrdered(col("custkey"))
    },
      // trec_eval conventions: graded gain (2^rel-1)/log2(r+1), IDCG from
      // grades sorted desc truncated at k, AP denominator min(R, k), NULL
      // metrics for queries with nothing relevant
      (rankingEvalSql + """
         SELECT c AS custkey, n_ranked, n_rel,
           round(dcg, 6) + 0.0 AS dcg, round(idcg, 6) + 0.0 AS idcg,
           round(ndcg, 6) + 0.0 AS ndcg, round(ap, 6) + 0.0 AS ap,
           round(rr, 6) + 0.0 AS rr
         FROM m""")),

    // ---- embedding covariance via the one-pass moments kernel (Similarity)
    // upper-triangle cells from ONE VectorMomentsAgg scan
    Case("q315_embedding_cov", (s, dir) => {
      Similarity.embeddingCovariance(read(s, dir, "embeddings"), "embedding")
        .select(col("i"), col("j"),
          (round(col("mean_i"), 6) + lit(0.0)).as("mean_i"),
          (round(col("mean_j"), 6) + lit(0.0)).as("mean_j"),
          (round(col("cov"), 6) + lit(0.0)).as("cov"))
        .gateOrdered(col("i"), col("j"))
    },
      // d-bounded index cross join replays the same raw-moment covariance
      // cell algebra (1-based list access shifted back to 0-based)
      """WITH x AS (SELECT embedding e FROM embeddings
                WHERE embedding IS NOT NULL),
         dd AS (SELECT max(len(e)) d FROM x),
         idx AS (SELECT unnest(range(1, (SELECT d FROM dd) + 1)) i),
         p AS (SELECT a.i i, b.i j FROM idx a, idx b WHERE a.i <= b.i),
         cgg AS (SELECT p.i, p.j, count(*)::BIGINT n,
                 sum(e[p.i]::DOUBLE) si, sum(e[p.j]::DOUBLE) sj,
                 sum(e[p.i]::DOUBLE * e[p.j]::DOUBLE) sij
               FROM x, p GROUP BY 1, 2)
         SELECT i - 1 AS i, j - 1 AS j, round(si / n, 6) + 0.0 AS mean_i,
           round(sj / n, 6) + 0.0 AS mean_j,
           round((sij - si * sj / n) / (n - 1), 6) + 0.0 AS cov
         FROM cgg ORDER BY 1, 2"""),

    // ---- PCA top-4: the eigen CONTRACT verified in DuckDB -----------------
    // eigendecomposition itself is not SQL, but its invariants are: unit
    // norms, pairwise orthogonality and C·v = λ·v residuals (against the
    // SAME covariance the operator consumed) pin to literal 0/1 at Jacobi
    // precision; the trace is independently recomputed by the oracle from
    // the parquet (Σ var_samp over dims); descending eigenvalue order is a
    // boolean. The component VALUES are pinned by q345's closed-form 2-d
    // replay and the SimilaritySpec spectrum test.
    Case("q316_pca_components", (s, dir) => {
      import s.implicits._
      val emb = read(s, dir, "embeddings")
      val kTop = 4
      val comps = Similarity.pcaComponents(emb, "embedding", kTop).collect()
      val d = comps.map(_.getInt(1)).max + 1
      val v = Array.ofDim[Double](kTop, d)
      val lam = new Array[Double](kTop)
      comps.foreach { r =>
        v(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        lam(r.getInt(0)) = r.getDouble(3)
      }
      val cm = Array.ofDim[Double](d, d)
      Similarity.embeddingCovariance(emb, "embedding").collect().foreach { r =>
        cm(r.getInt(0))(r.getInt(1)) = r.getDouble(4)
        cm(r.getInt(1))(r.getInt(0)) = r.getDouble(4)
      }
      val trace = (0 until d).map(i => cm(i)(i)).sum
      val eigDesc = (1 until kTop).forall(i => lam(i) <= lam(i - 1))
      (0 until kTop).map { comp =>
        val cv = (0 until d).map(i =>
          (0 until d).map(j => cm(i)(j) * v(comp)(j)).sum)
        val res = math.sqrt((0 until d).map(i =>
          math.pow(cv(i) - lam(comp) * v(comp)(i), 2)).sum)
        val nrm = math.sqrt(v(comp).map(x => x * x).sum)
        val ortho = if (comp == 0) 0.0
          else (0 until comp).map(j =>
            math.abs(v(comp).zip(v(j)).map(t => t._1 * t._2).sum)).max
        (comp, nrm, ortho, res / lam(comp), trace, eigDesc)
      }.toDF("component", "norm", "max_ortho", "rel_residual", "trace",
          "eig_descending")
        .select(col("component"),
          (round(col("norm"), 6) + lit(0.0)).as("norm"),
          (round(col("max_ortho"), 6) + lit(0.0)).as("max_ortho"),
          (round(col("rel_residual"), 6) + lit(0.0)).as("rel_residual"),
          (round(col("trace"), 6) + lit(0.0)).as("trace"),
          col("eig_descending"))
        .gateOrdered(col("component"))
    },
      // the eigen contract: unit norms / zero orthogonality / zero C·v−λv
      // residual are literal at Jacobi precision; the trace is recomputed
      // from the parquet with the q315 covariance moment formula
      """WITH x AS (SELECT embedding e FROM embeddings
                WHERE embedding IS NOT NULL),
         dd AS (SELECT max(len(e)) d FROM x),
         idx AS (SELECT unnest(range(1, (SELECT d FROM dd) + 1)) i),
         m AS (SELECT i, count(*)::BIGINT n, sum(e[i]::DOUBLE) si,
                 sum(e[i]::DOUBLE * e[i]::DOUBLE) sii
               FROM x, idx GROUP BY i),
         tr AS (SELECT round(sum((sii - si * si / n) / (n - 1)), 6) + 0.0 t
               FROM m)
         SELECT c::INT AS component, 1.0 AS norm, 0.0 AS max_ortho,
           0.0 AS rel_residual, t AS trace, true AS eig_descending
         FROM range(4) r(c), tr ORDER BY component"""),

    // ---- PCA whitening closes the loop: unit variance, zero cross-cov -----
    // project + whiten on top-2 components, then verify the moments of
    // the projected coordinates (rows-only check; the variance ~ 1 /
    // cov ~ 0 structure is the self-certifying part)
    Case("q317_pca_whiten", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val comps = Similarity.pcaComponents(emb, "embedding", k = 2)
        .collect()
      val d = comps.map(_.getInt(1)).max + 1
      val w = Array.ofDim[Double](2, d)
      val lam = new Array[Double](2)
      comps.foreach { r =>
        w(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        lam(r.getInt(0)) = r.getDouble(3)
      }
      val mRow = Similarity.embeddingCovariance(emb, "embedding")
        .filter(col("i") === col("j")).select(col("i"), col("mean_i"))
        .collect()
      val means = new Array[Double](d)
      mRow.foreach(r => means(r.getInt(0)) = r.getDouble(1))
      val proj = Similarity.pcaProject(emb, "embedding", means, w,
        eigenvalues = lam, eps = 0.0)
      proj.select(col("projection")(0).as("z0"), col("projection")(1).as("z1"))
        .agg(count(lit(1)).as("n"),
          (round(var_samp(col("z0")), 4) + lit(0.0)).as("var_z0"),
          (round(var_samp(col("z1")), 4) + lit(0.0)).as("var_z1"),
          // the embeddings' spectrum is near-degenerate, so the exact
          // cross-covariance rotates with fp summation order — assert
          // the decorrelation CONTRACT, not the unstable digits
          (abs(covar_samp(col("z0"), col("z1"))) < 0.05).as("decorrelated"))
    },
      // whitening contract: z = wᵀ(x−μ)/√λ with λ the Rayleigh quotient of
      // w under the SAME sample covariance forces var_samp(z) = 1 exactly
      // (to fp); decorrelation follows from Jacobi orthogonality
      """SELECT count(*)::BIGINT AS n, 1.0 AS var_z0, 1.0 AS var_z1,
           true AS decorrelated FROM embeddings"""),

    // ---- embedding isotropy: exact mean pairwise cosine (Similarity) ------
    // the no-pair-join identity (|sum u|^2 - n)/(n(n-1))
    Case("q321_isotropy", (s, dir) => {
      Similarity.isotropyScore(read(s, dir, "embeddings"), "embedding")
        .select(col("n"),
          (round(col("mean_pairwise_cos"), 6) + lit(0.0))
            .as("mean_pairwise_cos"))
    },
      // per-dim sums of the normalized vectors; the same pair-free identity
      """WITH x AS (SELECT embedding e,
                  sqrt(list_sum(list_transform(embedding,
                    v -> v::DOUBLE * v))) nrm
                FROM embeddings WHERE embedding IS NOT NULL),
         u AS (SELECT list_transform(e, v -> v::DOUBLE / nrm) uu
               FROM x WHERE nrm > 0),
         dims AS (SELECT unnest(uu) v,
                 generate_subscripts(uu, 1) i FROM u),
         s AS (SELECT i, sum(v) sv FROM dims GROUP BY 1),
         tot AS (SELECT sum(sv * sv) s2 FROM s),
         nn AS (SELECT count(*)::BIGINT n FROM u)
         SELECT n,
           CASE WHEN n >= 2
             THEN round((s2 - n) / (n * (n - 1.0)), 6) + 0.0
             END AS mean_pairwise_cos
         FROM tot, nn"""),

    // ---- Mahalanobis outlier scores: FULL per-row oracle replay at d=2 ----
    // the 2×2 inverse is closed-form SQL, so every score the Cholesky
    // whitening path emits is independently recomputed by DuckDB (means,
    // sample covariance, per-row d²) — a value-level pin of the whole
    // pipeline; the 64-d run of the SAME code path keeps its trace
    // identity Σd² = (n−1)·dim in SimilaritySpec. ridge = 0 for exact
    // parity (the 1e-9 default shifts d² by ~1e-6, visible at round 6).
    Case("q336_mahalanobis", (s, dir) => {
      val e2 = read(s, dir, "embeddings").select(col("vec_id"),
        array(element_at(col("embedding"), 1),
          element_at(col("embedding"), 2)).as("v2"))
      Similarity.mahalanobisScores(e2, "v2", ridge = 0.0)
        .select(col("vec_id"),
          (round(col("mahalanobis_sq"), 6) + lit(0.0)).as("md2"))
        .gateOrdered(col("vec_id"))
    },
      // full per-row replay: the 2×2 inverse is closed-form, so DuckDB
      // recomputes every Mahalanobis score from the same parquet (means +
      // sample covariance via the q315 moment formula, then the quadratic
      // form) — value-level pin of the Cholesky whitening path
      """WITH s AS (SELECT count(*)::BIGINT n,
                  sum(embedding[1]::DOUBLE) sx, sum(embedding[2]::DOUBLE) sy,
                  sum(embedding[1]::DOUBLE * embedding[1]::DOUBLE) sxx,
                  sum(embedding[2]::DOUBLE * embedding[2]::DOUBLE) syy,
                  sum(embedding[1]::DOUBLE * embedding[2]::DOUBLE) sxy
                FROM embeddings WHERE embedding IS NOT NULL),
         c AS (SELECT sx / n mx, sy / n my,
                 (sxx - sx * sx / n) / (n - 1) cxx,
                 (syy - sy * sy / n) / (n - 1) cyy,
                 (sxy - sx * sy / n) / (n - 1) cxy FROM s)
         SELECT vec_id,
           round((cyy * (embedding[1]::DOUBLE - mx) * (embedding[1]::DOUBLE - mx)
             - 2 * cxy * (embedding[1]::DOUBLE - mx) * (embedding[2]::DOUBLE - my)
             + cxx * (embedding[2]::DOUBLE - my) * (embedding[2]::DOUBLE - my))
             / (cxx * cyy - cxy * cxy), 6) + 0.0 AS md2
         FROM embeddings, c ORDER BY vec_id"""),

    // ---- linear CKA: embedding vs its 16-dim truncation (Similarity) ------
    // one concatenated moments pass; Frobenius block algebra on the
    // driver; the oracle rebuilds the blocks from raw pair moments
    Case("q339_linear_cka", (s, dir) => {
      val emb = read(s, dir, "embeddings")
        .withColumn("head16", slice(col("embedding"), 1, 16))
      Similarity.linearCka(emb, "embedding", "head16")
        .select(col("n"), col("dim_a"), col("dim_b"),
          (round(col("cka"), 6) + lit(0.0)).as("cka"))
    },
      // covariance blocks from raw pair moments over the upper triangle;
      // the rectangle/diagonal multiplicities fold the symmetric cells
      """WITH x AS (SELECT embedding e FROM embeddings
                WHERE embedding IS NOT NULL),
         idx AS (SELECT unnest(range(1, 65)) i),
         caa AS (SELECT a.i i, b.i j, count(*)::BIGINT n,
                 sum(e[a.i]::DOUBLE) si, sum(e[b.i]::DOUBLE) sj,
                 sum(e[a.i]::DOUBLE * e[b.i]::DOUBLE) sij
               FROM x, idx a, idx b WHERE a.i <= b.i GROUP BY 1, 2),
         cv AS (SELECT i, j, pow((sij - si * sj / n) / (n - 1), 2) c2,
                 max(n) OVER () nn FROM caa),
         f AS (SELECT
                 sum(CASE WHEN i = j THEN c2 ELSE 2 * c2 END) faa,
                 sum(CASE WHEN i <= 16 AND j <= 16 THEN
                   CASE WHEN i = j THEN c2 ELSE 2 * c2 END ELSE 0 END) fbb,
                 sum(CASE WHEN i <= 16 AND j <= 16 AND i <> j THEN 2 * c2
                   WHEN i <= 16 AND j <= 16 AND i = j THEN c2
                   WHEN i <= 16 AND j > 16 THEN c2
                   ELSE 0 END) fab,
                 max(nn) nn
               FROM cv)
         SELECT nn AS n, 64 AS dim_a, 16 AS dim_b,
           CASE WHEN faa > 0 AND fbb > 0
             THEN round(fab / sqrt(faa * fbb), 6) + 0.0 END AS cka
         FROM f"""),

    // ---- PCA at d=2: closed-form FULL-value oracle replay (Similarity) ----
    // the 2×2 eigenproblem is closed-form SQL (λ = (t ± √(t²−4·det))/2,
    // v₁ ∝ (c_xy, λ₁−c_xx), v₂ = v₁⊥), so every value pcaComponents
    // emits — vectors, eigenvalues, explained ratios, the sign
    // convention — replays verbatim in DuckDB; the companion of q316's
    // invariant panel at full dimensionality
    Case("q345_pca2_closed_form", (s, dir) => {
      val e2 = read(s, dir, "embeddings").select(col("vec_id"),
        array(element_at(col("embedding"), 1),
          element_at(col("embedding"), 2)).as("v2"))
      Similarity.pcaComponents(e2, "v2", k = 2)
        .select(col("component"), col("dim"),
          (round(col("value"), 6) + lit(0.0)).as("value"),
          (round(col("eigenvalue"), 6) + lit(0.0)).as("eigenvalue"),
          (round(col("explained_var_ratio"), 6) + lit(0.0))
            .as("explained_var_ratio"))
        .gateOrdered(col("component"), col("dim"))
    },
      // closed-form 2×2 eigen replay: λ = (t ± √((cxx−cyy)² + 4cxy²))/2,
      // v₁ ∝ (cxy, λ₁−cxx), v₂ = v₁⊥, the operator's sign convention
      // (largest-|coordinate| positive, ties → lower index) as CASE
      """WITH s AS (SELECT count(*)::BIGINT n,
                  sum(embedding[1]::DOUBLE) sx, sum(embedding[2]::DOUBLE) sy,
                  sum(embedding[1]::DOUBLE * embedding[1]::DOUBLE) sxx,
                  sum(embedding[2]::DOUBLE * embedding[2]::DOUBLE) syy,
                  sum(embedding[1]::DOUBLE * embedding[2]::DOUBLE) sxy
                FROM embeddings WHERE embedding IS NOT NULL),
         c AS (SELECT (sxx - sx * sx / n) / (n - 1) cxx,
                 (syy - sy * sy / n) / (n - 1) cyy,
                 (sxy - sx * sy / n) / (n - 1) cxy FROM s),
         e AS (SELECT cxx, cyy, cxy, cxx + cyy tr,
                 (cxx + cyy + sqrt((cxx - cyy) * (cxx - cyy)
                   + 4 * cxy * cxy)) / 2 l1,
                 (cxx + cyy - sqrt((cxx - cyy) * (cxx - cyy)
                   + 4 * cxy * cxy)) / 2 l2 FROM c),
         u AS (SELECT l1, l2, tr,
                 cxy / sqrt(cxy * cxy + (l1 - cxx) * (l1 - cxx)) ux,
                 (l1 - cxx) / sqrt(cxy * cxy + (l1 - cxx) * (l1 - cxx)) uy
               FROM e),
         v1 AS (SELECT l1, l2, tr,
                 CASE WHEN (CASE WHEN abs(ux) >= abs(uy) THEN ux
                   ELSE uy END) < 0 THEN -ux ELSE ux END x,
                 CASE WHEN (CASE WHEN abs(ux) >= abs(uy) THEN ux
                   ELSE uy END) < 0 THEN -uy ELSE uy END y
               FROM u),
         v2 AS (SELECT l1, l2, tr, x, y,
                 CASE WHEN (CASE WHEN abs(y) >= abs(x) THEN -y
                   ELSE x END) < 0 THEN y ELSE -y END px,
                 CASE WHEN (CASE WHEN abs(y) >= abs(x) THEN -y
                   ELSE x END) < 0 THEN -x ELSE x END py
               FROM v1)
         SELECT * FROM (
           SELECT 0::INT AS component, 0::INT AS dim,
             round(x, 6) + 0.0 AS value, round(l1, 6) + 0.0 AS eigenvalue,
             round(l1 / tr, 6) + 0.0 AS explained_var_ratio FROM v2
           UNION ALL SELECT 0, 1, round(y, 6) + 0.0, round(l1, 6) + 0.0,
             round(l1 / tr, 6) + 0.0 FROM v2
           UNION ALL SELECT 1, 0, round(px, 6) + 0.0, round(l2, 6) + 0.0,
             round(l2 / tr, 6) + 0.0 FROM v2
           UNION ALL SELECT 1, 1, round(py, 6) + 0.0, round(l2, 6) + 0.0,
             round(l2 / tr, 6) + 0.0 FROM v2)
         ORDER BY component, dim"""),

    // ---- corpus-level MAP / MRR / mean-NDCG over the same eval ------------
    // trec_eval convention: queries with no relevant documents are NULL
    // per-query and excluded from the means (avg ignores NULLs on both
    // engines)
    Case("q277_map_mrr", (s, dir) => {
      val (res, rel) = brandRecEval(s, dir)
      Search.rankingMetrics(res, rel, "c", "b", "r", "rel", k = 10)
        .agg(count(lit(1)).as("n_queries"),
          count(col("ndcg")).as("n_judged"),
          (round(avg(col("ndcg")), 6) + lit(0.0)).as("mean_ndcg"),
          (round(avg(col("ap")), 6) + lit(0.0)).as("map"),
          (round(avg(col("rr")), 6) + lit(0.0)).as("mrr"))
    },
      (rankingEvalSql + """
         SELECT count(*)::BIGINT AS n_queries, count(ndcg)::BIGINT AS n_judged,
           round(avg(ndcg), 6) + 0.0 AS mean_ndcg,
           round(avg(ap), 6) + 0.0 AS map,
           round(avg(rr), 6) + 0.0 AS mrr
         FROM m""")),

    // ---- per-dimension embedding statistics -----------------------------
    Case("q152_dim_stats", (s, dir) => {
      Similarity.dimStats(read(s, dir, "embeddings"), "embedding")
        .select(col("dim"), col("n"), round(col("mean"), 4).as("mean"),
          round(col("std"), 4).as("std"),
          round(col("min"), 4).as("min"), round(col("max"), 4).as("max"))
        .orderBy(col("dim"))
    },
      // Per-dimension stats over unnested (dim, value) pairs; float→double
      // widening is exact on both engines, aggregates round at 4dp
      """WITH e AS (
           SELECT u.d AS dim, u.v AS v FROM (
             SELECT unnest(list_transform(range(1, len(embedding) + 1),
               i -> struct_pack(d := i - 1, v := embedding[i]::DOUBLE))) AS u
             FROM embeddings))
         SELECT dim, count(*)::BIGINT AS n, round(avg(v), 4) AS mean,
                round(stddev_pop(v), 4) AS std,
                round(min(v), 4) AS min, round(max(v), 4) AS max
         FROM e GROUP BY dim ORDER BY dim"""),

    // ---- dimension-wise z-normalization ---------------------------------
    Case("q153_znorm_dims", (s, dir) => {
      Similarity.zNormalizeDims(read(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id").as("vec_id"), posexplode(col("znorm")).as(Seq("dim", "z")))
        // + 0.0 canonicalizes IEEE −0.0 (a tiny negative z rounds to −0.0
        // here but to 0 in DuckDB's formatter)
        .select(col("vec_id"), col("dim"), (round(col("z"), 4) + lit(0.0)).as("z"))
        .gateOrdered(col("vec_id"), col("dim"))
    },
      // Same per-dim moments joined back: z = (v - mean)/std, 0 for constant
      // dims, long-form output for the hash compare
      """WITH e AS (
           SELECT vec_id, u.d AS dim, u.v AS v FROM (
             SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
               i -> struct_pack(d := i - 1, v := embedding[i]::DOUBLE))) AS u
             FROM embeddings)),
         s AS (SELECT dim, avg(v) AS m, stddev_pop(v) AS sd FROM e GROUP BY dim)
         SELECT e.vec_id, e.dim,
                round(CASE WHEN s.sd > 0 THEN (e.v - s.m) / s.sd ELSE 0.0 END, 4)
                  + 0.0 AS z
         FROM e JOIN s ON e.dim = s.dim
         ORDER BY e.vec_id, e.dim"""),

    // ---- hard-negative mining (contrastive training prep) ---------------
    Case("q157_hard_negatives", (s, dir) => {
      val emb = read(s, dir, "embeddings")
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label", k = 5)
        .select(col("anchor_id"), col("anchor_label"), col("nbr_id"),
          col("nbr_label"), round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy(col("anchor_id"), col("rank"))
    },
      // Exact top-5 different-label neighbors per anchor in DuckDB
      """SELECT anchor_id, anchor_label, nbr_id, nbr_label,
                round(cos, 4) AS cosine, rank
         FROM (
           SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                  c.vec_id AS nbr_id, c.label AS nbr_label,
                  list_cosine_similarity(a.embedding::DOUBLE[],
                                         c.embedding::DOUBLE[]) AS cos,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                                    c.embedding::DOUBLE[]) DESC,
                             c.vec_id ASC) AS rank
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) a
           WHERE c.label <> a.label) t
         WHERE rank <= 5 ORDER BY anchor_id, rank"""),

    // ---- inter-group centroid similarity matrix -------------------------
    Case("q92_centroid_matrix", (s, dir) => {
      Similarity.centroidSimilarityMatrix(read(s, dir, "embeddings"),
        "label", "embedding")
        .select(col("group_a").as("label_a"), col("group_b").as("label_b"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("label_a"), col("label_b"))
    },
      // Pairwise centroid cosine over the same per-label means as q87
      """WITH cm AS (
           SELECT label, i, avg(embedding[i]::DOUBLE) AS m
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
           GROUP BY label, i),
         cent AS (SELECT label, list(m ORDER BY i) AS centroid
                  FROM cm GROUP BY label)
         SELECT a.label AS label_a, b.label AS label_b,
                round(list_cosine_similarity(a.centroid, b.centroid), 4) AS cosine
         FROM cent a JOIN cent b ON a.label < b.label
         ORDER BY label_a, label_b"""),

    // ---- int8 embedding quantization summary ----------------------------
    Case("q85_quantize_i8", (s, dir) => {
      read(s, dir, "embeddings")
        .select(col("vec_id"),
          VectorKernelFunctions.i8QuantStats(col("embedding")).as("q"))
        .select(col("vec_id"), round(col("q.scale"), 8).as("scale"),
          col("q.n_dims").as("n_dims"), col("q.sum_q").as("sum_q"),
          col("q.sum_abs_q").as("sum_abs_q"), col("q.min_q").as("min_q"),
          col("q.max_q").as("max_q"))
        .orderBy(col("vec_id"))
    },
      // Symmetric int8 quantization: scale = max|v|/127, code = floor(v/scale
      // + 0.5) — identical IEEE steps on both engines, so every integer
      // invariant matches exactly
      """WITH e AS (
           SELECT vec_id, unnest(embedding)::DOUBLE AS v FROM embeddings),
         s AS (SELECT vec_id, max(abs(v)) / 127.0 AS scale
               FROM e GROUP BY vec_id),
         q AS (SELECT e.vec_id, s.scale,
                 CASE WHEN s.scale = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(floor(e.v / s.scale + 0.5) AS BIGINT) END AS code
               FROM e JOIN s USING (vec_id))
         SELECT vec_id, round(any_value(scale), 8) AS scale,
                count(*)::INT AS n_dims, sum(code)::BIGINT AS sum_q,
                sum(abs(code))::BIGINT AS sum_abs_q,
                min(code)::INT AS min_q, max(code)::INT AS max_q
         FROM q GROUP BY vec_id ORDER BY vec_id"""),

    // ---- inverted index / posting lists ---------------------------------
    Case("q86_inverted_index", (s, dir) => {
      Search.invertedIndex(read(s, dir, "documents"), "doc_id", "text",
        minDf = 3)
        .gateOrdered(col("term"))
    },
      // Posting lists over the shared tokenizer; df bounds on the aggregate
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
         p AS (SELECT term, doc_id, count(*) AS tf FROM ex GROUP BY term, doc_id)
         SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tf_total,
                string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
         FROM p GROUP BY term HAVING count(*) >= 3
         ORDER BY term"""),

    // ---- centroid-cohesion outlier flagging -----------------------------
    Case("q87_centroid_outliers", (s, dir) => {
      Similarity.centroidOutliers(read(s, dir, "embeddings"), "vec_id",
        "label", "embedding", threshold = 0.5)
        .select(col("vec_id"), col("label"), col("cosine"),
          col("is_outlier").cast("int").as("is_outlier"))
        .orderBy(col("vec_id"))
    },
      // Cosine to the group's own mean vector; the outlier flag compares the
      // ROUNDED cosine so both engines land on the same boundary decision
      """WITH cm AS (
           SELECT label, i, avg(embedding[i]::DOUBLE) AS m
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
           GROUP BY label, i),
         cent AS (SELECT label, list(m ORDER BY i) AS centroid
                  FROM cm GROUP BY label)
         SELECT e.vec_id, e.label,
                round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 4) AS cosine,
                (round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 4) < 0.5)::INT
                  AS is_outlier
         FROM embeddings e JOIN cent c USING (label)
         ORDER BY e.vec_id"""))
}
