package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.ScaleOps.{cut, persisted, releasing}

/** Distributed connected components by iterative min-label propagation —
  * the classic Spark pattern for the one dedup step that is inherently
  * iterative: collapsing near-duplicate PAIRS into transitive clusters.
  *
  * Scale design:
  *  - iteration runs ONLY on the edge-touched vertex set. Near-dup edges
  *    are a tiny fraction of a corpus (typically ≪ 1% of documents appear
  *    in any pair), so each round's joins shuffle the subgraph, not the
  *    corpus; untouched vertices join the result at the end as their own
  *    singleton components with no shuffle of labels.
  *  - convergence needs O(component diameter) rounds; near-dup clusters
  *    are shallow (pairs chain through shared shingles), so single-digit
  *    rounds in practice. Each round cuts the lineage of its labels
  *    ([[graft.ops.ScaleOps.cut]]) so plan depth stays constant, and
  *    releases the previous round's.
  *  - a non-converged run THROWS rather than returning partial labels.
  */
object Components {

  /** PageRank over the undirected graph `edges` (`id_a`, `id_b`) on
    * `vertices` (single column `id`) — the authority score for near-dup
    * graphs: within a duplicate cluster, high-rank nodes are the "hub"
    * variants everything else copies (the natural canonical-doc choice
    * when n_chars ties), and across a link/citation graph it is the
    * classic quality prior for training-data curation. Simplified model:
    * fixed `iterations`, damping 0.85, no dangling-mass redistribution
    * (isolated vertices hold the base rank (1−d)/N — documented, not a
    * bug). Output `(id, rank)` with rank rounded to 6 dp.
    *
    * Scale shape: per iteration ONE join of ranks onto the edge list and
    * one partial-aggregated groupBy over destinations — the contribution
    * shuffle is |edges|, never |vertices|²; the loop is driver-sequenced
    * (fixed small iteration count), data stays on executors.
    *
    * Determinism contract (what makes an external oracle possible): the
    * per-destination contribution sum runs in exact DECIMAL (the
    * [[graft.operators.Similarity.kmeansLloyd]] pattern — double sums
    * would drift with partial-aggregation order), every scalar constant
    * is written as the same literal expression on both engines, and each
    * iteration's rank is rounded to 12 dp. An engine replaying the recipe
    * reproduces every rank bit-for-bit. */
  def pageRank(vertices: DataFrame, edges: DataFrame,
      iterations: Int = 2, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1): $damping")
    val v = vertices.select(col("id"))
    val n = v.count()
    require(n > 0, "pageRank needs at least one vertex")
    val base = (1.0 - damping) / n
    val sym = persisted(edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct())
    releasing(sym) {
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      var ranks = v.withColumn("rank", lit(1.0 / n))
      for (_ <- 1 to iterations) {
        val contrib = sym
          .join(ranks.withColumnRenamed("id", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
          .groupBy(col("id"))
          .agg(sum(col("c").cast("decimal(28,18)")).cast("double").as("in_sum"))
        // the next ranks are cut eagerly, so the previous iteration's blocks
        // are no longer referenced — release them now instead of letting
        // one checkpoint per iteration accumulate for the job's lifetime
        // (no-op on the first, un-checkpointed ranks frame)
        ranks = releasing(ranks) {
          cut(v.join(contrib, Seq("id"), "left")
            .select(col("id"),
              round(lit(base) + lit(damping) * coalesce(col("in_sum"), lit(0.0)), 12)
                .as("rank")))
        }
      }
      ranks.select(col("id"), round(col("rank"), 6).as("rank"))
    }
  }

  /** Per-vertex triangle count and local clustering coefficient over the
    * undirected graph `edges` (`id_a`, `id_b`) — the density diagnostic
    * for near-dup graphs: a cluster whose members all pair with each
    * other (coefficient ≈ 1) is one duplicated document radiating
    * variants, where a low-coefficient chain is drift through successive
    * edits; on link graphs it is the classic community-structure signal.
    * Output `(id, degree, n_triangles, clustering)` for every vertex,
    * `clustering = 2·t / (deg·(deg−1))`, 0 when degree < 2.
    *
    * Shape: canonicalize edges to `a < b`, join the edge list to itself
    * on the shared middle vertex, then semi-join the closing edge — the
    * standard two-join triangle enumeration whose shuffle volume is
    * Σ deg² (the open-wedge count), NOT |V|². Each triangle (a<b<c)
    * explodes into its three member rows for the per-vertex partial-
    * aggregated count. Exact integer arithmetic end-to-end; the
    * coefficient's one double division is engine-exact. */
  def triangleStats(vertices: DataFrame, edges: DataFrame): DataFrame = {
    // no explicit persist: the plan references `canon` four times and
    // Spark's ReusedExchange deduplicates the shuffle at execution
    val canon = edges
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    // wedges a<b<c from (a,b)+(b,c); closing edge (a,c) must exist
    val e2 = canon.select(col("a").as("b2"), col("b").as("c"))
    val e3 = canon.select(col("a").as("a3"), col("b").as("c3"))
    val tris = canon.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    val perVertex = tris.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    vertices.select(col("id"))
      .join(deg, Seq("id"), "left")
      .join(perVertex, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("degree") < 2, lit(0.0))
          .otherwise(round(
            lit(2.0) * col("n_triangles") / (col("degree") * (col("degree") - 1)), 6)))
  }

  /** Connected components of the undirected graph `edges` (`id_a`,`id_b`)
    * over `vertices` (single column `id`). Output: `(id, component)` where
    * `component` is the smallest id in the vertex's component; vertices
    * with no edges are their own component.
    *
    * Per round: ONE checkpoint job materializes the new labels (with a
    * per-row `changed` flag folded into the same projection), plus one
    * cheap `isEmpty` probe over the just-cached blocks — no separate
    * old-vs-new join. Each round releases the previous round's checkpoint
    * blocks; `sym`/`touched` are released on every exit (the
    * non-convergence throw included). Only the FINAL labels checkpoint
    * stays cached — the returned plan reads from it. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    val sym0 = persisted(edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct())
    // SIZE-DERIVED read parallelism over the cached subgraph (guide §2):
    // the near-dup edge set is typically a tiny fraction of the corpus,
    // but the cache inherits the session shuffle constant, so every
    // propagation round scanned 32 near-empty blocks per hop (measured
    // 299 tasks for q83 at sf0.1). The count materializes the cache once
    // (every round needs it anyway); big subgraphs keep their partitions.
    val nEdges = sym0.count()
    val pE = math.min(math.max(1, sym0.rdd.getNumPartitions),
      math.max(1L, (nEdges + 262143) / 262144)).toInt
    val sym = if (pE < sym0.rdd.getNumPartitions) sym0.coalesce(pE) else sym0
    val touched0 = persisted(sym.select(col("src").as("id")).distinct())
    val touched =
      if (pE < touched0.rdd.getNumPartitions) touched0.coalesce(pE)
      else touched0

    releasing(sym0, touched0) {
      var labels = cut(touched.select(col("id"), col("id").as("component")))
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val nbrMin = sym.join(labels, sym("dst") === labels("id"))
          .groupBy(col("src")).agg(min(col("component")).as("nbr_comp"))
        // the changed flag rides in the checkpointed projection: the
        // convergence probe below scans cached blocks, no join, no shuffle
        val next = releasing(labels) {
          cut(labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
            .select(labels("id"),
              least(col("component"), coalesce(col("nbr_comp"), col("component")))
                .as("component"),
              (coalesce(col("nbr_comp"), col("component")) < col("component"))
                .as("__chg")))
        }
        converged = next.filter(col("__chg")).isEmpty
        labels = next.drop("__chg")
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIter rounds — " +
            "raise maxIter (component diameter exceeds the bound)")

      val singletons = vertices.select(col("id"))
        .join(touched, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
      labels.unionByName(singletons)
    }
  }
}
