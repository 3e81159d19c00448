package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.ScaleOps.{cut, persisted, releasing}

/** Graph-structure features over an edge list — the link-prediction and
  * topology-QA primitives a relationship-heavy corpus needs (entity
  * co-mention graphs, user-item interactions, citation webs): which node
  * pairs share suspiciously many neighbors (near-duplicate entities,
  * collusion), and does the graph wire hubs-to-hubs or hubs-to-leaves?
  * (North-star extension — the reference has no graph surface; these
  * compose with [[Components]]' PageRank / connected components /
  * triangles into a full structural toolkit.)
  *
  * Scale design: everything is keyed aggregation and keyed self-join —
  * never an all-pairs product. The co-occurrence pair generation is the
  * classic Σ deg² fan-out, bounded per neighbor and cappable with
  * `maxDegree` (the same hot-bucket knob as `Dedup.simhashNearDup`'s
  * `maxBucket` and `Linkage`'s `maxBlock`: drop WHOLE hub neighbors, so
  * every emitted pair's counts stay exact over the kept graph).
  */
object GraphFeatures {

  /** k-core decomposition by iterative peeling — the DENSITY filter of
    * the graph shelf ([[coOccurrencePairs]] scores pairs,
    * [[Components]] finds connectivity; the k-core finds the subgraph
    * where EVERY member keeps ≥ k connections after the weakly-attached
    * fringe is stripped — the standard "dense collusion/community
    * nucleus" and spam-farm primitive): repeatedly drop nodes whose
    * degree WITHIN the surviving subgraph falls below k until nothing
    * changes. Works on bipartite data directly (prefix the two node
    * spaces so ids cannot collide). Output: `(node, degree)` for the
    * surviving core — every degree ≥ k by construction; empty when the
    * graph has no k-core.
    *
    * Correctness: the alive set shrinks monotonically, so a round that
    * removes nothing is THE fixpoint (count-compare suffices — no
    * old-vs-new join); a run that hits `maxIters` without converging
    * THROWS rather than returning a partial core.
    *
    * Scale (incremental delta peeling — guide §2.3/§2.4, measured): the
    * loop maintains the per-node WITHIN-SUBGRAPH degree table instead of
    * recomputing it; per round only the edges INCIDENT TO JUST-REMOVED
    * nodes are touched (one hash-join-filtered pass over the cached edge
    * list + a keyed count of those edges), and survivors subtract the
    * decrement — the recompute-everything plan shuffled and re-aggregated
    * ALL |surviving edges| twice per round (measured 70 MB/round at
    * sf0.1) for removal sets that shrink to a handful of nodes after the
    * first round. Removed sets are disjoint across rounds and the edge
    * list is distinct, so the running degree is exactly the degree within
    * the surviving subgraph — the same alive-set sequence, the same
    * fixpoint (the k-core is removal-order independent). Each round cuts
    * the degree table's lineage ([[graft.ops.ScaleOps.cut]]) so plan depth
    * stays constant, and releases the previous round's. Peeling depth is the
    * cascade length — single digits on natural graphs.
    *
    * Join strategy (guide §3.1): the removal count is already on the
    * driver each round (the fixpoint test needs it). While the removed
    * set / decrement table fit a broadcast (`broadcastNodes`, default
    * 10⁶ ≈ tens of MB), the incident-edge join and the survivor
    * decrement join broadcast — a checkpointed frame has no catalog
    * stats, so the planner otherwise shuffles the cached edge list.
    * Past the gate both degrade to plain shuffled equi-joins. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIters: Int = 30, broadcastNodes: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxIters >= 1 && maxIters <= 100,
      s"maxIters must be in [1, 100]: $maxIters")
    val e0 = edges
      .select(col(srcCol).cast("string").as("a"),
        col(dstCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    val sym = persisted(e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    releasing(sym) {
      // full within-graph degrees: ONE keyed count over the distinct
      // symmetric edges (sym lists every node as `a`)
      var degs = cut(sym.groupBy(col("a"))
        .agg(count(lit(1)).as("degree"))
        .select(col("a").as("node"), col("degree")))
      var aliveN = degs.count()
      var converged = aliveN == 0
      var it = 0
      while (!converged && it < maxIters) {
        val removed = degs.filter(col("degree") < k)
        val nRem = removed.count()
        if (nRem == 0) converged = true
        else if (aliveN - nRem <= 0) {
          // everything peeled this round: the k-core is empty
          degs = releasing(degs)(cut(degs.filter(col("degree") >= k)))
          aliveN = 0
          converged = true
        } else {
          aliveN -= nRem
          def gate(df: DataFrame): DataFrame =
            if (nRem <= broadcastNodes && aliveN <= broadcastNodes)
              broadcast(df)
            else df
          // decrement = #neighbors removed THIS round, counted over only
          // the incident edges (hash-filter scan of the cached edge list)
          val dec = sym
            .join(gate(removed.select(col("node").as("b"))), "b")
            .groupBy(col("a")).agg(count(lit(1)).as("__dec"))
            .select(col("a").as("node"), col("__dec"))
          degs = releasing(degs) {
            cut(degs.filter(col("degree") >= k)
              .join(gate(dec), Seq("node"), "left")
              .select(col("node"),
                (col("degree") - coalesce(col("__dec"), lit(0L)))
                  .as("degree")))
          }
        }
        it += 1
      }
      require(converged,
        s"kCore did not reach a fixpoint within $maxIters rounds")
      // the maintained degree table IS the answer: within-core degrees of
      // the survivors (the returned plan reads the final checkpoint — the
      // Components convention; no final re-aggregation pass)
      degs
    }
  }

  /** Node pairs ranked by shared neighbors, with the classic
    * link-prediction scores: `common` (co-occurrence count),
    * `adamic_adar` (Σ 1/ln(deg(shared neighbor)) — rare shared neighbors
    * weigh more), and `jaccard` (|Γa∩Γb| / |Γa∪Γb|). Works on bipartite
    * data directly (`srcCol` = entity, `nbrCol` = context); for a
    * unipartite graph pass the symmetrized edge list. Pairs are emitted
    * once with `a < b`; duplicate edges collapse first.
    *
    * `maxDegree`: drop neighbors connected to more than this many
    * sources BEFORE pairing — a neighbor of degree d generates d(d−1)/2
    * candidate pairs, so one mega-hub (a stopword-like context) goes
    * output-quadratic exactly like a hot LSH bucket. Capped mode trades
    * recall of pairs ONLY-connected through hubs for a hard bound;
    * `common`/`adamic_adar` then count the kept graph, while `jaccard`'s
    * denominator keeps the FULL degrees (documented asymmetry: the union
    * size is a per-node fact, not a pair enumeration).
    *
    * Scale: distinct + two keyed aggregations + one neighbor-keyed
    * self-join (Σ deg² bounded, cappable) + two degree joins. The
    * distinct edge list PERSISTS (the lshBase internal-persist contract
    * — released by the session's block sweep): it feeds the neighbor
    * degrees, BOTH sides of the pair self-join, and the source degrees,
    * and without the cache boundary the planner re-ran the scan +
    * distinct exchange in every consumer subtree — six full input scans
    * in the q313 plan (measured; the cache cuts it to one). */
  def coOccurrencePairs(edges: DataFrame, srcCol: String, nbrCol: String,
      minCommon: Int = 2, maxDegree: Option[Long] = None): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1: $minCommon")
    maxDegree.foreach(c => require(c >= 2, s"maxDegree must be >= 2: $c"))
    val e = persisted(edges.select(col(srcCol).as("a"), col(nbrCol).as("_nb"))
      .filter(col("a").isNotNull && col("_nb").isNotNull)
      .distinct())
    val nbrDeg = e.groupBy(col("_nb")).agg(count(lit(1)).as("_dn"))
    val kept = maxDegree.map(c => nbrDeg.filter(col("_dn") <= c))
      .getOrElse(nbrDeg)
    val ek = e.join(kept, Seq("_nb"))
    val pairs = ek.select(col("_nb"), col("a"), col("_dn"))
      .join(ek.select(col("_nb"), col("a").as("b")), Seq("_nb"))
      .filter(col("a") < col("b"))
    val srcDeg = e.groupBy(col("a")).agg(count(lit(1)).as("_d"))
    pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("_dn").cast("double"))).as("adamic_adar"))
      .filter(col("common") >= minCommon)
      .join(srcDeg.select(col("a"), col("_d").as("_da")), Seq("a"))
      .join(srcDeg.select(col("a").as("b"), col("_d").as("_db")), Seq("b"))
      .select(col("a"), col("b"), col("common"), col("adamic_adar"),
        (col("common").cast("double") /
          (col("_da") + col("_db") - col("common"))).as("jaccard"))
  }

  /** Degree assortativity — the Pearson correlation between the degrees
    * at the two ends of each edge: positive = hubs attach to hubs
    * (social-network shape), negative = hubs attach to leaves
    * (star/bipartite-catalog shape), ~0 = degree-agnostic wiring. For
    * `directed = true` the x is the source's out-degree and y the
    * target's in-degree over the distinct edge list; `directed = false`
    * symmetrizes first (each edge contributes both orientations — the
    * standard undirected convention). One row:
    * `(n_edges, n_src, n_dst, assortativity)`; NULL when either degree
    * is constant. Degrees are integers, so every moment sum is EXACT in
    * doubles — the correlation is bit-reproducible across engines.
    *
    * Scale: distinct + two keyed degree aggregations + two keyed joins +
    * one moment reduce. Nothing leaves keyed-shuffle shape. */
  def degreeAssortativity(edges: DataFrame, srcCol: String, dstCol: String,
      directed: Boolean = true): DataFrame = {
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val e = if (directed) e0
      else e0.union(e0.select(col("v").as("u"), col("u").as("v"))).distinct()
    val du = e.groupBy(col("u")).agg(count(lit(1)).as("_du"))
    val dv = e.groupBy(col("v")).agg(count(lit(1)).as("_dv"))
    val j = e.join(du, Seq("u")).join(dv, Seq("v"))
      .select(col("_du").cast("double").as("x"), col("_dv").cast("double").as("y"))
    val m = j.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
    val nn = e.agg(count_distinct(col("u")).as("n_src"),
      count_distinct(col("v")).as("n_dst"))
    val varX = m("n") * col("sxx") - col("sx") * col("sx")
    val varY = m("n") * col("syy") - col("sy") * col("sy")
    m.crossJoin(broadcast(nn))
      .select(col("n").as("n_edges"), col("n_src"), col("n_dst"),
        when(varX > 0 && varY > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt(varX * varY)).as("assortativity"))
  }
}
