package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.util.sketch.BloomFilter

/** Scale utilities for 100 TB operation: skew-salted joins and bucketed
  * co-located joins. These are the manual levers for the two shuffle
  * pathologies AQE cannot always fix — extreme single-key skew on the
  * *build* side of an aggregation, and repeated joins on the same key
  * across pipelines.
  *
  * It is also the library's one materialization scope: every
  * intermediate an operator pins goes through [[persisted]] (a
  * MEMORY_AND_DISK cache), [[cut]] (an eager lineage cut) and
  * [[releasing]] (frees frames on every exit of a block); frames an
  * operator RETURNS lazily over its pins are freed by the caller through
  * the one public release, [[releaseCheckpointBlocks]].
  *
  * Durability rule: a [[cut]] is durable exactly when the SparkContext
  * has a checkpoint directory (`getCheckpointDir` is defined — the rule
  * of Spark's own periodic checkpointers): a reliable checkpoint whose
  * files survive executor loss until the release paths delete them.
  * Without one it is a local checkpoint — executor-memory blocks, freed
  * by the release paths, lost unrecoverably with an executor (fine for
  * single-process runs and the bounded frames the estimators cut). Both
  * kinds are registered, so a release reaches only the library's own.
  */
object ScaleOps {

  /** Salted equi-join for skewed keys: the skewed (large) side gets a random
    * salt in [0, saltFactor); the small side is exploded `saltFactor`× so
    * every (key, salt) bucket finds its match. Correct for inner/left joins
    * on equality keys; the hot key's rows spread over `saltFactor`
    * partitions instead of one straggler task.
    *
    * Prefer AQE's skew-join splitting when it applies (sort-merge joins);
    * salting is the explicit fallback for hash aggregations and cases AQE
    * misses. */
  def saltedJoin(
      skewed: DataFrame,
      other: DataFrame,
      keys: Seq[String],
      saltFactor: Int = 16,
      joinType: String = "inner"): DataFrame = {
    require(saltFactor >= 1)
    val salted = skewed.withColumn("__salt",
      (rand(42) * saltFactor).cast("int"))
    val exploded = other.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(exploded, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Two-phase (partial → final) aggregation with explicit salting for a
    * single dominant group — the groupBy analogue of a salted join. Output:
    * one row per key with `count_all` and per-column sums for `sumCols`. */
  def saltedCountSum(
      df: DataFrame,
      keys: Seq[String],
      sumCols: Seq[String],
      saltFactor: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", (rand(42) * saltFactor).cast("int"))
    val partial = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__cnt"),
        sumCols.map(c => sum(col(c)).as(s"__sum_$c")): _*)
    partial.groupBy(keys.map(col): _*)
      .agg(sum(col("__cnt")).as("count_all"),
        sumCols.map(c => sum(col(s"__sum_$c")).as(s"sum_$c")): _*)
  }

  /** Write a bucketed + sorted table so later equi-joins and aggregations on
    * `keys` are shuffle-free (bucket pruning + co-located join). Bucketed
    * writes go through the session catalog (`saveAsTable`) — Spark's bucket
    * metadata lives there, not in plain parquet directories. */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      keys: Seq[String],
      numBuckets: Int): Unit = {
    require(keys.nonEmpty)
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Read a bucketed table back (helper for symmetry/tests). */
  def readTable(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)

  // ---- the materialization scope (see the object scaladoc) ----

  /** Frames the LIBRARY itself persisted (e.g. [[withExclusiveRunningSums]]'
    * per-distinct-value table), keyed by their analyzed plan so
    * [[releaseCheckpointBlocks]] can unpersist exactly these — and never a
    * cache the CALLER created inside the same plan. Bounded at 256 entries:
    * an aged-out frame is UNPERSISTED on eviction (unpersist on a plan
    * still in use is safe — the consumer merely recomputes), so an
    * application that builds hundreds of cumsum-backed frames before
    * releasing any cannot pin unbounded cache. Two concurrent identical
    * computations may both match one release via `sameResult` — also safe
    * for the same reason. */
  private val internalPersists: java.util.Map[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame]() {
        override def removeEldestEntry(
            e: java.util.Map.Entry[
              org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame])
            : Boolean =
          if (size() > 256) { e.getValue.unpersist(false); true } else false
      })

  /** The frames [[persisted]] returned, by identity and weakly held, so
    * [[releasing]] frees exactly that cache — never the pins upstream in
    * its plan — even after a sweep or an eviction dropped its registry
    * entry. */
  private val persistedFrames: java.util.Set[DataFrame] =
    java.util.Collections.synchronizedSet(java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[DataFrame, java.lang.Boolean]()))

  /** RDD ids of the checkpoints the LIBRARY created ([[cut]]) so
    * [[releaseCheckpointBlocks]] can scope its `LogicalRDD` sweep to them.
    * Unpersisting a CALLER's checkpoint would be worse than sweeping a
    * cache: checkpointed lineage is CUT, so the caller's frame would become
    * unrecomputable, not merely slow. Ids are monotonic per SparkContext
    * (never reused), so a stale entry is harmless. Bounded at 65536 — ids
    * are 4-byte ints, and an eviction here (unlike [[internalPersists]]')
    * cannot unpersist, so the bound is set far above any plausible count of
    * LIVE library checkpoints; [[releasing]] deregisters what it frees to
    * keep stale ids from accumulating toward it. */
  private val internalCheckpointIds: java.util.Set[Integer] =
    java.util.Collections.newSetFromMap(
      java.util.Collections.synchronizedMap(
        new java.util.LinkedHashMap[Integer, java.lang.Boolean]() {
          override def removeEldestEntry(
              e: java.util.Map.Entry[Integer, java.lang.Boolean]): Boolean =
            size() > 65536
        }))

  /** `df` persisted MEMORY_AND_DISK and recorded as a library pin, so
    * [[releaseCheckpointBlocks]] on any consumer plan releases it. Entries
    * whose SparkSession has stopped are pruned here — an app that releases
    * blocks via `clearCache()` (the documented alternative) never matches
    * entries out of the registry, and without pruning a restart would keep
    * the stopped session's whole object graph reachable for the JVM
    * lifetime. */
  private[graft] def persisted(df: DataFrame): DataFrame = {
    internalPersists.synchronized {
      val it = internalPersists.values().iterator()
      while (it.hasNext)
        if (it.next().sparkSession.sparkContext.isStopped) it.remove()
    }
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    internalPersists.put(cached.queryExecution.analyzed, cached)
    persistedFrames.add(cached)
    cached
  }

  /** Eager lineage cut of an intermediate (usually calendar/cell/spine-
    * BOUNDED; the Weibull fit base is the one data-sized-but-compact
    * exception) inside a multi-phase estimator chain, so each later
    * totals/consumer pass replans a leaf instead of replaying the whole
    * deepening plan; it also freezes a nondeterministic plan so every
    * later job sees the same rows. Durable iff the SparkContext has a
    * checkpoint directory (the durability rule in the object scaladoc);
    * otherwise a local checkpoint. Either way it is registered. */
  private[graft] def cut(df: DataFrame): DataFrame = {
    val frozen =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    frozen.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        internalCheckpointIds.add(lr.rdd.id)
      case _ => ()
    }
    frozen
  }

  /** Run `body`, then release `frames` on EVERY exit (a throw or a
    * non-local return included). A frame [[persisted]] returned releases
    * just that cache; any other frame — a [[cut]], or a plan over pins
    * such as a cumsum frame — releases every library pin in its plan
    * ([[releaseCheckpointBlocks]]). A chain step that frees its
    * predecessor as soon as the next link exists is
    * `releasing(prev) { … cut(next) }`. */
  private[graft] def releasing[T](frames: DataFrame*)(body: => T): T = {
    adjustScope(frames, 1)
    try body
    finally {
      adjustScope(frames, -1)
      frames.foreach { df =>
        if (persistedFrames.remove(df)) {
          internalPersists.remove(df.queryExecution.analyzed)
          df.unpersist(false)
        } else releaseCheckpointBlocks(df)
      }
    }
  }

  /** The frames an open [[releasing]] scope will release on exit, with how
    * many open scopes hold each. A release inside the scope leaves the
    * pins in their plans to the scope: a sweep of a plan over an
    * enclosing scope's [[persisted]] frame would otherwise unpersist it
    * while the scope still reads it, and every later job would recompute
    * it from the input. */
  private val scopedFrames = new java.util.IdentityHashMap[DataFrame, Integer]()

  private def adjustScope(frames: Seq[DataFrame], delta: Int): Unit =
    scopedFrames.synchronized(frames.foreach { df =>
      val n = scopedFrames.getOrDefault(df, 0) + delta
      if (n == 0) scopedFrames.remove(df) else scopedFrames.put(df, n)
    })

  /** Release EVERY block a DataFrame's plan pinned by THIS LIBRARY, both
    * kinds: local-checkpoint leaves (`LogicalRDD` — registered with the
    * RDD, unreachable from `Dataset.unpersist`/`Catalog.clearCache`) AND
    * [[persisted]] subtrees (CacheManager entries the caller holds no
    * handle to — e.g. the per-distinct-value table inside
    * [[withExclusiveRunningSums]]). Blocks the CALLER pinned —
    * their persists on inputs, their own localCheckpoints feeding an
    * operator — are left untouched: releasing a user's cache silently
    * forces recomputes, and releasing a user's checkpoint (whose lineage
    * is cut) would brick their frame outright. The `materialize = true`
    * dedup operators return checkpointed results and the two-phase
    * rank/cumsum consumers return plans over cached subtrees — invoke this
    * once the result is consumed and the session is block-free again. Safe
    * on any DataFrame (no-op without pinned blocks); the frame must not be
    * re-executed afterwards (checkpointed lineage is cut; cached subtrees
    * merely recompute). A durable checkpoint's directory is deleted with
    * it: Spark keeps reliable-checkpoint files for the life of the
    * application unless `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is set. */
  def releaseCheckpointBlocks(df: DataFrame): Unit = {
    // pins an open releasing scope owns stay for that scope to release
    val owned = scopedFrames.synchronized(scopedFrames.keySet().toArray(Array.empty[DataFrame]))
      .map(_.queryExecution.analyzed)
    val ownedRdds = owned.flatMap(_.collectLeaves()).collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if !ownedRdds(lr.rdd.id) && internalCheckpointIds.remove(lr.rdd.id) =>
        lr.rdd.unpersist(false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(lr.rdd.sparkContext.hadoopConfiguration).delete(path, true)
        }
      case _ => ()
    }
    // unpersist exactly the library-registered persists inside this plan
    val plan = df.queryExecution.analyzed
    def ownedPin(pin: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      owned.exists(_.exists(_.sameResult(pin)))
    val hits = Vector.newBuilder[DataFrame]
    internalPersists.synchronized {
      val it = internalPersists.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (plan.exists(_.sameResult(e.getKey)) && !ownedPin(e.getKey)) {
          hits += e.getValue; it.remove()
        }
      }
    }
    hits.result().foreach(_.unpersist(false))
  }

  /** Pin the exchange feeding an EXPLODING equi-self-join to the session
    * shuffle-partition setting. AQE sizes post-shuffle partitions from the
    * exchange's INPUT bytes and cannot see that a band/block self-join
    * multiplies them (Σ per-key size² candidate rows, each paying a verify
    * kernel) — measured at sf0.1 it folded several pair cores to 1-2
    * partitions and serialized megabytes of kernel work onto one task
    * (guide §2.5). The session setting, not the local core count, is the
    * contract on a cluster, so this stays scale-configured. */
  private[graft] def spreadPairJoin(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions),
      keys: _*)

  // ---- bloom-prefiltered joins -----------------------------------------
  //
  // The selective-join lever for 100 TB: when a big fact side joins a
  // filtered dimension and most fact rows have NO match, a plain shuffle
  // join still shuffles every fact row. Spark's own runtime row-level
  // filtering (InjectRuntimeFilter) covers some shapes; these helpers make
  // the same bloom-prefilter an explicit, composable operator using Spark's
  // native BloomFilterAggregate / BloomFilterMightContain expressions (the
  // codegen'd machinery behind spark.sql.optimizer.runtime.bloomFilter).
  // The bloom has no false negatives, so prefilter + exact join ≡ exact
  // join — only the shuffle volume changes.

  /** Serialized bloom filter over `xxhash64(key)` of `df` (one aggregation
    * job; the binary is at most `optimalNumOfBits(expectedItems, fpp)` bits,
    * ~1.2 MB at 1 M items / 3% fpp). Returns None for an empty input.
    * `expectedItems` must stay within
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (default 4 M) —
    * beyond that, bucket or broadcast instead. */
  def buildBloom(df: DataFrame, key: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.03): Option[Array[Byte]] = {
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    buildBloomWithCount(df, col(key), expectedItems, numBits)._1
  }

  /** [[buildBloom]] with the spec made explicit (so two filters built at
    * different times stay `mergeInPlace`-compatible — bit size and hash
    * count are pure functions of `expectedItems`/`numBits`) and the row
    * count piggybacked on the SAME aggregation job (no second pass).
    * Used by the persisted seen-bloom admission path
    * ([[graft.operators.Dedup.writeSeenBloom]]). */
  private[graft] def buildBloomWithCount(df: DataFrame, key: Column,
      expectedItems: Long, numBits: Long): (Option[Array[Byte]], Long) = {
    val agg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(key)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    val row = df.select(ColumnBridge.column(agg).as("bf"),
      count(lit(1)).as("n")).head()
    (if (row.isNullAt(0)) None else Some(row.getAs[Array[Byte]](0)),
      row.getLong(1))
  }

  /** `might_contain(bloom, xxhash64(key))` as a Column — a codegen'd
    * predicate; the bloom bytes ride along as a literal (shipped once per
    * task with the serialized plan, like a broadcast variable). */
  def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(xxhash64(key))))

  /** Equi-join with a bloom prefilter on the big side: build a bloom over
    * the small side's keys, drop big-side rows the bloom rejects BEFORE the
    * join shuffle, then run the exact join. No false negatives ⇒ result is
    * identical to the plain join; the prefilter only cuts the shuffled
    * volume (by ~the non-match fraction, at the cost of `fpp` leakage).
    * Sound for inner and semi joins only — outer joins must keep
    * non-matching rows, so prefiltering the preserved side would be wrong. */
  def bloomPrefilteredJoin(
      big: DataFrame, bigKey: String,
      small: DataFrame, smallKey: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.03,
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_semi", "leftsemi").contains(joinType.toLowerCase),
      s"bloom prefilter is only sound for inner/semi joins, got: $joinType")
    val pref = buildBloom(small, smallKey, expectedItems, fpp) match {
      case None => big.filter(lit(false))
      case Some(bytes) => big.filter(mightContain(bytes, col(bigKey)))
    }
    pref.join(small, pref(bigKey) === small(smallKey), joinType)
  }

  // ---- pre-flight shuffle diagnostics ----------------------------------
  //
  // The reports you run BEFORE choosing the levers above: whether a key is
  // skewed enough to salt, and whether a join will fan out. Both operate on
  // per-key COUNTS (one partial-aggregated shuffle over short keys), never
  // on the data itself — at 100 TB the diagnostic costs a count, not a join.

  /** One-row skew summary of `df` grouped by `keyCols`: key cardinality,
    * row count, max/mean per-key count, interpolated p50/p90/p99 of the
    * count distribution, and `skew` = max/mean (1.0 = perfectly uniform;
    * the straggler-task multiplier a shuffle on this key would suffer).
    * `exact = false` switches the percentiles to `approx_percentile` for
    * corpora where |keys| itself is huge. */
  def keySkewReport(df: DataFrame, keyCols: Seq[String],
      exact: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
    val pct = (p: Double) =>
      if (exact) percentile(col("c"), lit(p)) else approx_percentile(col("c"), lit(p), lit(10000))
    counts.agg(
      count(lit(1)).as("n_keys"),
      sum("c").as("n_rows"),
      max("c").as("max_count"),
      round(avg("c"), 4).as("mean_count"),
      pct(0.5).as("p50_count"),
      pct(0.9).as("p90_count"),
      pct(0.99).as("p99_count"),
      round(max("c") / avg("c"), 4).as("skew"))
  }

  /** Per-key counts of the heaviest keys (the salting candidates): top-k by
    * count with each key's share of all rows. Bounded output via
    * TakeOrderedAndProject — no full sort of the key table. */
  def heavyHitters(df: DataFrame, keyCols: Seq[String], k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("key_count"))
    val total = counts.agg(sum("key_count").as("_total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", round(col("key_count") / col("_total"), 6))
      .drop("_total")
      .orderBy(col("key_count").desc, struct(keyCols.map(col): _*).asc)
      .limit(k)
  }

  /** One-row join-fanout estimate for `left ⋈ right` on `keys` WITHOUT
    * running the join: per-key counts on each side (two partial-aggregated
    * shuffles), inner-joined on the key (a join of two count tables, not of
    * the data), per-key fanout = cl × cr. `est_rows` is the EXACT inner
    * equi-join output size; `max_fanout` names the single worst key's
    * contribution — the row-explosion diagnostic to check before any big
    * join (a self-join on a key with count c contributes c²). */
  def joinFanoutReport(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "at least one join key required")
    val cl = left.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cl"))
    val cr = right.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cr"))
    val matched = cl.join(cr, keys).withColumn("fanout", col("cl") * col("cr"))
    val nl = cl.agg(count(lit(1)).as("n_keys_left"))
    val nr = cr.agg(count(lit(1)).as("n_keys_right"))
    matched.agg(
        count(lit(1)).as("n_keys_matched"),
        sum("fanout").as("est_rows"),
        max("fanout").as("max_fanout"),
        round(avg("fanout"), 4).as("mean_fanout"))
      .crossJoin(broadcast(nl)).crossJoin(broadcast(nr))
      .select(col("n_keys_left"), col("n_keys_right"), col("n_keys_matched"),
        col("est_rows"), col("max_fanout"), col("mean_fanout"))
  }

  /** Deterministic range-bucket id for a (numeric, cast-to-double) ordering
    * value: `id(v)` = number of split points ≤ v. Split points are collected
    * ONCE on the driver and inlined as literals, so the bucket id is a PURE
    * function of the row — monotone (`v1 ≤ v2 ⇒ id(v1) ≤ id(v2)`, with
    * strict inequality across buckets: two rows in different buckets have
    * strictly ordered values), null → bucket 0 (matching asc-nulls-first
    * sort order) and NaN → last bucket (Spark orders NaN greatest and its
    * comparison operators agree). Because the id is deterministic,
    * two-phase plans built on it need NO `localCheckpoint`/persist to keep
    * their counting job and consumer job consistent: recomputation — even
    * after block loss on a real cluster — reassigns identical buckets,
    * where a sampled `repartitionByRange` or `monotonically_increasing_id`
    * would silently renumber (fail-stop at best, corruption at worst). */
  private[graft] def rangeBucketExpr(splits: Array[Double], v: Column,
      descending: Boolean = false, nullsFirst: Boolean = true): Column =
    if (splits.isEmpty) lit(0)
    else ColumnBridge.column(graft.functions.kernels.RangeBucketExpr(
      ColumnBridge.expression(v), splits, descending, nullsFirst))

  /** Decompose an ordering Column into (value, descending, nullsFirst) —
    * `col("x").desc` arrives as a `SortOrder` node that neither casts nor
    * code-gens as a value expression. */
  private def sortParts(order: Column): (Column, Boolean, Boolean) = {
    import org.apache.spark.sql.catalyst.expressions.{SortOrder, Descending, NullsFirst}
    ColumnBridge.convertedExpression(order) match {
      case so: SortOrder =>
        (ColumnBridge.column(so.child), so.direction == Descending,
          so.nullOrdering == NullsFirst)
      case _ => (order, false, true)
    }
  }

  /** True when any expression in `df`'s plan is nondeterministic
    * (rand/uuid/monotonically_increasing_id/unseeded sample): the
    * deterministic-bucket two-phase plans re-evaluate the lineage in
    * separate jobs and require identical row VALUES each time — such
    * inputs must freeze a materialization first. */
  private[graft] def hasNondeterministicPlan(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(p =>
      p.expressions.exists(e => e.exists(!_.deterministic)))

  /** Driver-collected split points for [[rangeBucketExpr]]: the
    * `numShufflePartitions`-iles of `order` (approximate — balance only;
    * correctness never depends on WHERE the splits fall, only on their
    * being fixed literals — hence the LOW `accuracy` default: a
    * percentile_approx summary sized for placement-insensitive splits
    * costs a fraction of the 2500-default buffers on merge. The summary
    * must still RESOLVE n distinct split points, so the effective
    * accuracy scales as max(100, 4n): a fixed 100 under thousands of
    * shuffle partitions would collapse the n requested quantiles onto
    * ~100 distinct stored tuples and quietly merge buckets). One
    * aggregation job over the single cast column; on a parquet source
    * that scan is column-pruned. */
  private[graft] def rangeSplits(df: DataFrame, order: Column,
      accuracy: Int = 0): Array[Double] = {
    val n = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    if (n == 1) return Array.empty
    val acc = if (accuracy > 0) accuracy else math.max(100, 4 * n)
    val probs = (1 until n).map(_.toDouble / n)
    // percentile_approx: codegen'd partial aggregate — one cheap pruned
    // scan (vs the RDD-path Dataset.stat.approxQuantile, ~3× slower on
    // job overhead alone)
    val row = df
      .agg(percentile_approx(order.cast("double"),
        array(probs.map(lit(_)): _*), lit(acc)).as("__qs"))
      .head()
    if (row.isNullAt(0)) Array.empty // all-null / empty input
    else row.getSeq[Double](0).filterNot(_.isNaN).distinct.sorted.toArray
  }

  /** Deterministic range-bucket splits from parquet FOOTER statistics —
    * ZERO Spark jobs. Succeeds when `df`'s plan is projections/filters/
    * aliases over a single parquet relation, the named column traces (by
    * exprId, so renames can't mis-bind) to a plain-numeric relation column
    * — possibly through an order-preserving numeric cast — and every
    * populated row group carries usable stats. Splits are equi-width over
    * the footer [min,max] at 4× shuffle-partition granularity: balance can
    * suffer under value skew (the exact per-bucket counts keep offsets
    * correct regardless, and 4× granularity spreads moderate skew), but
    * the data-sized quantile pass disappears — at 100 TB that is a whole
    * column scan traded for a footer read. Capped at 256 footers so the
    * driver-side read stays bounded; larger file sets fall back to the
    * quantile job. */
  private[graft] def footerRangeSplits(df: DataFrame,
      column: String): Option[Array[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types._
    val analyzed = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val top = analyzed.output.find(a => resolver(a.name, column)).getOrElse(return None)

    def numericish(dt: DataType): Boolean = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType => true
      case _ => false
    }
    // Returns EVERY (relation, column) leaf the attribute traces to — one
    // for a plain scan, one per branch through a Union (a union's range is
    // the min/max over its children's, so tall-concat inputs keep the
    // zero-job path). None (not a partial list) when ANY branch fails to
    // trace: a partial range does not bound the union.
    def trace(plan: LogicalPlan, attr: Attribute)
        : Option[Seq[(LogicalRelation, Attribute)]] =
      plan match {
        case p: Project =>
          p.projectList.find(_.exprId == attr.exprId) match {
            case Some(a: AttributeReference) => trace(p.child, a)
            case Some(Alias(ar: AttributeReference, _)) => trace(p.child, ar)
            case Some(Alias(c: Cast, _)) if numericish(c.dataType) =>
              c.child match {
                case ar: AttributeReference if numericish(ar.dataType) => trace(p.child, ar)
                case _ => None
              }
            case _ => None
          }
        case f: Filter => trace(f.child, attr)
        case s: SubqueryAlias => trace(s.child, attr)
        case a: Aggregate =>
          // a GROUPING column's distinct values are a subset of the child
          // column's values, so the child's footer range still bounds it
          a.aggregateExpressions.find(_.exprId == attr.exprId) match {
            case Some(ar: AttributeReference) => trace(a.child, ar)
            case Some(Alias(ar: AttributeReference, _)) => trace(a.child, ar)
            case _ => None
          }
        case u: Union =>
          // union output attrs are positional over the children's outputs
          val idx = u.output.indexWhere(_.exprId == attr.exprId)
          if (idx < 0) None
          else {
            val perChild = u.children.map(c =>
              if (idx < c.output.length) trace(c, c.output(idx)) else None)
            if (perChild.exists(_.isEmpty)) None
            else Some(perChild.flatMap(_.get))
          }
        case lr: LogicalRelation if lr.output.exists(_.exprId == attr.exprId) =>
          Some(Seq((lr, lr.output.find(_.exprId == attr.exprId).get)))
        case _ => None
      }

    val leaves = trace(analyzed, top).getOrElse(return None)
    if (leaves.isEmpty || leaves.exists(l => !numericish(l._2.dataType)))
      return None
    val perLeafFiles = leaves.map { case (lr, baseAttr) =>
      lr.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] =>
          (h.location.inputFiles.toSeq, baseAttr.name)
        case _ => return None
      }
    }
    if (perLeafFiles.exists(_._1.isEmpty) ||
      perLeafFiles.map(_._1.length).sum > 256) return None
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    // min/max across every traced leaf (each may bind a different column
    // name — unions align positionally, not by name)
    val (lo, hi) =
      try {
        val ranges = perLeafFiles.map { case (files, name) =>
          graft.io.FooterStats.columnRange(conf, files, name)
            .getOrElse(return None)
        }
        (ranges.map(_._1).min, ranges.map(_._2).max)
      } catch { case scala.util.control.NonFatal(_) => return None }
    if (hi <= lo) {
      // constant (or degenerate-range) column: every row lands in bucket 0,
      // i.e. the single-partition window this machinery exists to avoid —
      // legal (a constant order has one bucket by definition) but worth a
      // visible trace at 100 TB, where it is the canonical stall signature
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"footerRangeSplits: column '$column' has degenerate range " +
          s"[$lo, $hi] — all rows will fall in one range bucket")
      return Some(Array.empty)
    }
    val nb = math.min(4 * math.max(1,
      df.sparkSession.sessionState.conf.numShufflePartitions), 512)
    val width = (hi - lo) / nb
    if (!java.lang.Double.isFinite(width) || width <= 0) return None
    Some((1 until nb).map(i => lo + width * i).toArray.distinct.sorted)
  }

  /** Attach the EXCLUSIVE running sum of `cntCol` under `order` to a
    * per-distinct-value table as `outCol` — the two-phase distributed
    * cumsum: [[rangeBucketExpr deterministic range buckets]] on `order`,
    * per-bucket cumulative windows (keyed by bucket id — fully parallel),
    * prefix-sum the ≤ numShufflePartitions per-bucket totals on the driver
    * and broadcast-join the offsets back. No global single-partition window
    * anywhere in the plan, and — because the bucket id is a pure function
    * of the value — no checkpoint/persist either: the totals job and the
    * consumer job recompute the same assignment by construction. The
    * building block behind the distributed CDF/rank paths
    * ([[graft.profile.Drift.ksStatistic]] pioneered the shape;
    * [[graft.operators.LinearModel.evalScores]], `thresholdAtKeepRate` and
    * [[graft.profile.Drift.quantileNormalize]] consume this one — the
    * quantile path uses its own histogram passes,
    * [[graft.profile.ExactQuantiles]]). `order` must be numeric
    * (castable to double losslessly enough to stay monotone — any
    * NumericType or timestamp qualifies). */
  def withExclusiveRunningSum(perV: DataFrame, order: Column,
      cntCol: String, outCol: String,
      splitsHint: Option[Array[Double]] = None,
      persistInput: Boolean = true): DataFrame =
    withExclusiveRunningSums(perV, order, Seq(cntCol), Seq(outCol), splitsHint,
      persistInput)._1

  /** Multi-column form of [[withExclusiveRunningSum]] — one bucket
    * assignment, ONE totals pass and ONE window stage carry any number of
    * simultaneous running sums under the same order (the two-sided CDF
    * shape [[pooledValueCdf]] builds for the two-sample rank tests). Also
    * returns the GRAND totals per count column (free by-product of the
    * offsets collect — callers like KS need them and must not pay another
    * pass).
    *
    * `splitsHint`: precomputed split points (any fixed, sorted, distinct
    * values — correctness never depends on placement, only balance does).
    * Callers whose `perV` is a join/aggregate the footer tracer cannot see
    * through should derive splits from the RAW upstream column (e.g.
    * [[footerRangeSplits]] on the pre-join side — zero jobs) and pass them
    * here, skipping the data-sized quantile pass entirely.
    *
    * `persistInput`: whether to cache `perV` across the (splits +) totals
    * and consumer jobs. CORRECTNESS never needs it on a deterministic plan
    * (the bucket id is a pure function of the row, so every job recomputes
    * identical assignments); it is purely the recompute-vs-materialize
    * trade. Keep the default (true) when the lineage above `perV` is
    * expensive — e.g. a multi-stage feature/scoring pipeline (measured at
    * sf0.1: dropping it doubled the logreg-gate consumers). Pass false
    * when `perV` is cheap to replay AND the splits arrive job-free
    * (hint/footer) — a large distinct-value table then skips a
    * data-sized MEMORY_AND_DISK materialization entirely (measured: the
    * KS continuous path fell 1.42 s → 0.62 s), which is also the only
    * shape that survives 100 TB, where the cache write IS the bottleneck. */
  private[graft] def withExclusiveRunningSums(perV: DataFrame, order: Column,
      cntCols: Seq[String], outCols: Seq[String],
      splitsHint: Option[Array[Double]] = None,
      persistInput: Boolean = true): (DataFrame, Seq[Long]) = {
    require(cntCols.nonEmpty && cntCols.size == outCols.size,
      s"need matching cnt/out columns: $cntCols vs $outCols")
    import org.apache.spark.sql.expressions.Window
    val (orderVal, desc, nullsFirst) = sortParts(order)
    // A DETERMINISTIC plan never NEEDS materialization between the totals
    // job and the consumer job: the bucket id is a pure function of the
    // row, so each job recomputes identical assignments by construction —
    // even after block loss on a real cluster. Whether to cache anyway is
    // the caller's recompute-vs-materialize trade (`persistInput`, see
    // scaladoc). A plan carrying rand()/uuid()-class expressions would
    // silently renumber on recompute, so THAT case always freezes a
    // [[cut]] (fail-stop on block loss beats corruption); the caller
    // releases the result frame, which frees it.
    val nondetInput = hasNondeterministicPlan(perV)
    val cached =
      if (nondetInput) cut(perV)
      else if (persistInput) persisted(perV)
      else perV
    // split points: caller-supplied hint first (zero jobs), then footer
    // statistics when `order` is a plain attribute tracing to one parquet
    // relation (zero jobs), else one low-accuracy quantile pass
    val orderName = ColumnBridge.convertedExpression(orderVal) match {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
      case _ => None
    }
    val splits = splitsHint.map(_.distinct.sorted)
      .orElse(orderName.flatMap(n => footerRangeSplits(perV, n)))
      .getOrElse(rangeSplits(cached, orderVal))
    def withPid(src: DataFrame) = src.withColumn("__rs_pid",
      rangeBucketExpr(splits, orderVal.cast("double"), desc, nullsFirst))
    // the totals pass also counts rows per bucket (one more agg column on
    // a job that runs anyway) so the consumer plan below can be compacted
    // from the MEASURED size — never from the core count
    val totalsRows = withPid(cached).groupBy("__rs_pid")
      .agg(count(lit(1)).as("__rs_n"),
        cntCols.zipWithIndex.map { case (c, i) =>
          sum(col(c)).cast("long").as(s"__rs_t$i") }: _*)
      .collect()
    val totals = totalsRows
      .map(r => r.getInt(0) -> cntCols.indices.map(i => r.getLong(i + 2)))
      .toMap
    val grand = cntCols.indices.map(i => totals.valuesIterator.map(_(i)).sum)
    // Materialized-input compaction (the ParamFrame.compactForIteration
    // family): a MATERIALIZED input (library persist or checkpoint — both
    // pin the session-constant partitioning, which AQE cannot re-coalesce
    // under the default canChangeCachedPlanOutputPartitioning=false) whose
    // measured row count is tiny re-reads as ceil(rows/256k) blocks in the
    // window/consumer plan instead of `numShufflePartitions` near-empty
    // ones. The totals job already priced the full layout once (it
    // materialized the cache); every LATER pass over the result — and the
    // q202/q205-style estimators run 3-4 of them — drops to the compacted
    // task count. A raw (persistInput=false, deterministic) input is left
    // alone: coalescing it would narrow the upstream COMPUTATION.
    val nRows = totalsRows.map(_.getLong(1)).sum
    // a caller-checkpointed input (bare LogicalRDD leaf — the KM-family
    // spines) is ALSO materialized and compactable even under
    // persistInput = false
    val materializedLeaf = perV.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _ => false
    }
    val src =
      if (nondetInput || persistInput || materializedLeaf)
        ParamFrame.compactForIteration(cached, nRows)
      else cached // nothing materialized — don't narrow the computation
    val parts = withPid(src)
    // exclusive prefixes indexed by bucket id (empty buckets carry the
    // running total forward) — inlined as array literals + element_at:
    // O(1) projections, no broadcast-join stage in the plan
    val offArrs = cntCols.indices.map { i =>
      prefixOffsets(totals.map { case (p, v) => p -> v(i) }, splits.length + 1)
    }
    val wl = Window.partitionBy("__rs_pid").orderBy(order)
      .rowsBetween(Window.unboundedPreceding, -1)
    val out = cntCols.indices.foldLeft(parts) { (df, i) =>
        df.withColumn(outCols(i),
          coalesce(sum(col(cntCols(i))).over(wl), lit(0L)) +
            element_at(typedLit(offArrs(i).toSeq), col("__rs_pid") + 1))
      }
      .drop("__rs_pid")
    (out, grand)
  }

  /** Rank-exact cutpoints over a distinct-value count table — the shared
    * engine behind every "values at ranks ⌈i·n/bins⌉" operator
    * ([[graft.profile.Drift.psiQuantile]] decile-of-reference edges,
    * [[graft.profile.Association.numericMutualInfo]] quantile bins,
    * [[graft.operators.LinearModel.hosmerLemeshow]] deciles of risk,
    * [[graft.profile.StatTests.moodMedianTest]]'s grand median). `counts` is a
    * per-distinct-value `(value, count)` aggregate; `ranksOf(n)` maps the
    * grand total to the 1-based target ranks; the result is the DISTINCT
    * sorted values at those ranks of the expanded multiset ("first value
    * whose cumulative count reaches the rank" — tie-collapsing, both
    * engines land on observed values).
    *
    * Scale: the running sum is [[withExclusiveRunningSums]] — the
    * two-phase distributed cumsum (range buckets on the value, per-bucket
    * keyed windows, driver prefix over ≤ numShufflePartitions totals) —
    * NEVER an unkeyed data-sized window; its totals pass also yields `n`,
    * so no separate count job. The only collect is the ≤|ranks| hit rows.
    * `persistInput` stays off: a distinct-count aggregate is cheap to
    * replay, and skipping the data-sized materialization is the shape that
    * survives 100 TB (the [[graft.profile.Drift.ksStatistic]] precedent). */
  def rankCutpoints(counts: DataFrame, vCol: String, cntCol: String,
      ranksOf: Long => Seq[Long]): (Long, Seq[Double]) = {
    val perV = counts.select(col(vCol).cast("double").as("__rc_v"),
      col(cntCol).cast("long").as("__rc_c"))
    val (cum, grand) = withExclusiveRunningSums(perV, col("__rc_v"),
      Seq("__rc_c"), Seq("__rc_e"), persistInput = false)
    // everything collects to plain Scala values before returning, so any
    // internal checkpoint (nondeterministic-lineage inputs) must release
    // HERE — the caller never sees `cum`
    releasing(cum) {
      val n = grand.head
      if (n == 0) return (0L, Seq.empty)
      val targets = ranksOf(n).filter(t => t >= 1 && t <= n).distinct.sorted
      if (targets.isEmpty) return (n, Seq.empty)
      // each target rank t hits exactly ONE distinct value: the row with
      // exclusive-cum < t <= exclusive-cum + count (its predecessor's
      // inclusive cum is below t, its own reaches it)
      val tArr = typedLit(targets)
      val hits = cum
        .select(col("__rc_v"),
          filter(tArr, t => t > col("__rc_e") &&
            t <= col("__rc_e") + col("__rc_c")).as("__rc_hit"))
        .filter(size(col("__rc_hit")) > 0)
        .select(col("__rc_v"))
        .collect().map(_.getDouble(0))
      (n, hits.distinct.sorted.toSeq)
    }
  }

  /** Pooled value CDF of two samples — the one front end of the two-sample
    * rank/CDF tests ([[graft.profile.Drift.ksStatistic]], `cramerVonMises`,
    * `wasserstein1`, `energyDistance`, `kuiperTest`, `andersonDarling2`;
    * [[graft.profile.StatTests.mannWhitneyU]], `cliffsDelta`,
    * `yuenTrimmedTest`). Per-side counts per DISTINCT non-null value of
    * `column` (cast to double), full-outer joined on `v` with the absent
    * side 0, then ONE [[withExclusiveRunningSums]] carrying three running
    * sums. Returns `(cum, n_a, n_b, n_values)`: `cum` has the columns
    * `(v, n_a, n_b, _ea, _eb, _rank)` — `_ea`/`_eb` count each side's
    * values strictly below `v`, `_rank` is the 0-based rank of `v` among
    * the pooled distinct values — and the three totals come free from the
    * cumsum's totals pass. `cum` may read a library persist: consume it
    * inside [[releasing]]`(cum)`.
    *
    * Bucket splits come from the RAW per-side columns (parquet footer
    * statistics — zero jobs): the post-join table can never trace to a
    * relation, so without the hint the cumsum would pay a data-sized
    * quantile pass over the freshly-joined distinct-value table. Each
    * side that traces contributes its splits; the union covers the
    * combined range (placement only affects balance, never correctness).
    * The hint applies only when BOTH sides trace to parquet footers: a
    * one-sided hint covers one side's range only, and if the other
    * side's values sit outside it (disjoint snapshots, time-like
    * columns) they would ALL land in one edge bucket — the
    * single-partition stall — while the hint suppressed the quantile
    * fallback that would have covered both. Both-sides-traced empties
    * are legitimate (both constant).
    *
    * The distinct-value table may be arbitrarily large (continuous
    * columns where distinct ≈ rows included); no global single-partition
    * window, no checkpoint — the bucket id is a pure function of the
    * value, so every job agrees by construction. `persistInput` is off
    * when the splits are footer-derived: the joined table may be
    * ~row-sized, and a MEMORY_AND_DISK materialization of it costs more
    * than replaying the two pruned scans + cell join for the totals and
    * consumer jobs (measured at sf0.1: 1.42 s → 0.62 s on the
    * continuous-column KS) — and at 100 TB the cache write would be the
    * bottleneck outright. Without the hint the cumsum pays a quantile
    * pass too (3 replays), so the cache earns its keep there. */
  private[graft] def pooledValueCdf(a: DataFrame, b: DataFrame,
      column: String): (DataFrame, Long, Long, Long) = {
    def side(df: DataFrame, n: String) = df
      .select(col(column).cast("double").as("v"))
      .filter(col("v").isNotNull).groupBy("v").agg(count(lit(1)).as(n))
    val va = side(a, "n_a")
    val vb = side(b, "n_b")
    val joined = va.join(vb, Seq("v"), "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
      .withColumn("__one", lit(1L))
    val hint = (footerRangeSplits(va, "v"), footerRangeSplits(vb, "v")) match {
      case (Some(x), Some(y)) => Some((x ++ y).distinct.sorted)
      case _ => None
    }
    val (cum, grand) = withExclusiveRunningSums(joined, col("v"),
      Seq("n_a", "n_b", "__one"), Seq("_ea", "_eb", "_rank"), hint,
      persistInput = hint.isEmpty)
    (cum.drop("__one"), grand(0), grand(1), grand(2))
  }

  /** The k-group rank front end of [[graft.profile.StatTests.kruskalWallis]],
    * `dunnTest` and `jonckheereTerpstra`: per-(group, value) counts `c`
    * of `gv` (complete-case `(g: string, v: double)` rows), per-value
    * counts, ONE persisted [[withExclusiveRunningSums]]. With `groups`
    * empty (KW, Dunn) it returns `(v, g, c, _r, _t)` — each count beside
    * the average rank `_r` of `v` and the tie size `_t` — and `Seq(n)`.
    * With `groups` listed (JT) the counts pivot to `_c{i}` per group in
    * that order and it returns the cumsum frame (`_e{i}`: the group's
    * values below `v`) and the group sizes. Consume the frame inside
    * [[releasing]]`(frame)`. */
  private[graft] def groupValueRanks(gv: DataFrame,
      groups: Seq[String] = Nil): (DataFrame, Seq[Long]) = {
    val perGV = gv.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    if (groups.isEmpty) {
      val perV = perGV.groupBy(col("v")).agg(sum(col("c")).as("cnt"))
      val (cum, grand) = withExclusiveRunningSums(
        perV, col("v"), Seq("cnt"), Seq("_before"))
      val ranks = cum.select(col("v"),
        (col("_before") + (col("cnt") + 1) / lit(2.0)).as("_r"),
        col("cnt").cast("double").as("_t"))
      (perGV.join(ranks, Seq("v")), grand)
    } else {
      val perGroup = groups.indices.map(i =>
        coalesce(sum(when(col("g") === groups(i), col("c"))), lit(0L))
          .as(s"_c$i"))
      val perV = perGV.groupBy(col("v")).agg(perGroup.head, perGroup.tail: _*)
      withExclusiveRunningSums(perV, col("v"),
        groups.indices.map(i => s"_c$i"), groups.indices.map(i => s"_e$i"))
    }
  }

  /** The shared ⌈i·n/bins⌉ rank spine (i = 1..bins−1) every
    * decile/quantile-bin consumer of [[rankCutpoints]] uses — ONE home
    * for the ceiling convention so the operators cannot silently
    * diverge. */
  def quantileRanks(bins: Int): Long => Seq[Long] = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    n => (1 until bins).map(i => (i.toLong * n + bins - 1) / bins)
  }

  /** Exclusive prefix sums over `nb` bucket totals, dense-indexed by bucket
    * id (buckets absent from `totals` contribute 0 and carry the running
    * total forward). */
  private[graft] def prefixOffsets(totals: Map[Int, Long], nb: Int): Array[Long] = {
    val offArr = new Array[Long](nb)
    var acc = 0L
    var i = 0
    while (i < nb) {
      offArr(i) = acc
      acc += totals.getOrElse(i, 0L)
      i += 1
    }
    offArr
  }

  /** Heavy hitters via the Space-Saving sketch
    * ([[graft.functions.kernels.SpaceSavingAgg]]) — [[heavyHitters]] with
    * HARD-BOUNDED state: the exact form's shuffle carries one row per
    * distinct key per partition (unbounded for URL/id-cardinality keys);
    * the sketch ships ≤ `capacity` counters per partition and merges
    * map-side, trading exactness for a fixed memory/exchange budget.
    * Output: `(rank, key, count, err)` for the top `k` tracked keys —
    * `count` is an upper bound, `count − err` a lower bound, and when the
    * key cardinality is ≤ `capacity` the counts are exact (`err` 0). */
  def heavyHittersSketch(df: DataFrame, keyCol: String,
      k: Int = 20, capacity: Int = 1024): DataFrame = {
    require(k >= 1 && k <= capacity, s"need 1 <= k ($k) <= capacity ($capacity)")
    df.agg(graft.functions.kernels.SpaceSavingAgg.sketch(col(keyCol), capacity)
        .as("sk"))
      .select(posexplode(col("sk")).as(Seq("i", "e")))
      .filter(col("i") < k)
      .select((col("i") + 1).as("rank"), col("e.key").as("key"),
        col("e.count").as("count"), col("e.err").as("err"))
  }

  /** KMV (k-minimum-values) distinct-count sketch — the REPLAYABLE
    * cardinality estimator: md5-prefix hashes (the repo's deterministic
    * resampling idiom) feed a k-bounded minima aggregate
    * ([[graft.functions.kernels.KmvAgg]]), and the estimate is the
    * closed form (k−1)/u_(k) over the k-th smallest normalized hash —
    * so an external engine replaying the same md5 arithmetic lands on
    * the IDENTICAL estimate, bit for bit (HLL answers faster per byte
    * but its register layout is engine-private; this sketch is the one
    * you can oracle-check and diff across systems). Exact below k:
    * with fewer than k distinct hashes the minima set IS the distinct
    * set and the estimate equals the true count. One row:
    * `(k, n_kept, estimate)`.
    *
    * Scale: one scan; each partition's partial is ≤ k longs (map-side
    * combining), the shuffle carries k·partitions longs. Hash
    * collisions: 60-bit space ⇒ birthday effects are ~1e-9 relative at
    * a billion distinct keys — inside the sketch's own √(2/k) noise. */
  def kmvDistinct(df: DataFrame, keyCol: String, k: Int = 1024): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    // 15 md5 hex chars = 60 bits, normalized by 2^60 into [0, 1)
    val h = conv(substring(md5(concat(lit("kmv:"),
      col(keyCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val norm = lit(1152921504606846976.0) // 2^60, exactly representable
    df.filter(col(keyCol).isNotNull)
      .agg(graft.functions.kernels.KmvAgg.kMinima(h, k).as("mins"))
      .select(
        lit(k).as("k"),
        size(col("mins")).cast("long").as("n_kept"),
        when(size(col("mins")) < k, size(col("mins")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (element_at(col("mins"), k).cast("double") / norm))
          .as("estimate"))
  }

  /** Count–Min row buckets: ONE md5 per key, its 32 hex chars sliced into
    * four independent 8-char (32-bit) row hashes — md5's diffusion makes
    * the slices pairwise independent for bucketing purposes, and one
    * digest per row instead of `depth` was the difference between this
    * being the catalog's slowest query and a sub-second one. Returns the
    * bucket array indexed by sketch row; both the build and the probe
    * (and an external replaying engine) share it. */
  private def cmsBuckets(key: Column, depth: Int, width: Int): Column = {
    val h = md5(concat(lit("cms:"), key.cast("string")))
    array((0 until depth).map(d =>
      conv(substring(h, d * 8 + 1, 8), 16, 10).cast("long") % width): _*)
  }

  /** Count–Min sketch cells — the REPLAYABLE frequency sketch: `depth`
    * md5-derived hash rows × `width` buckets of summed counts, built in
    * one pass. Answers "approximately how often does key X occur" with
    * the one-sided guarantee estimate ≥ truth (collisions only ADD), at
    * depth·width cells of state regardless of key cardinality — the
    * heavy-hitters complement to [[heavyHittersSketch]] (SpaceSaving
    * tracks the top keys; CMS answers point queries about ANY key,
    * including ones it never saw whole). Deterministic md5 hashing, so
    * an external engine replays the identical cells and estimates.
    * Output: `(d, bucket, cnt)` — at most depth·width rows.
    *
    * Scale: the depth-way explode multiplies rows into the MAP-side
    * partial aggregation only; the shuffle carries ≤ depth·width cells
    * per partition, never the data. */
  def countMinCells(df: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 4,
      s"depth in [1,4] (one md5 supplies four 32-bit row hashes): $depth")
    require(width >= 2, s"width must be >= 2: $width")
    df.filter(col(keyCol).isNotNull)
      .select(posexplode(cmsBuckets(col(keyCol), depth, width))
        .as(Seq("d", "bucket")))
      .groupBy(col("d"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[countMinCells]] from a precomputed `(key, count)` aggregate —
    * value-identical (a bucket's row count is exactly the sum of the
    * per-key counts hashing there), for callers that already hold the
    * keyed counts and must not scan the raw table again. */
  private[graft] def countMinCellsFromCounts(perKey: DataFrame,
      keyCol: String, cntCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 4,
      s"depth in [1,4] (one md5 supplies four 32-bit row hashes): $depth")
    require(width >= 2, s"width must be >= 2: $width")
    perKey.filter(col(keyCol).isNotNull)
      .select(col(cntCol).as("__cmsc"),
        posexplode(cmsBuckets(col(keyCol), depth, width))
          .as(Seq("d", "bucket")))
      .groupBy(col("d"), col("bucket"))
      .agg(sum(col("__cmsc")).as("cnt"))
  }

  /** Point-query estimates from [[countMinCells]]: for each key in
    * `keys`, the minimum over the sketch's `depth` rows of its bucket
    * count (an absent cell reads 0 — the key's bucket was never hit).
    * Output: `(key, estimate)`. The cells table is depth·width-bounded,
    * so it broadcasts; the probe side streams. */
  def countMinEstimates(cells: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 4,
      s"depth in [1,4] (one md5 supplies four 32-bit row hashes): $depth")
    require(width >= 2, s"width must be >= 2: $width")
    keys.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("key"))
      .distinct()
      .select(col("key"),
        posexplode(cmsBuckets(col("key"), depth, width)).as(Seq("d", "bucket")))
      .join(broadcast(cells), Seq("d", "bucket"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy(col("key"))
      .agg(min(col("cnt")).as("estimate"))
  }
}
