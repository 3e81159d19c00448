package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.util.sketch.BloomFilter

import graft.functions.kernels.{TextKernelFunctions, VectorKernelFunctions}
import graft.io.BloomSidecar

/** Deduplication operators for training-data pipelines (north-star
  * extensions, SURVEY §7.2 step 10): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup.
  *
  * Scale design:
  *  - every variant is candidate-generation-by-bucketing (a shuffle on a
  *    short key) followed by pair verification — never an all-pairs compare;
  *  - candidates are de-duplicated BEFORE verification, so the expensive
  *    similarity computation runs once per unique pair;
  *  - the per-row kernels (shingle hashing, MinHash, SimHash, cosine) are
  *    compiled Catalyst expressions (graft.functions.kernels), not
  *    interpreted higher-order functions;
  *  - shuffle keys are 8-byte hashes, never n-gram text;
  *  - at 100 TB the bucket shuffle is the only wide stage; AQE skew-join
  *    splitting handles hot buckets.
  *
  * Cache lifecycle: the LSH operators persist their kernel-column base
  * (MEMORY_AND_DISK) because it feeds both the banding plan and the
  * verification joins. By default the returned DataFrame references that
  * cache lazily, so the operator cannot unpersist it itself; blocks are
  * evicted LRU under memory pressure. The bases are registered with
  * [[graft.ops.ScaleOps.releaseCheckpointBlocks]], so long-lived
  * applications can release them once the result is consumed — without
  * touching caches THEY created — or pass `materialize = true`: the
  * (small) pair result is evaluated into a lineage-free checkpoint and
  * the base cache is released before the call returns.
  */
object Dedup {

  /** Exact dedup on `cols`: keeps the row with the smallest `idCol` per
    * duplicate group (deterministic winner). */
  def exact(df: DataFrame, cols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(cols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-duplicate groups: (keeper id, group size) per distinct value
    * combination, keeping only groups with > 1 member when `dupsOnly`. */
  def exactGroups(df: DataFrame, cols: Seq[String], idCol: String,
      dupsOnly: Boolean = false): DataFrame = {
    val g = df.groupBy(cols.map(col): _*)
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("group_size"))
    if (dupsOnly) g.filter(col("group_size") > 1) else g
  }

  /** Per-slice duplication report: for each value of `groupCol`, how many
    * rows there are, how many DISTINCT `cols` combinations they hold, and
    * the duplication rate `1 − distinct/rows` — the ops dashboard behind a
    * dedup pass (which source is bloated, what an exact pass would save).
    *
    * Two cascaded partial-aggregated groupBys (first on (group, key) —
    * the same exchange [[exactGroups]] pays — then on the group alone);
    * no row data is ever shuffled, only keys and counts. */
  def dedupReport(df: DataFrame, cols: Seq[String], groupCol: String): DataFrame = {
    require(cols.nonEmpty, "at least one dedup key column required")
    df.groupBy((groupCol +: cols).map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(groupCol))
      .agg(sum(col("__n")).as("n_rows"), count(lit(1)).as("n_distinct"))
      .select(col(groupCol), col("n_rows"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_rows").cast("double"), 6)
          .as("dup_rate"))
  }

  /** Line-level exact dedup across the corpus (the CCNet / RefinedWeb
    * boilerplate pass): any line whose document frequency (count of
    * DISTINCT docs containing it byte-for-byte) exceeds `maxLineDocFreq`
    * is removed from EVERY document — navigation menus, cookie banners,
    * share buttons disappear corpus-wide; document-unique prose stays.
    * Output: (id, text_dedup, n_lines_kept, n_lines_dropped), one row per
    * input doc (docs losing all lines keep a row with empty text).
    *
    * Plan shape: posexplode on '\n' → line df aggregated on the 8-byte
    * xxhash64 of the line (line TEXT never shuffles in the wide stages) →
    * anti-join on the same hash key (exchange reuse; the hot-line set is
    * tiny, AQE broadcasts it) → per-doc reassembly, ONE shuffle keyed on
    * the doc id. Blank lines count as lines: a corpus-frequent "" (blank
    * separator) is dropped like any other boilerplate once over the cap. */
  def dedupLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxLineDocFreq: Long = 1): DataFrame = {
    require(maxLineDocFreq >= 1, s"cap must be >= 1: $maxLineDocFreq")
    val base = df.select(col(idCol).as("id"),
      coalesce(col(textCol), lit("")).as("text"))
    val lines = base
      .select(col("id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("h", xxhash64(col("line")))
    val hot = lines.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("line_df"))
      .filter(col("line_df") > maxLineDocFreq)
      .select(col("h"))
    val kept = lines.join(hot, Seq("h"), "left_anti")
    // per-doc reassembly: order by position inside the group via
    // array_sort over (pos, line) structs. The field-extraction transform
    // runs interpreted, but on the per-doc line array AFTER aggregation —
    // one small-lambda pass per doc, not per-line scan work.
    val rebuilt = kept.groupBy(col("id")).agg(
      count(lit(1)).as("n_lines_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line")), "\n").as("text_dedup"))
    base.select(col("id"), size(split(col("text"), "\n")).as("__n_total"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("__n_total") - coalesce(col("n_lines_kept"), lit(0L))).as("n_lines_dropped"))
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: shingle-hash set (compiled kernel) → MinHash signature
    * (compiled kernel) → band buckets → band-bucket self-join → distinct
    * candidate pairs → exact Jaccard verification on the shingle-hash sets →
    * pairs with jaccard ≥ threshold. Output: (id_a, id_b, jaccard), id_a <
    * id_b.
    */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      threshold: Double = 0.8,
      materialize: Boolean = false): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must divide into numBands evenly")

    // Docs with no shingles (shorter than shingleSize) can never be
    // near-dups, but they all share the identical all-MaxValue signature —
    // banding them would put every such doc in one bucket (a k² candidate
    // bomb on short-doc-heavy corpora). lshBase drops them before banding,
    // and persists: its kernel columns feed the banding plan AND both
    // sides of the verification join — without caching the per-row kernel
    // work runs three times.
    val base = lshBase(df, idCol, textCol, shingleSize, numHashes)
    val bands = banded(base, numHashes, numBands)
    val a = bands.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = bands.select(col("band"), col("bucket"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    released(
      verifyJaccard(candidates, base.select(col("id"), col("shingles")), threshold),
      Seq(base), materialize)
  }

  /** MinHash + LSH near-duplicate pairs of `newDf` documents against an
    * existing `corpusDf` — the incremental-ingestion shape: a daily batch
    * checked against the historical corpus without re-deduping history
    * against itself. Same kernels, banding and verification as
    * [[minhashLsh]]; candidates pair a NEW doc with a CORPUS doc only
    * (new×new and corpus×corpus pairs never form). Output:
    * (new_id, corpus_id, jaccard).
    *
    * At 100 TB the corpus side's shingle sets, signatures and band buckets
    * are a pure per-row projection of the corpus — precompute them once and
    * store bucketed by (band, bucket) ([[graft.ops.ScaleOps.writeBucketed]]);
    * each incremental batch then probes with zero corpus-side work beyond
    * the bucket-join reads, and the verification join fetches corpus
    * shingle sets only for candidate ids. */
  def minhashLshAgainst(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      threshold: Double = 0.8,
      materialize: Boolean = false): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must divide into numBands evenly")
    val newBase = lshBase(newDf, idCol, textCol, shingleSize, numHashes)
    val corpusBase = lshBase(corpusDf, idCol, textCol, shingleSize, numHashes)
    val bandedNew = banded(newBase, numHashes, numBands)
      .select(col("band"), col("bucket"), col("id").as("id_a"))
    val bandedCorpus = banded(corpusBase, numHashes, numBands)
      .select(col("band"), col("bucket"), col("id").as("id_b"))
    val candidates = bandedNew.join(bandedCorpus, Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    val pairs = verifyJaccardCross(candidates,
      newBase.select(col("id"), col("shingles")),
      corpusBase.select(col("id"), col("shingles")), threshold)
      .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"), col("jaccard"))
    released(pairs, Seq(newBase, corpusBase), materialize)
  }

  /** Precompute the corpus side of [[minhashLshAgainst]] into two bucketed
    * catalog tables — the 100 TB incremental-ingestion layout: the per-row
    * kernel work (shingle hashing, MinHash, banding) runs ONCE over the
    * corpus at precompute time, and every subsequent batch probe reads the
    * stored layout with zero corpus-side recompute and zero corpus-side
    * shuffle.
    *
    *  - `{prefix}_buckets` `(band, bucket, id)` bucketed+sorted by
    *    `(band, bucket)`: the candidate join's corpus side. A probe batch
    *    shuffles its own (tiny) band rows into the corpus bucket count;
    *    the corpus side is scanned in place (no Exchange above the scan).
    *  - `{prefix}_shingles` `(id, shingles)` bucketed+sorted by `id`: the
    *    verification join's corpus side — shingle sets are fetched by
    *    candidate id without shuffling the corpus store.
    *
    * Companion probe: [[minhashLshProbeStored]]. Parameters must match
    * between precompute and probe ([[banded]] is bit-identical across call
    * sites, so stored buckets equal what a fused run would band). */
  def precomputeLshCorpus(
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      tablePrefix: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      numBuckets: Int = 32): Unit = {
    require(numHashes % numBands == 0, "numHashes must divide into numBands evenly")
    val base = lshBase(corpusDf, idCol, textCol, shingleSize, numHashes)
    graft.ops.ScaleOps.releasing(base) {
      graft.ops.ScaleOps.writeBucketed(
        banded(base, numHashes, numBands).select(col("band"), col("bucket"), col("id")),
        s"${tablePrefix}_buckets", Seq("band", "bucket"), numBuckets)
      graft.ops.ScaleOps.writeBucketed(
        base.select(col("id"), col("shingles")),
        s"${tablePrefix}_shingles", Seq("id"), numBuckets)
    }
  }

  /** [[minhashLshAgainst]] against a corpus precomputed by
    * [[precomputeLshCorpus]]: candidates come from joining the batch's band
    * rows to the stored `{prefix}_buckets` table (bucket join — the probe
    * side shuffles into the corpus bucketing, the corpus scan takes no
    * Exchange), verification fetches corpus shingle sets from
    * `{prefix}_shingles` by candidate id. Semantically identical to the
    * fused [[minhashLshAgainst]] run at the same parameters; only the plan
    * changes. Output: (new_id, corpus_id, jaccard). */
  def minhashLshProbeStored(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      tablePrefix: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      threshold: Double = 0.8,
      materialize: Boolean = false): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must divide into numBands evenly")
    val spark = newDf.sparkSession
    val corpusBuckets = spark.table(s"${tablePrefix}_buckets")
    val corpusShingles = spark.table(s"${tablePrefix}_shingles")
    val newBase = lshBase(newDf, idCol, textCol, shingleSize, numHashes)
    val bandedNew = banded(newBase, numHashes, numBands)
      .select(col("band"), col("bucket"), col("id").as("id_a"))
    val candidates = bandedNew
      .join(corpusBuckets.withColumnRenamed("id", "id_b"), Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    val pairs = verifyJaccardCross(candidates,
      newBase.select(col("id"), col("shingles")),
      corpusShingles, threshold)
      .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"), col("jaccard"))
    released(pairs, Seq(newBase), materialize)
  }

  /** Drop every `newDf` document that near-duplicates the existing corpus
    * (jaccard ≥ threshold to ANY corpus doc) — the incremental admission
    * filter. One anti-join over the matched new-id set. */
  def dropAgainstCorpus(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      threshold: Double = 0.8,
      materialize: Boolean = false): DataFrame = {
    val matched = minhashLshAgainst(newDf, corpusDf, idCol, textCol,
      shingleSize, numHashes, numBands, threshold, materialize)
      .select(col("new_id").as("__matched")).distinct()
    newDf.join(matched, newDf(idCol) === matched("__matched"), "left_anti")
  }

  // ---- persisted seen-bloom: incremental EXACT admission ----------------
  //
  // The exact-dedup counterpart of [[precomputeLshCorpus]]/
  // [[minhashLshProbeStored]]: admitting a daily batch against a 100 TB
  // history must not shuffle the history. A persisted bloom filter over the
  // history's keys ([[graft.io.BloomSidecar]]) answers "definitely never
  // seen" with zero history-side work — no false negatives, so a negative
  // probe ADMITS a row outright. Only bloom-positive rows (true duplicates
  // + ~fpp false alarms) pay an exact anti-join, and that join's left side
  // is candidate-sized, not batch-sized. At a 1% duplicate rate and 3%
  // fpp, ~96% of the batch never enters a shuffle.

  /** The batch/corpus key the seen-bloom probes: `xxhash64` over `cols`.
    * One fixed column list per sidecar — build and probe must agree. */
  private def seenKey(cols: Seq[String]): Column =
    xxhash64(cols.map(col): _*)

  /** Build a seen-bloom over `corpus`'s `cols` key and persist it as a
    * sidecar at `dir` (atomic publish; see [[graft.io.BloomSidecar]]).
    * One aggregation job over the corpus — the only time the history is
    * read. Size `expectedItems` to the corpus's DISTINCT key count; fpp
    * degrades smoothly past it (the sidecar records `itemsAdded` so later
    * probes can warn). Returns the persisted meta. */
  def writeSeenBloom(spark: org.apache.spark.sql.SparkSession, dir: String,
      corpus: DataFrame, cols: Seq[String],
      expectedItems: Long = 1000000L, fpp: Double = 0.03): BloomSidecar.Meta = {
    require(cols.nonEmpty, "at least one key column required")
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val (bytesOpt, n) = graft.ops.ScaleOps.buildBloomWithCount(
      corpus, seenKey(cols), expectedItems, numBits)
    val filter = bytesOpt match {
      case Some(b) => BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
      case None => BloomFilter.create(expectedItems, numBits) // empty corpus
    }
    val meta = BloomSidecar.Meta(expectedItems, numBits, fpp, n, filter)
    BloomSidecar.write(spark, dir, meta)
    meta
  }

  /** Fold `addedRows`' keys into the sidecar at `dir` (read → build a
    * merge-compatible filter with the STORED spec → `mergeInPlace` →
    * atomic re-publish) — the post-admission maintenance step that keeps
    * the bloom covering the history as it grows. No-op on an empty batch.
    * Not safe under concurrent writers (last publish wins); serialize
    * maintenance per sidecar. */
  def mergeIntoSeenBloom(spark: org.apache.spark.sql.SparkSession, dir: String,
      addedRows: DataFrame, cols: Seq[String]): BloomSidecar.Meta = {
    val meta = BloomSidecar.load(spark, dir)
    val (bytesOpt, n) = graft.ops.ScaleOps.buildBloomWithCount(
      addedRows, seenKey(cols), meta.expectedItems, meta.numBits)
    bytesOpt match {
      case None => meta
      case Some(b) =>
        meta.filter.mergeInPlace(
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
        val merged = meta.copy(itemsAdded = meta.itemsAdded + n)
        BloomSidecar.write(spark, dir, merged)
        merged
    }
  }

  /** Rows of `batch` whose `cols` key the history has never seen, probed
    * through the sidecar at `dir`.
    *
    * With `corpus` supplied the result EQUALS `batch LEFT ANTI JOIN corpus
    * ON cols` (provided the sidecar was built over a superset of
    * `corpus`'s keys — its only soundness requirement): bloom-negative
    * rows are admitted with no join at all, and only the bloom-positive
    * sliver joins. Without `corpus` the probe alone decides — every
    * bloom-positive row is dropped, over-dropping ~fpp of genuinely-new
    * rows; the zero-join mode for pipelines that accept that loss.
    *
    * The batch is scanned twice (once per probe polarity) — it is the
    * daily increment, not the history; the history is never read. */
  def admitAgainstSeenBloom(batch: DataFrame, cols: Seq[String], dir: String,
      corpus: Option[DataFrame] = None): DataFrame = {
    val meta = BloomSidecar.load(batch.sparkSession, dir)
    if (meta.itemsAdded > meta.expectedItems)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"seen-bloom at $dir holds ~${meta.itemsAdded} items but was sized " +
          s"for ${meta.expectedItems} — fpp has degraded past the declared " +
          s"${meta.fpp}; rebuild with a larger expectedItems")
    val pos = graft.ops.ScaleOps.mightContain(meta.bytes, seenKey(cols))
    val definitelyNew = batch.filter(!pos)
    corpus match {
      case None => definitelyNew
      case Some(c) =>
        val resolved = batch.filter(pos)
          .join(c.select(cols.map(col): _*).distinct(), cols, "left_anti")
        definitelyNew.unionByName(resolved)
    }
  }

  /** Shared kernel base for the LSH operators: shingle-hash set + MinHash
    * signature, shingle-less docs dropped (see [[minhashLsh]]), persisted
    * because it feeds both the banding plan and the verification join. */
  private def lshBase(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      TextKernelFunctions.shingleHashSet(col(textCol), shingleSize).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", TextKernelFunctions.minhashSignature(col("shingles"), numHashes))
      .transform(graft.ops.ScaleOps.persisted)

  /** (id[, carry…], band, bucket) rows from a signature base — band value
    * = hash of the signature slice. Must stay bit-identical across call
    * sites so subset corpora band identically to full-corpus runs (the
    * stored-probe and streaming probes depend on it). `carry` columns ride
    * along for single-pass consumers that cannot re-join their own side
    * (the streaming probe carries the shingle set). */
  private[graft] def banded(base: DataFrame, numHashes: Int, numBands: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = numHashes / numBands
    base.select(col("id") +: carry.map(col) :+
      posexplode(array((0 until numBands).map { b =>
        xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)), lit(b))
      }: _*)).as(Seq("band", "bucket")): _*)
  }

  /** With `materialize` set: evaluate the (small) result into a
    * lineage cut ([[graft.ops.ScaleOps.cut]]) and release the operator's
    * base cache(s) before returning — the eager-release mode for
    * long-lived apps. The default lazy mode returns the plan untouched. */
  private def released(result: DataFrame, bases: Seq[DataFrame],
      materialize: Boolean): DataFrame =
    if (!materialize) result
    else graft.ops.ScaleOps.releasing(bases: _*)(
      graft.ops.ScaleOps.cut(result))

  /** Exact Jaccard on candidate pairs via the (distinct, sorted) shingle-hash
    * sets. Candidates are already unique pairs. Two exact pruning layers
    * before the per-pair merge scan:
    *  - size ratio: J = |∩|/|∪| ≤ min(|A|,|B|)/max(|A|,|B|), so pairs whose
    *    set sizes differ by more than the threshold ratio can be dropped on
    *    two ints, no array work;
    *  - the Jaccard itself runs as a compiled merge scan over the sorted
    *    arrays ([[TextKernelFunctions.sortedJaccard]]) — no hash-set builds,
    *    no allocation, stays inside whole-stage codegen. */
  private def verifyJaccard(candidates: DataFrame, shingled: DataFrame,
      threshold: Double): DataFrame =
    verifyJaccardCross(candidates, shingled, shingled, threshold)

  /** [[verifyJaccard]] with per-side shingle sources — the id_a side
    * resolves against `shingledA`, the id_b side against `shingledB`
    * (cross-corpus verification for [[minhashLshAgainst]]). */
  private def verifyJaccardCross(candidates: DataFrame, shingledA: DataFrame,
      shingledB: DataFrame, threshold: Double): DataFrame = {
    val sa = shingledA.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val sb = shingledB.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .filter(least(size(col("sh_a")), size(col("sh_b"))).cast("double") >=
        lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        TextKernelFunctions.sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** n-gram Jaccard dedup with exact recall (candidates = every pair sharing
    * at least one shingle), computed relationally:
    * explode shingle-hash sets → self-join on the 8-byte hash → count shared
    * shingles per pair via partial aggregation → jaccard from
    * |A∩B| / (|A| + |B| − |A∩B|). No shingle arrays are shuffled and no
    * per-pair set intersection runs — the hot path is one codegen'd
    * join + hash aggregate.
    *
    * Cost is Σ df(shingle)² over distinct shingles: ONE boilerplate shingle
    * shared by 1M documents creates 10¹² join rows. `maxDocFreq` bounds
    * this by dropping shingles with document frequency > cap before the
    * self-join (standard hot-shingle capping). Trade-off: pairs whose
    * overlap is ONLY hot shingles are missed, and jaccard is computed
    * against the full set sizes, so pairs sharing hot shingles are
    * underestimated and may fall below the threshold — a recall cap, never
    * a precision loss. Cap off (None) = exact recall. */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Option[Long] = None): DataFrame =
    shingleSetJaccard(df, idCol,
      TextKernelFunctions.shingleHashSet(col(textCol), shingleSize),
      threshold, maxDocFreq)

  /** Character-level n-gram Jaccard (raw text windows, no tokenization):
    * catches duplication that crosses word boundaries — boilerplate
    * fragments, templated spans — the relational counterpart of exact
    * substring dedup (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"). Same relational core, same df² cost bound
    * and `maxDocFreq` cap as [[ngramJaccard]]; windows of 20–50 chars are
    * the usual operating range. */
  def charNgramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowChars: Int = 20,
      threshold: Double = 0.5,
      maxDocFreq: Option[Long] = None): DataFrame =
    shingleSetJaccard(df, idCol,
      TextKernelFunctions.charShingleHashSet(col(textCol), windowChars),
      threshold, maxDocFreq)

  /** Near-CONTAINMENT pairs: containment(A in B) = |A∩B| / |A| — the
    * asymmetric overlap measure Jaccard misses when one document embeds
    * another much larger one (quotes, aggregator pages, doc+appendix):
    * a 100-shingle doc fully inside a 10 000-shingle doc has jaccard ≈
    * 0.01 but containment 1.0. Emits (id_a, id_b, cont_a_in_b,
    * cont_b_in_a, jaccard) for pairs where EITHER direction reaches
    * `threshold`; id_a < id_b. Same relational core, df² bound and
    * `maxDocFreq` cap as [[ngramJaccard]] — no size-ratio prune can apply
    * (asymmetry is the point). */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.9,
      maxDocFreq: Option[Long] = None): DataFrame =
    pairIntersections(df, idCol,
      TextKernelFunctions.shingleHashSet(col(textCol), shingleSize), maxDocFreq)
      .withColumn("cont_a_in_b", col("inter").cast("double") / col("sz_a").cast("double"))
      .withColumn("cont_b_in_a", col("inter").cast("double") / col("sz_b").cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a", "jaccard")

  private def shingleSetJaccard(df: DataFrame, idCol: String,
      shingleSet: Column, threshold: Double,
      maxDocFreq: Option[Long]): DataFrame =
    pairIntersections(df, idCol, shingleSet, maxDocFreq)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact above-threshold Jaccard pairs via PREFIX FILTERING — the
    * AllPairs/PPJoin family (Bayardo et al., WWW 2007), the third
    * candidate-generation strategy alongside LSH ([[minhashLsh]],
    * probabilistic recall) and the df-capped full join ([[ngramJaccard]],
    * Σ df² cost): deterministic EXACT recall at a fraction of the join
    * volume. Under one global shingle order (ascending document
    * frequency — rarest first — hash tiebreak), any pair with
    * `J ≥ threshold` must share a shingle within each side's first
    * `|x| − ⌈threshold·|x|⌉ + 1` shingles, so only those PREFIX rows
    * enter the self-join; candidate volume is Σ df_prefix(h)² over
    * low-frequency shingles instead of Σ df(h)² over all of them. A
    * length filter (`t·|y| ≤ |x| ≤ |y|/t`) prunes size-incompatible
    * pairs before verification on the full sorted hash sets (compiled
    * merge kernel). The ceiling is computed CONSERVATIVELY
    * (`floor(t·sz − 1e-9) + 1` ≥ the true ceiling under any fp rounding),
    * so prefixes can only err longer — extra candidates, never a missed
    * pair. Output `(id_a, id_b, jaccard)`, id_a < id_b. */
  def prefixFilterJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1]: $threshold")
    val base = df.select(col(idCol).as("id"),
        TextKernelFunctions.shingleHashSet(col(textCol), shingleSize).as("shingles"))
      .withColumn("sz", size(col("shingles")))
      .filter(col("sz") > 0)
    val ex = base.select(col("id"), col("sz"), explode(col("shingles")).as("h"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfreq, "h")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df").asc, col("h").asc)))
    val minOverlap = floor(lit(threshold) * col("sz") - lit(1e-9)) + 1
    val prefix = ranked.filter(col("pos") <= col("sz") - minOverlap + 1)
    val a = prefix.select(col("h"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = prefix.select(col("h"), col("id").as("id_b"), col("sz").as("sz_b"))
    val cands = graft.ops.ScaleOps.spreadPairJoin(a, col("h")).join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("sz_b") * lit(threshold) - lit(1e-9) <= col("sz_a") &&
        col("sz_a") * lit(threshold) - lit(1e-9) <= col("sz_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard",
        TextKernelFunctions.sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Shared exact-recall relational core: per unordered pair sharing ≥ 1
    * shingle, (id_a, id_b, sz_a, sz_b, inter), id_a < id_b. */
  private def pairIntersections(df: DataFrame, idCol: String,
      shingleSet: Column, maxDocFreq: Option[Long]): DataFrame = {
    val base = df.select(col(idCol).as("id"), shingleSet.as("shingles"))
      .withColumn("sz", size(col("shingles")))
    // The exploded (id, sz, h) rows PERSIST (the [[lshBase]] contract —
    // released by the session's block sweep): they feed the hot-shingle
    // aggregation AND both sides of the pair self-join, and without the
    // cache boundary the planner re-evaluates the shingle kernel in each
    // consumer subtree — and the explode's implicit size/notnull filter
    // pushes the kernel into the scan filter too, multiplying the full
    // per-document hashing up to ~12× across the q60 plan (measured; the
    // cache cuts it to one evaluation per row).
    val exAll = base
      .select(col("id"), col("sz"), explode(col("shingles")).as("h"))
      .transform(graft.ops.ScaleOps.persisted)
    // anti-join against the hot-shingle set: the df aggregation is
    // partial (map-side) before its shuffle, and the hot set is tiny
    // (shingles with df > cap), so both anti-joins broadcast it.
    val ex = maxDocFreq.fold(exAll) { cap =>
      val hot = exAll.groupBy(col("h"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > cap)
        .select(col("h"))
      exAll.join(hot, Seq("h"), "left_anti")
    }
    val a = ex.select(col("h"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = ex.select(col("h"), col("id").as("id_b"), col("sz").as("sz_b"))
    graft.ops.ScaleOps.spreadPairJoin(a, col("h")).join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** The corpus after near-duplicate removal: for every near-dup pair
    * found by [[minhashLsh]], the larger id loses (greedy pair-wise
    * winner; transitive clusters collapse to their smallest id whenever
    * the chain is fully connected — exact clustering would need iterative
    * connected components, deliberately out of scope for one pass). One
    * anti-join over the loser set; all original columns preserved. */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      threshold: Double = 0.8,
      materialize: Boolean = false): DataFrame = {
    val losers = minhashLsh(df, idCol, textCol, shingleSize, numHashes,
      numBands, threshold, materialize)
      .select(col("id_b").as("__loser")).distinct()
    df.join(losers, df(idCol) === losers("__loser"), "left_anti")
  }

  /** EXACT transitive near-duplicate clusters: every document labeled with
    * the smallest id of its connected component in the [[minhashLsh]] pair
    * graph (docs in no pair are their own component). The iterative
    * complement of [[dropNearDuplicates]]'s greedy single pass — use this
    * when chains matter (A≈B, B≈C, A̸≈C must still collapse to one
    * cluster). Iteration cost is bounded by the pair subgraph, not the
    * corpus ([[Components.connectedComponents]]). */
  def nearDupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      threshold: Double = 0.8,
      materialize: Boolean = false): DataFrame = {
    val edges = minhashLsh(df, idCol, textCol, shingleSize, numHashes,
      numBands, threshold, materialize).select(col("id_a"), col("id_b"))
    Components.connectedComponents(df.select(col(idCol).as("id")), edges)
  }

  /** 64-bit SimHash of the token multiset — compiled kernel. */
  def simhash(text: Column): Column = TextKernelFunctions.simhash64(text)

  /** Hamming distance between two 64-bit SimHashes. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs over ANY precomputed 64-bit hash column (SimHash,
    * perceptual image dHash, audio fingerprint, …): candidates share at
    * least one of `numChunks` hash chunks (pigeonhole: any pair within
    * hamming distance `numChunks − 1` is guaranteed to share a chunk),
    * de-duplicated, then verified by exact hamming distance. Same banded
    * candidate-generation shape as every family member — the join keys on
    * (chunk index, chunk value), never on full hashes or all pairs. */
  def hamming64Pairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      numChunks: Int = 4): DataFrame = {
    require(maxHamming < numChunks,
      s"pigeonhole guarantee needs maxHamming ($maxHamming) < numChunks ($numChunks): " +
        "a pair differing by one bit in every chunk would be silently missed otherwise")
    require(64 % numChunks == 0, "numChunks must divide 64")
    val bitsPerChunk = 64 / numChunks
    val base = df.select(col(idCol).as("id"), col(hashCol).cast("long").as("sh"))
    val chunked = base.select(col("id"), col("sh"),
      posexplode(array((0 until numChunks).map { c =>
        shiftright(col("sh"), c * bitsPerChunk)
          .bitwiseAND((1L << bitsPerChunk) - 1L)
      }: _*)).as(Seq("chunk", "value")))
    val a = chunked.select(col("chunk"), col("value"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk"), col("value"), col("id").as("id_b"), col("sh").as("sh_b"))
    graft.ops.ScaleOps.spreadPairJoin(a, col("chunk"), col("value"))
      .join(b, Seq("chunk", "value"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs — [[hamming64Pairs]] over the compiled SimHash
    * of the token multiset. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      numChunks: Int = 4): DataFrame =
    hamming64Pairs(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh")),
      "id", "sh", maxHamming, numChunks)

  /** SimHash-bucketed near-dup with exact Jaccard verification — the
    * production shape for simhash dedup: the chunked simhash is CANDIDATE
    * GENERATION only (pigeonhole net: any pair within hamming ≤ numChunks−1
    * is GUARANTEED to share a chunk; pairs above that are still caught
    * whenever their bit flips leave one chunk clean — empirically all of
    * them on this corpus), then verified by exact shingle Jaccard ≥
    * `threshold` so the emitted pairs are a deterministic, metric-defined
    * set (raw hamming pairs — `simhashPairs` — measure token-frequency
    * similarity, which is NOT shingle Jaccard).
    *
    * `maxHamming` (optional) prunes candidates by simhash hamming before
    * the distinct+verify stages — cheaper verification, but it CAPS recall:
    * near-identical shingle sets can sit at hamming 8–11 (token-frequency
    * noise), so only set it when approximate recall is acceptable. With it
    * unset, recall is bounded below by the chunk-share probability
    * (1 − P(flips hit all chunks)), ≈ 1 for hamming ≲ numChunks + 4.
    *
    * Docs with fewer than `shingleSize` tokens are excluded (they cannot
    * reach any Jaccard threshold, and blank-ish docs share one simhash —
    * bucketing them is a k² candidate bomb). */
  def simhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxHamming: Option[Int] = None,
      numChunks: Int = 8,
      materialize: Boolean = false,
      maxBucket: Option[Long] = None,
      // pluggable 64-bit bucket hash (default: the compiled token-multiset
      // SimHash). Lets a caller swap in an oracle-replayable variant (e.g.
      // an md5-derived simhash DuckDB can recompute — the q346 cap pin)
      // while exercising the SAME chunk/cap/verify pipeline; candidate
      // RECALL depends on the hash's locality, verification stays exact.
      hashExpr: Option[Column] = None): DataFrame = {
    maxHamming.foreach(mh => require(mh < numChunks,
      s"pigeonhole guarantee needs maxHamming ($mh) < numChunks ($numChunks)"))
    require(64 % numChunks == 0, "numChunks must divide 64")
    maxBucket.foreach(c => require(c >= 2, s"maxBucket must be >= 2: $c"))
    val bitsPerChunk = 64 / numChunks
    val base = df.select(
      col(idCol).as("id"),
      TextKernelFunctions.shingleHashSet(col(textCol), shingleSize).as("shingles"),
      hashExpr.getOrElse(simhash(col(textCol))).as("sh"))
      .filter(size(col("shingles")) > 0)
      .transform(graft.ops.ScaleOps.persisted)
    // Bucket rows carry only what the pre-distinct prunes need: the shingle
    // count always (size-ratio prune: J ≥ t needs min(sz)/max(sz) ≥ t), the
    // simhash only when hamming pruning is requested. Both prunes run
    // BEFORE the distinct, shrinking the only wide shuffle in the plan.
    val carrySh = maxHamming.isDefined
    val chunked = base.select(
      (Seq(col("id"), size(col("shingles")).as("sz")) ++
        (if (carrySh) Seq(col("sh")) else Nil)) :+
      posexplode(array((0 until numChunks).map { c =>
        shiftright(col("sh"), c * bitsPerChunk)
          .bitwiseAND((1L << bitsPerChunk) - 1L)
      }: _*)).as(Seq("chunk", "value")): _*)
    // maxBucket: the hot-bucket analogue of ngramJaccard's maxDocFreq — an
    // LSH bucket with b members contributes b² candidate rows, and at web
    // scale the hottest simhash chunks are boilerplate clusters. Buckets
    // over the cap drop BEFORE the pair join (a recall cap, never a
    // precision risk: every emitted pair still verifies exact Jaccard).
    // The size table derives from the same (chunk, value)-keyed exchange
    // the pair join shuffles on, so AQE reuses it.
    val capped = maxBucket.fold(chunked) { cap =>
      val small = chunked.groupBy(col("chunk"), col("value"))
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= cap)
        .select(col("chunk"), col("value"))
      chunked.join(small, Seq("chunk", "value"))
    }
    def side(suffix: String) = capped.select(
      Seq(col("chunk"), col("value"), col("id").as(s"id_$suffix"),
        col("sz").as(s"sz_$suffix")) ++
        (if (carrySh) Seq(col("sh").as(s"sh_$suffix")) else Nil): _*)
    // the pin is CONDITIONAL on the absence of a bucket cap: with
    // maxBucket set the candidate volume is ≤ chunks·cap² (bounded by
    // contract), and pinning the join to the full session width was
    // measured costing the capped variant ~2× (q346: every post-join
    // stage inherits near-empty pinned partitions); uncapped, the
    // explosion is unbounded and the pin is what keeps it parallel
    val joined = (if (maxBucket.isDefined) side("a")
      else graft.ops.ScaleOps.spreadPairJoin(side("a"), col("chunk"), col("value")))
      .join(side("b"), Seq("chunk", "value"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double"))
    val pruned = maxHamming.fold(joined)(mh =>
      joined.filter(hammingDistance(col("sh_a"), col("sh_b")) <= mh))
    val candidates = pruned.select("id_a", "id_b").distinct()
    released(
      verifyJaccard(candidates, base.select(col("id"), col("shingles")), threshold),
      Seq(base), materialize)
  }

  /** Embedding-cosine near-duplicate pairs via sign-projection LSH banding:
    * bucket join → distinct id pairs → join vectors back → compiled-cosine
    * verification. `dim` is the embedding dimensionality. */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      numBits: Int = 32,
      numBands: Int = 8,
      seed: Long = 42L,
      materialize: Boolean = false,
      maxBucket: Option[Long] = None,
      // pluggable sign-bit array (default: seeded random-projection
      // signBits). Lets a caller swap in an oracle-replayable bit
      // derivation (e.g. axis-aligned signs DuckDB can recompute — the
      // q347 cap pin) while exercising the SAME band/cap/verify pipeline;
      // evaluated against the ORIGINAL df columns.
      bitsExpr: Option[Column] = None): DataFrame = {
    require(numBits % numBands == 0, "numBits must divide into numBands evenly")
    maxBucket.foreach(c => require(c >= 2, s"maxBucket must be >= 2: $c"))
    val bitsPerBand = numBits / numBands
    // persisted: feeds banding and both verification-join sides (see
    // minhashLsh note)
    // a caller-supplied bits array SHORTER than numBits would silently
    // band trailing empty slices to bucket 0 — every vector colliding in
    // those bands is the all-pairs explosion this operator exists to
    // avoid; fail loudly in-plan instead
    val bits = bitsExpr.map(be =>
      when(size(be) === numBits, be).otherwise(raise_error(concat(
        lit(s"bitsExpr must yield exactly $numBits bits, got "),
        size(be).cast("string")))))
      .getOrElse(VectorKernelFunctions.signBits(col(vecCol), dim, numBits, seed))
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        bits.as("bits"))
      .withColumn("bands", graft.functions.VectorFunctions.bandBuckets(col("bits"), numBands, bitsPerBand))
      .transform(graft.ops.ScaleOps.persisted)
    val exploded = base.select(col("id"), posexplode(col("bands")).as(Seq("band", "bucket")))
    // hot-bucket cap — see simhashNearDup's maxBucket note (a replica-heavy
    // or boilerplate corpus makes one band bucket quadratic; dropping it is
    // a recall cap, the verification stage keeps precision exact)
    val banded = maxBucket.fold(exploded) { cap =>
      val small = exploded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= cap)
        .select(col("band"), col("bucket"))
      exploded.join(small, Seq("band", "bucket"))
    }
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    // distinct id pairs FIRST: cosine runs once per unique pair, and the
    // band join shuffles only 16-byte rows
    // conditional pin — see simhashNearDup: a maxBucket cap bounds the
    // candidate volume, so the spread is only paid on the uncapped path
    val candidates = (if (maxBucket.isDefined) a
      else graft.ops.ScaleOps.spreadPairJoin(a, col("band"), col("bucket")))
      .join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = base.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val vb = base.select(col("id").as("id_b"), col("vec").as("vec_b"))
    released(
      candidates.join(va, "id_a").join(vb, "id_b")
        .select(col("id_a"), col("id_b"),
          VectorKernelFunctions.cosineSimilarity(col("vec_a"), col("vec_b")).as("cosine"))
        .filter(col("cosine") >= threshold),
      Seq(base), materialize)
  }

  /** Cross-document duplicated-SPAN detection — the positional sibling of
    * the set-based dedup family, approximating suffix-array substring
    * dedup (public result: Lee et al. 2022, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better") with
    * n-gram anchors: two documents sharing a contiguous run of matching
    * `shingleSize`-grams share a duplicated span of
    * `run + shingleSize − 1` tokens (boilerplate headers, license blocks,
    * quoted passages — the spans exact whole-doc dedup can't see).
    *
    * Algorithm: position-stamped shingles → df-capped vocabulary
    * (`2 ≤ df ≤ maxDocFreq` — df < 2 can't match, df > cap is stopword
    * boilerplate whose pair blowup is df² per shingle) → per-pair matched
    * position pairs → gaps-and-islands: positions on the same DIAGONAL
    * (`pos_a − pos_b` constant) with consecutive `pos_a` form one run
    * (island key = `pos_a − row_number()` within the diagonal).
    * Output per pair: `(id_a, id_b, n_matches, n_runs, max_run_tokens)`,
    * pairs with `n_matches ≥ minShared`.
    *
    * Scale shape: one shuffle keyed by shingle for the match join (df cap
    * bounds every key's pair fanout at df²), one window + aggregation
    * keyed by (id_a, id_b) — position pairs are 24-byte rows, text never
    * shuffles past the vocabulary join. At 100 TB, swap the shingle
    * STRING key for its xxhash64 (the [[graft.ops.ScaleOps]] pattern) and
    * pre-write the position index bucketed by hash; the string key here
    * keeps the operator byte-replayable by an external SQL engine. */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 8,
      maxDocFreq: Long = 20,
      minShared: Long = 3): DataFrame = {
    require(shingleSize >= 2, s"shingleSize must be >= 2: $shingleSize")
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2: $maxDocFreq")
    val sh = docs.select(col(idCol).as("id"),
        posexplode(TextKernelFunctions.shingleStrings(col(textCol), shingleSize))
          .as(Seq("pos", "s")))
    val vocab = sh.groupBy(col("s"))
      .agg(countDistinct(col("id")).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDocFreq)
      .select(col("s"))
    val capped = sh.join(vocab, Seq("s"))
    val m = capped.select(col("s"), col("id").as("id_a"), col("pos").as("pa"))
      .join(capped.select(col("s"), col("id").as("id_b"), col("pos").as("pb")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("pa") - col("pb"))
      .orderBy(col("pa"))
    val runs = m
      .withColumn("__diag", col("pa") - col("pb"))
      .withColumn("__island", col("pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("__diag"), col("__island"))
      .agg(count(lit(1)).as("__len"))
    runs.groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__len")).as("n_matches"),
        count(lit(1)).as("n_runs"),
        (max(col("__len")) + lit(shingleSize - 1)).as("max_run_tokens"))
      .filter(col("n_matches") >= minShared)
  }

  /** Canonical-document selection per duplicate cluster — the KEEP
    * decision that follows every dedup pass (first-wins dedup keeps an
    * arbitrary member; a curation pipeline keeps the BEST one): group by
    * a caller-supplied cluster key (exact [[graft.functions
    * .TextFunctions.md5Fingerprint]], bottom-1 MinHash
    * [[graft.functions.TextFunctions.minShingleMd5]], a [[Components]]
    * cluster label, …), pick the member with the highest quality score
    * (ties break to the smallest id — fully deterministic), and report
    * per cluster what was kept and how much was dropped. One row per
    * cluster: `(cluster_key, n_docs, canonical_id, canonical_quality,
    * n_dropped)`. Rows with a NULL cluster key are excluded (a too-short
    * doc has no shingle key — the caller decides their fate).
    *
    * Scale: ONE keyed window (row_number over the cluster key — the
    * partitionBy makes it shuffle-bounded, never a global sort) sharing
    * its exchange with the size count; nothing leaves the executors
    * until the cluster-sized result. */
  def canonicalByKey(df: DataFrame, idCol: String, keyCol: String,
      qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("cluster_key"), col(idCol).as("__id"),
        col(qualityCol).as("__q"))
    val w = Window.partitionBy(col("cluster_key"))
      .orderBy(col("__q").desc, col("__id").asc)
    base
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1))
        .over(Window.partitionBy(col("cluster_key"))))
      .filter(col("__rn") === 1)
      .select(col("cluster_key"), col("n_docs"),
        col("__id").as("canonical_id"),
        col("__q").as("canonical_quality"),
        (col("n_docs") - 1).as("n_dropped"))
  }

  /** Chapman capture–recapture estimate of the TRUE distinct-content
    * population from two overlapping crawls — "how much of the web did
    * these two snapshots actually cover": treating source A's distinct
    * content keys as the marked sample and source B's as the recapture,
    * N̂ = (n_a+1)(n_b+1)/(m+1) − 1 with
    * Var = (n_a+1)(n_b+1)(n_a−m)(n_b−m) / ((m+1)²(m+2)). One row:
    * `(n_a, n_b, overlap, observed, n_hat, se, coverage)` — `coverage`
    * = observed distinct keys / N̂, the fraction of the estimated
    * population the pair has already seen. The independence assumption
    * (capture probability uncorrelated across crawls) is the usual
    * caveat; a shared crawl frontier biases N̂ low.
    *
    * Scale: the corpus collapses to DISTINCT (side, key) — one distinct
    * + one conditional-count reduce; nothing bigger than the key
    * shuffles. */
  def chapmanEstimate(df: DataFrame, sourceCol: String, keyCol: String,
      sourceA: String, sourceB: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val r = df.filter(col(sourceCol).isin(sourceA, sourceB) &&
        col(keyCol).isNotNull)
      .select(col(sourceCol).as("__s"), col(keyCol).as("__k"))
      .distinct()
      .agg(countDistinct(when(col("__s") === sourceA, col("__k")))
          .as("na"),
        countDistinct(when(col("__s") === sourceB, col("__k"))).as("nb"),
        countDistinct(col("__k")).as("tot"))
      .head()
    val na = r.getLong(0); val nb = r.getLong(1); val tot = r.getLong(2)
    val m = na + nb - tot
    val nHat = (na + 1.0) * (nb + 1.0) / (m + 1.0) - 1.0
    val varHat = (na + 1.0) * (nb + 1.0) * (na - m) * (nb - m) /
      ((m + 1.0) * (m + 1.0) * (m + 2.0))
    Seq((na, nb, m, tot, nHat, math.sqrt(math.max(varHat, 0.0)),
        if (nHat > 0) tot / nHat else 1.0))
      .toDF("n_a", "n_b", "overlap", "observed", "n_hat", "se",
        "coverage")
  }

  /** Cross-source duplicate-overlap matrix: for every unordered pair of
    * `sourceCol` values, how many DISTINCT exact-duplicate fingerprints
    * (md5 of token-normalized text — the q28 cross-engine convention) the
    * two sources share, plus each side's distinct-content size and the
    * Jaccard of the two content sets. The report a curation team reads
    * before merging crawl snapshots: a high-overlap pair means one source
    * is largely a re-crawl of the other and its mixture weight is an
    * illusion.
    *
    * Scale: the corpus collapses to DISTINCT (fingerprint, source) —
    * nothing bigger than the 32-char hash ever shuffles; the pair join
    * keys on the fingerprint (the [[Dedup]] bucketed-candidate shape), so
    * a fingerprint present in s sources contributes s·(s−1)/2 pair rows —
    * bounded by the source count, not the corpus; per-source totals are a
    * source-cardinality-sized broadcast. */
  def crossSourceOverlap(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, roundTo: Int = 6): DataFrame = {
    val fps = df.select(col(sourceCol).as("source"),
        graft.functions.TextFunctions.md5Fingerprint(col(textCol)).as("fp"))
      .distinct()
    val totals = fps.groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"))
    val a = fps.select(col("source").as("source_a"), col("fp"))
    val b = fps.select(col("source").as("source_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(totals.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n_distinct", "n_a")), Seq("source_a"))
      .join(broadcast(totals.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n_distinct", "n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), roundTo)
          .as("jaccard"))
  }
}
