package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.kernels.TextKernelFunctions

/** Corpus-wide frequency statistics — the diagnostics that FEED the dedup
  * and filtering passes: the top boilerplate n-grams tell you what
  * `maxDocFreq` cap to run [[Dedup.ngramJaccard]] with, which lines
  * [[Dedup.dedupLines]] will strike, and what repeated content inflates a
  * source before training.
  */
object CorpusStats {

  /** Per-source curation scorecard — the table a data team reads to set
    * source mixture weights: for every value of `sourceCol`, document
    * volume, EXACT-duplicate rate (md5 fingerprint of token-normalized
    * text — cross-engine, the q28 contract), token volume, and the share
    * of documents in `targetLang`. One pass over the corpus, one
    * aggregation keyed by source (map-side combined; the fingerprint
    * distinct is a two-phase count inside the same shuffle), output height
    * = |sources|. Compose with [[graft.operators.Sampling.dsirWeights]] /
    * quality scores for richer columns — the shape stays one keyed agg. */
  def sourceScorecard(docs: DataFrame, textCol: String, sourceCol: String,
      langCol: String, targetLang: String): DataFrame = {
    import graft.functions.TextFunctions
    docs.select(col(sourceCol).as("source"),
        TextFunctions.md5Fingerprint(col(textCol)).as("__fp"),
        TextFunctions.tokenCount(col(textCol)).as("__toks"),
        (col(langCol) === targetLang).cast("int").as("__tgt"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("__fp")).as("n_distinct"),
        round(lit(1.0) - countDistinct(col("__fp")) / count(lit(1)).cast("double"), 4)
          .as("dup_rate"),
        sum(col("__toks")).as("total_tokens"),
        round(avg(col("__toks")), 2).as("avg_tokens"),
        round(avg(col("__tgt")), 4).as("target_lang_share"))
  }

  /** Top-k word n-grams by corpus occurrence count:
    * (ngram, total_count, doc_freq), ordered by total_count descending with
    * the n-gram string as the deterministic tiebreak.
    *
    * Plan shape: compiled shingle-strings kernel → explode → one hash
    * aggregation → `TakeOrderedAndProject` (per-partition top-k heaps, a
    * k-row driver merge — never a global sort). The aggregation shuffles
    * n-gram STRINGS — unavoidable when the caller wants the text back —
    * but map-side partial aggregation collapses each partition's duplicates
    * first, so shuffle volume is bounded by distinct-grams-per-partition,
    * not corpus token count. doc_freq rides the same aggregate as a
    * two-phase distinct count. */
  def topNgrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    df.select(col(idCol).as("id"),
      explode(TextKernelFunctions.shingleStrings(col(textCol), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("total_count"),
        count_distinct(col("id")).as("doc_freq"))
      .orderBy(col("total_count").desc, col("ngram"))
      .limit(k)
  }

  /** Per-document unigram cross-entropy against the corpus's own unigram
    * distribution: `log_loss = mean over token occurrences of −ln p(t)`,
    * `perplexity = exp(log_loss)` — the cheap statistical stand-in for
    * LM-perplexity quality filtering (CCNet-style): gibberish and
    * vocabulary-skewed documents score high, typical prose scores low.
    * Tokens are drawn from the corpus itself, so every probability is
    * positive (no smoothing needed). Output: (id, n_tokens, log_loss,
    * perplexity), blank docs omitted.
    *
    * Plan shape: tf per (doc, term) aggregates map-side before its one
    * corpus-wide shuffle; the unigram table is vocabulary-sized and joins
    * on the term key (AQE broadcasts it when the vocabulary fits — the
    * usual case; at web-corpus vocabularies it degrades to a hash join on
    * an 8-byte-ish key, never a cartesian); the corpus total is one scalar
    * aggregate attached by broadcast cross join. */
  def unigramLogLoss(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val ex = df.select(col(idCol).as("id"),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
    val tf = ex.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val counts = ex.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val total = ex.agg(count(lit(1)).as("n_total"))
    tf.join(counts, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast("double") *
          -log(col("c").cast("double") / col("n_total").cast("double"))).as("s"))
      .select(col("id"),
        col("n_tokens"),
        (col("s") / col("n_tokens").cast("double")).as("log_loss"),
        exp(col("s") / col("n_tokens").cast("double")).as("perplexity"))
  }

  /** Zipf fit over the head vocabulary: least-squares slope/intercept/R² of
    * `ln(count)` against `ln(rank)` for the `topK` most frequent tokens —
    * natural language sits near slope −1 (Zipf's law), and a corpus that
    * doesn't is telling you something (template spam flattens the head,
    * boilerplate dedup failures steepen it). One summary row:
    * (n_terms, slope, intercept, r2).
    *
    * Plan shape: one map-side-combined term count, a `TakeOrderedAndProject`
    * top-k (per-partition heaps, k-row driver merge — the reason `topK`
    * must bound this: ranking the FULL web-scale vocabulary would be a
    * global sort; the head is where Zipf lives anyway), then the rank
    * window and regression aggregate run on k rows. */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      topK: Int = 10000): DataFrame = {
    require(topK >= 2, s"topK must be >= 2: $topK")
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(topK)
    val ranked = counts.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("term"))))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      regr_slope(log(col("c")), log(col("rank"))).as("slope"),
      regr_intercept(log(col("c")), log(col("rank"))).as("intercept"),
      regr_r2(log(col("c")), log(col("rank"))).as("r2"))
  }

  /** Per-document novelty: the share of a document's distinct shingles
    * that appear in NO other document — the content-overlap quality score
    * (a page of boilerplate scores ~0, genuinely fresh text scores ~1),
    * and the per-doc complement of [[shingleDfHistogram]]'s corpus view.
    * A doc's shingle is "unique" when its corpus doc-frequency is 1; docs
    * too short to form a shingle are omitted. Output: (id, n_shingles,
    * n_unique, novelty).
    *
    * Plan shape: distinct 8-byte shingle hashes per doc (compiled kernel,
    * scan-local), one map-side-combined df aggregation, then the df table
    * joins back on the hash key and re-aggregates per doc — both wide
    * stages shuffle only (hash, id) pairs, never text. */
  def noveltyScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val ex = df.select(col(idCol).as("id"),
      explode(TextKernelFunctions.shingleHashSet(col(textCol), shingleSize)).as("h"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("id"), col("n_shingles"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** Document-frequency histogram of distinct word n-gram shingles:
    * (doc_freq, n_shingles) — how many distinct shingles appear in exactly
    * `doc_freq` documents. THE diagnostic for choosing
    * [[Dedup.ngramJaccard]]'s `maxDocFreq` cap: the join cost it bounds is
    * Σ doc_freq² · n_shingles over this table, so the histogram's tail IS
    * the blowup. Two hash aggregations over 8-byte shingle hashes (both
    * map-side combined); output height = max doc_freq, a driver-safe
    * handful of rows. */
  def shingleDfHistogram(
      df: DataFrame,
      textCol: String,
      shingleSize: Int = 3): DataFrame =
    df.select(explode(
      TextKernelFunctions.shingleHashSet(col(textCol), shingleSize)).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("doc_freq"))
      .groupBy(col("doc_freq")).agg(count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_freq"))

  /** Categorical diversity per group: Shannon entropy (nats) and Gini
    * impurity of `catCol`'s distribution within each `groupCol` value —
    * the corpus-mix diagnostic ("how language-diverse is each source?").
    * Two partial-aggregated groupBys over (group, category) counts; the
    * per-group term sums run over ≤ |categories| rows. */
  def categoricalDiversity(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = {
    val cells = df
      .filter(col(groupCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(groupCol).as("group"), col(catCol).as("_cat"))
      .agg(count(lit(1)).as("_n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("group")
    cells
      .withColumn("_p", col("_n") / sum("_n").over(w))
      .groupBy("group")
      .agg(sum("_n").as("n_rows"),
        count(lit(1)).as("n_categories"),
        (-sum(col("_p") * log(col("_p")))).as("entropy"),
        (lit(1.0) - sum(col("_p") * col("_p"))).as("gini"))
  }

  /** Corpus-level shingle overlap between two snapshots: the Jaccard of
    * their DISTINCT word-n-gram sets — "how much of corpus B is textually
    * already in corpus A" at the vocabulary level (the cheap pre-check
    * before a full cross-corpus dedup run). Each side reduces to distinct
    * 8-byte shingle hashes before the one full-outer join of hash sets. */
  def corpusOverlap(a: DataFrame, b: DataFrame, textCol: String,
      shingleSize: Int = 3): DataFrame = {
    def hashes(df: DataFrame, mark: String) = df
      .select(explode(
        TextKernelFunctions.shingleHashSet(col(textCol), shingleSize)).as("h"))
      .distinct()
      .withColumn(mark, lit(1))
    hashes(a, "_ina").join(hashes(b, "_inb"), Seq("h"), "full_outer")
      .agg(
        sum(when(col("_ina").isNotNull, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("_inb").isNotNull, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("_ina").isNotNull && col("_inb").isNotNull, 1L)
          .otherwise(0L)).as("n_intersect"),
        count(lit(1)).as("n_union"))
      .withColumn("jaccard",
        round(col("n_intersect").cast("double") / col("n_union"), 6))
  }

  /** Top-k trending terms between two corpus snapshots: smoothed log rate
    * ratio `ln(((n_b+1)/(N_b+1)) / ((n_a+1)/(N_a+1)))` per term (positive
    * = rising in `b`), ranked by the 6-dp-ROUNDED score with the term as
    * tiebreak — the rounding makes the k-boundary robust to last-ulp log
    * differences between engines recomputing it.
    *
    * One tokenize+count pass per snapshot (map-side combined), a full
    * outer join of the two term tables, two broadcast 1-row totals, and a
    * TakeOrderedAndProject top-k — no global sort, term strings shuffle
    * once per side. */
  def trendingTerms(a: DataFrame, b: DataFrame, textCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def termCounts(df: DataFrame, out: String) =
      df.select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
        .groupBy("term").agg(count(lit(1)).as(out))
    val ca = termCounts(a, "n_a")
    val cb = termCounts(b, "n_b")
    val ta = ca.agg(coalesce(sum("n_a"), lit(0L)).as("_ta"))
    val tb = cb.agg(coalesce(sum("n_b"), lit(0L)).as("_tb"))
    val joined = ca.join(cb, Seq("term"), "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
    val rateB = (col("n_b") + 1) / (col("_tb") + 1)
    val rateA = (col("n_a") + 1) / (col("_ta") + 1)
    joined
      .withColumn("score", round(log(rateB / rateA), 6))
      .select(col("term"), col("n_a"), col("n_b"), col("score"))
      .orderBy(col("score").desc, col("term").asc)
      .limit(k)
  }

  /** Character n-gram language-model counts from a reference corpus — the
    * model half of the classic perplexity quality filter (CCNet /
    * KenLM-style filtering, done here at the character level so the model
    * is closed-vocabulary and provably bounded: ≤ 27ⁿ grams over the
    * ASCII-normalized alphabet `[a-z ]`, i.e. ≤ ~19.7k rows for n=3 —
    * always broadcastable, regardless of reference-corpus size).
    *
    * Output: `(gram, gram_count)` — occurrence counts of every char
    * n-gram ([[graft.functions.kernels.TextKernels.charNgrams]] contract:
    * `[A-Za-z]` lowercased, all else collapsed to single spaces).
    *
    * Plan: compiled kernel → explode → one hash aggregation; map-side
    * partial aggregation collapses each partition to ≤ 27ⁿ rows before
    * the shuffle, so exchange volume is alphabet-bounded, not
    * corpus-bounded. */
  def charLmCounts(ref: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 2, s"conditional char LM needs n >= 2: $n")
    ref.select(explode(TextKernelFunctions.charNgrams(col(textCol), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("gram_count"))
  }

  /** Per-document mean negative log-likelihood under an add-α-smoothed
    * conditional char n-gram model: for each n-gram, `P(cₙ | prefix) =
    * (count(gram) + α) / (count(prefix·) + α·vocabSize)`, where
    * `count(prefix·)` sums the model counts over the prefix's
    * continuations. Output: `(id, n_grams, avg_nll)` — `avg_nll` NULL for
    * documents with no grams (shorter than n normalized chars). Lower =
    * more like the reference corpus; the standard gate keeps documents
    * below an nll threshold calibrated on held-out reference text.
    *
    * Scale: `lm` is alphabet-bounded (≤ 27ⁿ rows), so both probe joins
    * broadcast; the corpus is scanned once and partial aggregation
    * collapses each document map-side — the only exchange is O(#docs).
    * The model aggregation is evaluated once per probe (twice total) —
    * persist `lm` if the reference corpus is itself huge.
    *
    * @param vocabSize smoothing support per context — 27 for the n-gram
    *                  alphabet `[a-z ]` (26 letters + space) */
  def charLmScore(
      docs: DataFrame, idCol: String, textCol: String,
      lm: DataFrame, n: Int = 3,
      alpha: Double = 1.0, vocabSize: Int = 27): DataFrame = {
    require(n >= 2, s"conditional char LM needs n >= 2: $n")
    require(alpha > 0, s"smoothing alpha must be positive: $alpha")
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    val grams = broadcast(lm.select(col("gram"), col("gram_count")))
    val prefixes = broadcast(lm
      .groupBy(substring(col("gram"), 1, n - 1).as("prefix"))
      .agg(sum(col("gram_count")).as("prefix_count")))
    // guard on gram: the explode_outer row of a gram-less doc must yield a
    // NULL term (avg -> NULL), not the unseen-gram smoothed probability
    val nll = when(col("gram").isNotNull,
      -log((coalesce(col("gram_count"), lit(0L)) + lit(alpha)) /
        (coalesce(col("prefix_count"), lit(0L)) + lit(alpha * vocabSize))))
    docs
      .select(col(idCol).as("id"),
        explode_outer(TextKernelFunctions.charNgrams(col(textCol), n)).as("gram"))
      .join(grams, Seq("gram"), "left")
      .join(prefixes, substring(col("gram"), 1, n - 1) === col("prefix"), "left")
      .groupBy(col("id"))
      .agg(count(col("gram")).as("n_grams"), avg(nll).as("avg_nll"))
  }

  /** Tokenizer-fertility report per group (usually per language): words,
    * subword pieces (BPE-proxy [[graft.functions.TextFunctions.subwordCount]])
    * and `fertility = subwords/words` — the metric multilingual mixes are
    * budgeted with (a language at fertility 2.3 consumes 2.3× the token
    * budget of its word count; token-equal mixing must divide by it).
    * Zero-shuffle projections (compiled kernels) + one partial-aggregated
    * groupBy on the group key. */
  def tokenizerFertility(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val t = graft.functions.TextFunctions
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(t.tokenCount(col(textCol)).cast("long")).as("n_words"),
        sum(t.subwordCount(col(textCol)).cast("long")).as("n_subwords"))
      .select(col(groupCol), col("n_docs"), col("n_words"), col("n_subwords"),
        when(col("n_words") > 0,
          round(col("n_subwords").cast("double") / col("n_words").cast("double"), 4))
          .as("fertility"))
  }

  /** Winnowed document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every word `k`-gram in document
    * order, slide a window of `window` consecutive hashes, keep each
    * window's minimum, output the distinct kept hashes per document.
    * Guarantee: any match of at least `window + k − 1` consecutive tokens
    * between two documents shares at least one fingerprint — position-robust
    * overlap detection with a signature ~1/window the size of the full
    * shingle set.
    *
    * Output: `(id, fp)` — one row per distinct selected fingerprint. `fp`
    * is the md5 hex of the space-joined k-gram (cross-engine reproducible,
    * same convention as [[graft.functions.TextFunctions.md5Fingerprint]]).
    * Documents with fewer than `window + k − 1` tokens (i.e. fewer than
    * `window` k-grams) emit no rows — too short to winnow.
    *
    * Plan shape: compiled shingle-strings kernel → `posexplode` → one
    * per-document window (`min` over `ROWS [0, window−1]`) → distinct. The
    * only shuffles key on the document id (group size = document length —
    * user-bounded, never corpus-bounded) and on the distinct's (id, fp)
    * pair. The kernel matters doubly here: the declarative
    * `transform(sequence…, slice…)` shingle form runs its lambdas
    * interpreted at O(tokens²) string copies per row, and this expression
    * is evaluated twice (`size` + `posexplode`) — measured 273 s for the
    * sf0.1 bench query vs ~3 s compiled. */
  def winnowedFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(window >= 1, s"window must be >= 1: $window")
    val sh = TextKernelFunctions.shingleStrings(col(textCol), k)
    // single kernel evaluation: the k-gram count m rides the window's own
    // (id)-partition as a second frame over the exchange the sliding min
    // already pays — no size(sh) re-evaluation, no extra shuffle
    val exploded = df
      .select(col(idCol).as("id"), posexplode(sh).as(Seq("pos", "sh")))
      .select(col("id"), col("pos"), md5(encode(col("sh"), "UTF-8")).as("h"))
    val byId = org.apache.spark.sql.expressions.Window.partitionBy("id")
    val w = byId.orderBy("pos").rowsBetween(0, window - 1)
    exploded
      .withColumn("fp", min(col("h")).over(w))
      .withColumn("m", count(lit(1)).over(byId))
      .filter(col("pos") <= col("m") - window) // complete windows only
      .select(col("id"), col("fp"))
      .distinct()
  }

  /** BPE tokenizer merge training over the corpus — the learn-the-vocab
    * step of a training-data pipeline (Sennrich et al. 2016, the
    * word-count formulation every production tokenizer trainer uses: the
    * corpus is scanned ONCE into a word→count table, and all `merges`
    * iterations run on that vocab-bounded table, never on the corpus).
    *
    * Words are `[a-z]+` runs of the lowercased text (a closed, digit-free
    * alphabet keeps the symbol grammar unambiguous). Each word is
    * symbolized as `|c||c||…|` — every symbol pipe-delimited, so a merged
    * multi-character symbol can never be confused with the concatenation
    * of its parts. One merge step is:
    *   1. pair statistics: every ADJACENT symbol pair, weighted by word
    *      count (overlapping occurrences each count, the classic
    *      formulation);
    *   2. argmax by (count desc, left asc, right asc) — a total order, so
    *      ties are deterministic across engines;
    *   3. apply: literal left-to-right non-overlapping
    *      `replace("|l||r|" -> "|lr|")` — exactly BPE's greedy merge scan,
    *      and exactly what both Spark's and DuckDB's `replace` implement,
    *      so the oracle replays the whole loop in SQL.
    *
    * Returns the learned merge table: `(step, left, right, pair_count,
    * merged)`, `merges` rows (fewer if the vocab runs out of pairs).
    *
    * Scale: one corpus scan (map-side-combined word count) → a persisted
    * vocab table orders of magnitude smaller than the corpus; each of the
    * `merges` driver-sequenced jobs is a pure projection (the i−1 learned
    * replaces composed over the SAME persisted base — no checkpoint, no
    * growing lineage over data) + a bounded pair explode + a partially
    * aggregated groupBy, with the argmax taken as TakeOrderedAndProject
    * (one row collected per step). No global window anywhere. `minWordCount`
    * prunes hapax words before the loop — at 100 TB the long tail of the
    * vocab is noise the merge statistics never need.
    *
    * Regime: step i re-applies i−1 literal replaces, so total work is
    * O(merges²) replace evaluations over the vocab — right for the
    * analysis regime (merges up to a few hundred; at 500 the composed
    * expression is still ~100 µs/row on a vocab that fits one executor's
    * partition). A production 30k-merge trainer would instead maintain
    * the materialized vocab incrementally (write each round's vocab back
    * to parquet every few hundred merges) — same per-step plan, bounded
    * expression depth. */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int,
      minWordCount: Long = 1L): DataFrame = {
    require(merges >= 1, s"merges must be >= 1: $merges")
    val spark = docs.sparkSession
    val vocab = docs
      .select(explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minWordCount)
      .withColumn("syms", regexp_replace(col("word"), "(.)", "|$1|"))
      .select(col("syms"), col("cnt"))
      .transform(graft.ops.ScaleOps.persisted)
    graft.ops.ScaleOps.releasing(vocab) {
      // vocab is distinct-word-bounded; size-derive the per-step read
      // parallelism (the cache inherits the session shuffle constant, so
      // each of the `merges` steps otherwise scans 32 near-empty blocks —
      // the ParamFrame.compactForIteration discipline)
      val vocabIt = graft.ops.ParamFrame.compactForIteration(
        vocab, vocab.count())
      val learned = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, Long, String)]
      for (step <- 1 to merges) {
        // i−1 learned merges composed as literal replaces over the base
        val cur = learned.foldLeft("syms") { case (sql, (_, l, r, _, m)) =>
          s"replace($sql, '|$l||$r|', '|$m|')"
        }
        val top = vocabIt
          .select(expr(s"split(trim(BOTH '|' FROM $cur), '\\\\|\\\\|')")
            .as("arr"), col("cnt"))
          .filter(size(col("arr")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(arr)-1)," +
              " i -> struct(arr[i-1] AS left, arr[i] AS right))")).as("p"),
            col("cnt"))
          .groupBy(col("p.left").as("left"), col("p.right").as("right"))
          .agg(sum(col("cnt")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("left").asc, col("right").asc)
          .limit(1)
          .collect()
        top.headOption.foreach { row =>
          val (l, r) = (row.getString(0), row.getString(1))
          // symbols feed back into composed SQL replaces — anything outside
          // the [a-z]+ word alphabet here means the split/replace grammar
          // broke, and interpolating it would corrupt the next step
          assert(l.matches("[a-z]+") && r.matches("[a-z]+"),
            s"bpeTrain step $step learned a non-[a-z]+ symbol pair ('$l','$r')")
          learned += ((step, l, r, row.getLong(2), l + r))
        }
      }
      import spark.implicits._
      learned.toSeq.toDF("step", "left", "right", "pair_count", "merged")
    }
  }

  /** Apply a learned BPE merge table ([[bpeTrain]]'s output, in step
    * order) to the corpus: every `[a-z]+` word of the lowercased text is
    * symbolized and the merges replayed as the same literal left-to-right
    * replaces the trainer used, then counted. Appends `wordsOut` (words
    * in the doc) and `subwordsOut` (total BPE symbols after all merges) —
    * the per-document fertility numerator/denominator, the number a
    * tokenizer team watches per language/source before training.
    *
    * Scale: a PURE projection — the merge chain is composed into one
    * codegen'd expression over the words array (aggregate/transform HOFs,
    * no explode of the corpus, no shuffle, no UDF). The merge table is
    * `merges` literal replaces long; it rides inside whole-stage codegen
    * at scan cost. Same regime note as [[bpeTrain]]: a chain of a few
    * hundred merges compiles and runs fine; a 30k-merge production vocab
    * belongs in a dictionary-driven kernel, not an expression chain. */
  def bpeEncode(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)],
      wordsOut: String = "bpe_words", subwordsOut: String = "bpe_subwords")
      : DataFrame = {
    // the merge symbols are interpolated into SQL string literals below and
    // '|' is the symbol-boundary sentinel — anything outside the trainer's
    // [a-z]+ alphabet would break parsing or corrupt the symbol grammar
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(l.matches("[a-z]+") && r.matches("[a-z]+"),
        s"merge #$i ('$l','$r') is not [a-z]+ — bpeEncode only accepts " +
          "bpeTrain-style lowercase-letter symbols")
    }
    val enc = merges.foldLeft("regexp_replace(w, '(.)', '|$1|')") {
      case (sql, (l, r)) => s"replace($sql, '|$l||$r|', '|$l$r|')"
    }
    val words = s"regexp_extract_all(lower($textCol), '[a-z]+', 0)"
    docs
      .withColumn(wordsOut, expr(s"size($words)").cast("long"))
      .withColumn(subwordsOut, expr(
        s"""aggregate($words, 0L, (acc, w) ->
            acc + CAST((length($enc) - length(replace($enc, '|', ''))) / 2
                  AS BIGINT))"""))
  }

  /** Near-dup / overlap candidates from winnowed fingerprints: unordered
    * document pairs sharing at least `minShared` selected fingerprints,
    * with the shared count — MOSS's candidate report. By the winnowing
    * guarantee, any pair sharing ≥ `window + k − 1` consecutive tokens
    * appears (with `minShared = 1`).
    *
    * Scale: the self-join keys on the 32-char fingerprint — the same
    * bucketed candidate-generation shape as every [[Dedup]] family member,
    * never all-pairs. A boilerplate fingerprint shared by d documents
    * contributes d² candidate rows; strike boilerplate first
    * ([[topNgrams]] / [[Dedup.dedupLines]]) or raise `minShared`. */
  def winnowCandidates(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4, minShared: Int = 1): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    val fps = winnowedFingerprints(df, idCol, textCol, k, window)
    val a = fps.select(col("id").as("id_a"), col("fp"))
    val b = fps.select(col("id").as("id_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Ingestion novelty curve: per batch of `batchSize` consecutive doc
    * ids, how many documents arrive (`n_docs`), how many carry a text
    * fingerprint never seen in ANY earlier batch (`n_new`), the running
    * distinct-corpus size (`cum_new`, inclusive) and `novelty_rate =
    * n_new / n_docs` — the diminishing-returns report a crawl team reads
    * to decide when a source is exhausted. Fingerprint =
    * [[graft.functions.TextFunctions.md5Fingerprint]] (whitespace-
    * normalized md5, cross-engine replayable).
    *
    * Scale: two bounded shuffles — min(batch) per fingerprint (8/16-byte
    * rows), then a per-batch count — and the cumulative sum rides
    * [[graft.ops.ScaleOps.withExclusiveRunningSum]]'s deterministic-
    * bucket cumsum over the ≤ max(id)/batchSize-row batch spine: no
    * global single-partition window at any batch count. */
  def noveltyCurve(docs: DataFrame, idCol: String, textCol: String,
      batchSize: Long = 1000L): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    val batched = docs.select(
      floor(col(idCol) / batchSize).cast("long").as("batch"),
      graft.functions.TextFunctions.md5Fingerprint(col(textCol)).as("fp"))
    val perBatch = batched.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"))
    val firstSeen = batched.groupBy(col("fp"))
      .agg(min(col("batch")).as("batch"))
      .groupBy(col("batch")).agg(count(lit(1)).as("n_new"))
    // left join: a batch of pure re-crawls (no new fingerprints) must
    // still appear with n_new = 0
    val curve = perBatch.join(firstSeen, Seq("batch"), "left")
      .select(col("batch"), col("n_docs"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    graft.ops.ScaleOps
      .withExclusiveRunningSum(curve, col("batch"), "n_new", "cum_prev")
      .select(col("batch"), col("n_docs"), col("n_new"),
        (col("cum_prev") + col("n_new")).as("cum_new"),
        round(col("n_new").cast("double") / col("n_docs"), 6).as("novelty_rate"))
  }

  /** Concentration report over `keyCol` — "how dominated is this corpus by
    * a few keys?", the diversity check a mixture designer runs before
    * trusting per-source weights (a corpus whose Gini over sources is 0.9
    * is one source wearing twenty names). One row out:
    * `(n_rows, n_keys, gini, hhi, top_share)` — Gini coefficient of the
    * per-key row counts (0 = perfectly even, → 1 = one key holds all),
    * Herfindahl–Hirschman index Σ share² (1/k at even, 1 at monopoly),
    * and the single heaviest key's share. NULL gini for a single key
    * (undefined); NULL row when the input is empty.
    *
    * Scale: per-key counts (one partial-aggregated shuffle), collapsed to
    * one row per DISTINCT count value (a far smaller table — web-scale key
    * counts are heavy-tailed with few distinct low values), the shared
    * deterministic-bucket cumsum for the sorted-rank prefix, one reduce.
    * Gini over ties is order-invariant, so ranks within a tied count
    * resolve in closed form: Σᵢ i·xᵢ over the tie block of m keys at count
    * c starting after `before` keys is c·(m·before + m(m+1)/2). No sort of
    * the key table, no global window. */
  def concentrationReport(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
    val byC = counts.groupBy(col("c")).agg(count(lit(1)).as("m"))
    val (cum, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      byC, col("c"), Seq("m"), Seq("before"),
      persistInput = false) // replaying two cheap aggs beats caching them
    val nKeys = grand.head
    // rank products in DOUBLE: before·m and c² cross Long range on corpora
    // with billions of keys (ANSI long overflow would error; the statistic
    // tolerates double rounding)
    val cD = col("c").cast("double"); val mD = col("m").cast("double")
    val bD = col("before").cast("double")
    // Execute the one-row aggregate BEFORE releasing the cumsum blocks and
    // build the result from literals: returning a plan over `cum` after
    // release would hit unpersisted, unrecomputable blocks whenever the
    // input plan is nondeterministic (sample()/rand-derived frames freeze
    // a localCheckpoint whose lineage is cut) — the mannWhitneyU pattern.
    val row = graft.ops.ScaleOps.releasing(cum) {
      cum.agg(
        sum(col("c") * col("m")).cast("long").as("_t"),
        sum(cD * (mD * bD + mD * (mD + 1) / 2.0)).as("_s"),
        sum(mD * cD * cD).as("_q"),
        max(col("c")).cast("long").as("_max"))
        .head()
    }
    val spark = df.sparkSession
    import spark.implicits._
    // empty input: NULL stats (n_keys 0)
    val t = Option.when(!row.isNullAt(0))(row.getLong(0))
    val tD = t.map(_.toDouble)
    // same arithmetic order as the previous in-plan expressions (gini's
    // 2s/(k·t) − (k+1)/k; hhi in double to dodge long t² overflow at
    // billions of rows)
    Seq((t, nKeys,
        tD.filter(_ => nKeys > 1).map(td =>
          2.0 * row.getDouble(1) / (nKeys.toDouble * td) -
            (nKeys + 1).toDouble / nKeys.toDouble),
        tD.map(td => row.getDouble(2) / (td * td)),
        tD.map(td => row.getLong(3).toDouble / td)))
      .toDF("n_rows", "n_keys", "gini", "hhi", "top_share")
  }

  /** Out-of-vocabulary rate per language against a reference vocabulary —
    * the tokenizer-coverage gate: a language whose corpus tokens are 40%
    * OOV against the training vocab will fragment into bytes at encode
    * time ([[bpeEncode]]'s fertility says how badly; this says WHERE the
    * vocab is thin before training even starts). `vocab` carries the
    * reference terms in `termCol` — typically a top-N frequency cut or a
    * trained tokenizer's word list, BOUNDED by construction (the contract
    * that justifies the broadcast). Output per language:
    * `(lang, n_tokens, n_oov, oov_rate)`.
    *
    * Scale: token explode → broadcast left join against the distinct
    * vocab → one lang-keyed partial aggregation. The corpus never
    * shuffles; only per-lang counters do. */
  def oovRate(docs: DataFrame, textCol: String, langCol: String,
      vocab: DataFrame, termCol: String): DataFrame = {
    val v = vocab.select(col(termCol).cast("string").as("term")).distinct()
      .withColumn("__in", lit(1))
    docs
      .filter(col(langCol).isNotNull)
      .select(col(langCol).as("lang"),
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("term"))
      .join(broadcast(v), Seq("term"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** Per-source KL divergence from the GLOBAL token distribution — "how
    * lexically distinctive is each source?", the mixture-design companion
    * to [[sourceScorecard]]: a source whose token distribution sits far
    * from the corpus contributes diversity a weight bump amplifies; a
    * near-zero-KL source is more of the same. Computed over the global
    * top-`topV` vocabulary with all remaining tokens folded into one
    * OTHER bucket (keyed by the empty string — impossible as a real
    * token), so every source's support is contained in the global support
    * and the KL is always finite. Output per source:
    * `(source, n_tokens, kl_nats)`.
    *
    * Scale: one token explode → broadcast membership join against the
    * bounded vocab → (source, term)-keyed partial aggregation bounded by
    * |sources|·(topV+1) rows; the global distribution reduces from the
    * same table. One corpus scan. */
  def sourceDivergence(docs: DataFrame, textCol: String, sourceCol: String,
      topV: Int = 500): DataFrame = {
    require(topV >= 1, s"topV must be >= 1: $topV")
    val toks = docs
      .filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("source"),
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("term").asc).limit(topV)
      .select(col("term")).withColumn("__in", lit(1))
    val bucketed = toks.join(broadcast(vocab), Seq("term"), "left")
      .select(col("source"),
        when(col("__in").isNotNull, col("term")).otherwise(lit("")).as("t"))
    val perSource = bucketed.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("cs"))
    val totals = perSource.groupBy(col("source"))
      .agg(sum(col("cs")).as("ts"))
    val global = perSource.groupBy(col("t"))
      .agg(sum(col("cs")).as("cg"))
    val grand = global.agg(sum(col("cg")).as("tg"))
    val p = col("cs").cast("double") / col("ts")
    val q = col("cg").cast("double") / col("tg")
    perSource
      .join(broadcast(totals), Seq("source"))
      .join(broadcast(global), Seq("t"))
      .crossJoin(broadcast(grand))
      .groupBy(col("source"))
      .agg(max(col("ts")).cast("long").as("n_tokens"),
        // clamp: KL >= 0 mathematically; summation noise on a
        // near-identical source could land at -1e-17
        greatest(sum(p * log(p / q)), lit(0.0)).as("kl_nats"))
  }

  /** Per-source boilerplate detector over the DOCUMENT HEAD: groups
    * documents by a normalized head fingerprint (first `headChars` chars
    * of the lowercased, whitespace-collapsed text — the scraper-template
    * signature: navigation headers, cookie banners, licence preambles) and
    * reports, per source, how much of the corpus one head dominates.
    * Output per source: `(source, n_docs, n_distinct_heads, top_count,
    * top_share, top_head)` — `top_share` near 1.0 means the source is one
    * template; strike it with [[Dedup.dedupLines]] before training. Ties
    * on count break by head ascending (deterministic on both engines).
    *
    * Scale: one scan projection → one (source, head)-keyed count (partial-
    * aggregated; the head is ≤ `headChars` chars, so shuffle rows are
    * bounded-width) → a source-KEYED window for the argmax (never global)
    * → one source-keyed reduce. Output height = |sources|. */
  def boilerplateHeads(docs: DataFrame, textCol: String, sourceCol: String,
      headChars: Int = 40): DataFrame = {
    require(headChars >= 1, s"headChars must be >= 1: $headChars")
    import org.apache.spark.sql.expressions.Window
    val head = substring(
      regexp_replace(lower(trim(col(textCol))), "[ \\t\\n\\r]+", " "),
      1, headChars)
    val perHead = docs
      .filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("source"), head.as("__head"))
      .groupBy(col("source"), col("__head"))
      .agg(count(lit(1)).as("__hc"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("__hc").desc, col("__head").asc)
    perHead
      .withColumn("__rk", row_number().over(w))
      .groupBy(col("source"))
      .agg(
        sum(col("__hc")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_distinct_heads"),
        max(when(col("__rk") === 1, col("__hc"))).cast("long").as("top_count"),
        max(when(col("__rk") === 1, col("__head"))).as("top_head"))
      .select(col("source"), col("n_docs"), col("n_distinct_heads"),
        col("top_count"),
        round(col("top_count").cast("double") / col("n_docs"), 6)
          .as("top_share"),
        col("top_head"))
  }

  /** Vocabulary-richness estimators — "how much vocabulary have we NOT
    * seen yet?", the coverage question behind tokenizer-vocab sizing and
    * crawl-more-or-stop decisions. From the term frequency-of-frequencies:
    * bias-corrected Chao1 richness (observed types + f₁(f₁−1)/(2(f₂+1)),
    * a lower bound on true vocabulary size driven by singletons f₁ and
    * doubletons f₂) and the Good–Turing unseen-probability mass f₁/N (the
    * chance the NEXT token is a never-seen type). One row:
    * `(n_tokens, n_types, f1, f2, chao1, gt_unseen_mass)`.
    *
    * Scale: term counts (one partial-aggregated shuffle over distinct
    * terms), collapsed to counts-of-counts (a far smaller table — Zipfian
    * corpora have few distinct low frequencies), one scalar reduce. */
  def vocabRichness(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol)))
        .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("c")).agg(count(lit(1)).as("m"))
      .agg(
        sum(col("c") * col("m")).cast("long").as("n_tokens"),
        sum(col("m")).cast("long").as("n_types"),
        coalesce(sum(when(col("c") === 1, col("m"))), lit(0L)).cast("long")
          .as("f1"),
        coalesce(sum(when(col("c") === 2, col("m"))), lit(0L)).cast("long")
          .as("f2"))
      .select(col("n_tokens"), col("n_types"), col("f1"), col("f2"),
        (col("n_types") + col("f1").cast("double") * (col("f1") - 1) /
          (lit(2.0) * (col("f2") + 1))).as("chao1"),
        when(col("n_tokens") > 0,
          col("f1").cast("double") / col("n_tokens")).as("gt_unseen_mass"))
  }

  /** Hill tail-index estimator over the term-frequency distribution — the
    * measured heavy-tail exponent ([[zipfFit]] regresses the WHOLE
    * rank-frequency line; Hill estimates the tail law x^(−α) from the top
    * k order statistics only, the estimator of record for power-law
    * tails): α̂ = k / Σᵢ₌₁..k ln(xᵢ/x₍ₖ₊₁₎) over the k largest term counts.
    * One row: `(k, x_tail, alpha)` — `x_tail` = the (k+1)-th count. NULL
    * alpha when the top k+1 counts all tie (zero log-sum) or the corpus
    * has fewer than k+1 distinct terms.
    *
    * Scale: term counts → `TakeOrderedAndProject` top-(k+1) under
    * (count desc, term asc) — per-partition heaps, a k-row driver merge,
    * never a global sort; the k-row tail computes on the driver from the
    * collected bounded set. */
  def hillTailIndex(docs: DataFrame, textCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val top = docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol)))
        .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term").asc)
      .limit(k + 1)
      .collect() // k+1 rows by construction — a bounded-table collect
    val spark = docs.sparkSession
    import spark.implicits._
    val xs = top.map(_.getLong(1))
    val xTail = Option.when(top.length >= k + 1)(xs.last)
    // deterministic summation order: the (count desc, term asc) collect
    // order, matching the oracle's ORDER BY inside its aggregate
    val alpha = xTail.flatMap { xt =>
      val lnSum = xs.take(k).map(x => math.log(x.toDouble / xt)).sum
      Option.when(lnSum > 0)(k / lnSum)
    }
    Seq((k, xTail, alpha)).toDF("k", "x_tail", "alpha")
  }

  /** Per-group lexical diversity — type-token ratio and hapax share, the
    * classic "is this source templated or genuinely varied?" signals (a
    * log-spam source has huge token volume, tiny TTR, near-zero hapax
    * share; human text keeps both up). Per group:
    * `(group, n_tokens, n_types, ttr, hapax_rate)` — hapax rate = share of
    * the group's TYPES occurring exactly once in the group.
    *
    * Scale: one partial-aggregated count per (group, term) — the tf-idf
    * shuffle class — then one group-keyed reduce; output height =
    * |groups|. */
  def lexicalDiversity(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    docs
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("group"),
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("term"))
      .groupBy(col("group"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("group"))
      .agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("_hapax"))
      .select(col("group"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        (col("_hapax").cast("double") / col("n_types")).as("hapax_rate"))
  }

  /** Top-k bigram collocations by PMI — which word pairs are GLUED
    * (pointwise mutual information of adjacent-token pairs: "new york"
    * scores high because its parts rarely appear apart; "of the" scores
    * near zero despite huge counts) — the collocation detector behind
    * tokenizer-merge candidates and boilerplate-phrase discovery. Per
    * pair: `(w1, w2, count, pmi, npmi)` — npmi normalizes to [−1, 1]
    * (1 = the words only ever co-occur). `minCount` floors the bigram
    * count (PMI is notoriously noisy on rare pairs); output = the k most
    * frequent qualifying bigrams with their PMI.
    *
    * Scale: adjacent bigrams are LINEAR in corpus size (no pair
    * explosion — this is not a co-occurrence window): one bigram count
    * aggregation + one unigram count aggregation, top-k via
    * `TakeOrderedAndProject`, then the k-bounded table joins the
    * vocabulary-sized unigram counts twice (broadcast of the k rows). */
  def pmiCollocations(docs: DataFrame, textCol: String, k: Int = 20,
      minCount: Long = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val bi = docs.select(
        explode(TextKernelFunctions.shingleStrings(col(textCol), 2))
          .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val uni = docs.select(
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cu"))
    val totals = bi.agg(sum(col("c12")).as("_nb"))
      .crossJoin(uni.agg(sum(col("cu")).as("_nu")))
    val top = bi.filter(col("c12") >= minCount)
      .orderBy(col("c12").desc, col("bigram").asc).limit(k)
      .select(col("bigram"), col("c12"),
        split(col("bigram"), " ").getItem(0).as("w1"),
        split(col("bigram"), " ").getItem(1).as("w2"))
    val u1 = uni.select(col("term").as("w1"), col("cu").as("c1"))
    val u2 = uni.select(col("term").as("w2"), col("cu").as("c2"))
    val p12 = col("c12") / col("_nb")
    val pmi = log(p12 / ((col("c1") / col("_nu")) * (col("c2") / col("_nu"))))
    broadcast(top).join(u1, Seq("w1")).join(u2, Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12").as("count"),
        pmi.as("pmi"),
        // NULL at p12 = 1 (a degenerate one-bigram corpus: −ln p12 = 0)
        when(-log(p12) > 0, pmi / -log(p12)).as("npmi"))
  }

  /** Term burstiness for the top-k corpus terms — the variance-to-mean
    * ratio (Fisher dispersion) of a term's per-document count ACROSS ALL
    * documents, zeros included: VMR ≈ 1 is Poisson scatter (function
    * words), VMR ≫ 1 is bursty (topical words clump in few documents) —
    * the signal separating content terms from glue, and template spam
    * (absurd VMR) from both. Per term:
    * `(term, total, doc_freq, vmr)` for the k most frequent terms.
    *
    * Scale: per-(term, doc) counts (tf-idf shuffle class) → per-term
    * moments (Σc, Σc², df) — the zero documents enter in CLOSED FORM via
    * the corpus doc count D (mean = Σc/D, E[x²] = Σc²/D), so nothing
    * materializes D×V rows. Top-k via `TakeOrderedAndProject`. */
  def termBurstiness(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val nDocs = docs.count()
    val perTD = docs
      .select(col(idCol).as("__id"),
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("term"))
      .groupBy(col("term"), col("__id")).agg(count(lit(1)).as("c"))
    val d = lit(nDocs.toDouble)
    perTD.groupBy(col("term"))
      .agg(sum(col("c")).cast("long").as("total"),
        count(lit(1)).cast("long").as("doc_freq"),
        sum(col("c") * col("c")).cast("long").as("_sq"))
      .select(col("term"), col("total"), col("doc_freq"),
        // population variance over ALL D docs / mean, in one expression:
        // VMR = (Σc²/D − (Σc/D)²) / (Σc/D) = Σc²/Σc − Σc/D
        (col("_sq").cast("double") / col("total") -
          col("total").cast("double") / d).as("vmr"))
      .orderBy(col("total").desc, col("term").asc)
      .limit(k)
  }

  /** Heaps'-law vocabulary-growth fit — "how fast does the vocabulary
    * still grow if we ingest 10× more of this corpus?": V(n) ≈ K·n^β
    * over the first-occurrence curve (β near 1: the source keeps minting
    * new types — ids, hashes, boilerplate noise; β ≈ 0.4–0.6: natural
    * language; a β jump between snapshots is a contamination smell). The
    * curve samples `checkpoints` evenly-spaced token-prefix sizes
    * (prefix order = doc_id order, position within doc), and the fit is
    * the closed-form log–log OLS over those points. Output one row per
    * checkpoint: `(i, n_prefix, v_types, beta, log_k, r2)` — the fit
    * columns are constant across rows (the curve and its summary in one
    * frame).
    *
    * Scale: one tokenize+posexplode scan; per-doc lengths cumsum through
    * the shared deterministic-bucket machinery (doc offsets without a
    * global window); global positions via an id-keyed join; first
    * occurrence = one min per term; the checkpoint spine is
    * `checkpoints` rows broadcast against the vocab table. The curve is
    * checkpoint-bounded, so the OLS runs on the driver over collected
    * literals (the head()-then-literals pattern — release-safe). */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
      checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 3, s"need >= 3 checkpoints for a fit: $checkpoints")
    val toks = docs
      .select(col(idCol).as("id"),
        posexplode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as(Seq("pos", "term")))
    val lens = toks.groupBy(col("id")).agg(count(lit(1)).as("len"))
    val (cum, grand) = graft.ops.ScaleOps.withExclusiveRunningSums(
      lens, col("id"), Seq("len"), Seq("off"))
    graft.ops.ScaleOps.releasing(cum) {
      val nTokens = grand.head
      val spark = docs.sparkSession
      if (nTokens < checkpoints) {
        return spark.range(0).select(
          lit(0).as("i"), lit(0L).as("n_prefix"), lit(0L).as("v_types"),
          lit(null).cast("double").as("beta"),
          lit(null).cast("double").as("log_k"),
          lit(null).cast("double").as("r2"))
      }
      val firstOcc = toks
        .join(cum.select(col("id"), col("off")), Seq("id"))
        .groupBy(col("term"))
        .agg(min(col("off") + col("pos") + 1).as("first_pos"))
      // inner inequality join STREAMS the vocab side against the broadcast
      // checkpoint spine (a left-outer spine join would need the vocab side
      // broadcast — wrong way round at corpus scale); empty checkpoints
      // fill from the spine on the driver
      import spark.implicits._
      val spineRows = (1 to checkpoints)
        .map(i => (i, i.toLong * nTokens / checkpoints))
      val counts = firstOcc
        .join(broadcast(spineRows.toDF("i", "n_prefix")),
          col("first_pos") <= col("n_prefix"))
        .groupBy(col("i")).agg(count(lit(1)).as("v"))
        .collect()
        .map(r => r.getAs[Int]("i") -> r.getAs[Long]("v")).toMap
      val curve = spineRows.map { case (i, np) => (i, np, counts.getOrElse(i, 0L)) }
      // log-log OLS over the checkpoint curve (driver-side: bounded rows)
      val pts = curve.filter(p => p._2 > 0 && p._3 > 0)
        .map(p => (math.log(p._2.toDouble), math.log(p._3.toDouble)))
      val fit: Option[(Double, Double, Double)] =
        if (pts.length < 3) None
        else {
          val n = pts.length
          val mx = pts.map(_._1).sum / n; val my = pts.map(_._2).sum / n
          val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
          val sxy = pts.map(p => (p._1 - mx) * (p._2 - my)).sum
          val syy = pts.map(p => (p._2 - my) * (p._2 - my)).sum
          if (sxx <= 0 || syy <= 0) None
          else Some((sxy / sxx, my - sxy / sxx * mx, sxy * sxy / (sxx * syy)))
        }
      val fitted = curve.map { case (i, np, v) =>
        (i, np, v, fit.map(_._1), fit.map(_._2), fit.map(_._3))
      }
      fitted.toDF("i", "n_prefix", "v_types", "beta", "log_k", "r2")
    }
  }

  /** Word bigrams of a text column as `(v, w)` rows — in-plan (zip of
    * the token array against its own tail), no positional self-join. */
  private def bigramRows(df: DataFrame, textCol: String,
      keep: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val len = greatest(size(toks) - 1, lit(0))
    val exploded = df.select(keep :+ explode(arrays_zip(
      slice(toks, lit(1), len).as("v"),
      slice(toks, lit(2), len).as("w"))).as("bg"): _*)
    val keepOut = exploded.columns.dropRight(1).map(col).toSeq
    exploded.select(keepOut :+ col("bg.v") :+ col("bg.w"): _*)
  }

  /** Interpolated Kneser–Ney bigram language model: train on one corpus
    * slice, report per-group perplexity of another — THE classic
    * data-quality signal (perplexity filtering: a slice whose text
    * surprises a clean-reference LM is boilerplate, another language,
    * or garbage). Absolute discount δ with continuation-count backoff:
    * P(w|v) = (max(c(vw)−δ, 0) + δ·N₁₊(v·)·P_cont(w)) / c(v) when the
    * context is known, else P_cont(w) = N₁₊(·w)/|distinct bigrams| (the
    * "how many contexts does w complete" distribution — the KN insight
    * that makes 'francisco' rare outside 'san'); unseen words floor at
    * `floorProb` so the NLL stays finite. Per-group output:
    * `(group, n_docs, n_bigrams, avg_nll, ppl)` with ppl = exp(avg NLL)
    * — docs shorter than 2 tokens contribute nothing.
    *
    * Scale: one tokenize scan per side (bigrams zip in-plan — no
    * positional self-join); model tables are vocabulary-bounded
    * ((v,w) counts, v-contexts, w-continuations) and the three test-side
    * joins are equi-joins on those keys; AQE exchange reuse computes the
    * bigram-count shuffle once for its three derivations. Every
    * probability is a ratio of exact counts, so the score replays
    * bit-identically on any engine. */
  def knBigramPerplexity(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, groupCol: String,
      discount: Double = 0.75, floorProb: Double = 1e-10): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1): $discount")
    require(floorProb > 0, s"floorProb must be positive: $floorProb")
    val bc = bigramRows(train, textCol, Seq.empty)
      .groupBy(col("v"), col("w")).agg(count(lit(1)).as("cvw"))
    val ctx = bc.groupBy(col("v"))
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1v"))
    val tot = bc.agg(count(lit(1)).as("totB"))
    val cont = bc.groupBy(col("w")).agg(count(lit(1)).as("n1w"))
      .crossJoin(broadcast(tot))
      .select(col("w"), (col("n1w").cast("double") / col("totB")).as("pc"))
    val te = bigramRows(test, textCol,
      Seq(col(idCol).as("__id"), col(groupCol).as("__g")))
    val d = lit(discount)
    val pcF = coalesce(col("pc"), lit(0.0))
    val p = when(col("cv").isNotNull && col("cv") > 0,
        (greatest(coalesce(col("cvw"), lit(0L)).cast("double") - d, lit(0.0)) +
          d * col("n1v") * pcF) / col("cv"))
      .otherwise(pcF)
    te.join(bc, Seq("v", "w"), "left")
      .join(ctx, Seq("v"), "left")
      .join(cont, Seq("w"), "left")
      .select(col("__id"), col("__g"),
        (-log(greatest(p, lit(floorProb)))).as("__nll"))
      .groupBy(col("__g").as(groupCol))
      .agg(count_distinct(col("__id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        avg(col("__nll")).as("avg_nll"),
        exp(avg(col("__nll"))).as("ppl"))
  }

  /** Inequality panel over a positive quantity (tokens per source, spend
    * per user) — Theil T, Atkinson(ε=1) and the squared coefficient of
    * variation side by side ([[concentrationReport]] carries Gini/HHI
    * over a KEYED count table; this panel reads a plain numeric column
    * and adds the decomposable indices: Theil T sums EXACTLY across
    * subgroups, which is why pipeline dashboards prefer it). Non-positive
    * values drop (logarithmic indices are undefined there — documented
    * complete-case-positive contract). One row:
    * `(n, mean, theil_t, atkinson_1, cv2)`; NULLs when n = 0 or the
    * mean is 0.
    *
    * Scale: ONE aggregation of (n, Σx, Σx·ln x, Σln x, Σx²) — codegen'd
    * sums, scalar algebra in-plan. */
  def inequalityPanel(df: DataFrame, column: String): DataFrame = {
    val x = col(column).cast("double")
    val base = df.filter(x.isNotNull && x > 0).select(x.as("x"))
    val agg = base.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * log(col("x"))).as("sxlx"),
      sum(log(col("x"))).as("slx"),
      sum(col("x") * col("x")).as("sxx"))
    val mu = col("sx") / col("n")
    agg.select(col("n"),
      when(col("n") > 0, mu).as("mean"),
      when(col("n") > 0 && col("sx") > 0,
        col("sxlx") / col("sx") - log(mu)).as("theil_t"),
      when(col("n") > 0 && col("sx") > 0,
        lit(1.0) - exp(col("slx") / col("n")) / mu).as("atkinson_1"),
      when(col("n") > 1 && col("sx") > 0,
        ((col("sxx") - col("sx") * mu) / (col("n") - 1)) / (mu * mu))
        .as("cv2"))
  }
}
