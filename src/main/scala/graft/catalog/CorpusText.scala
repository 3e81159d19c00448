package graft.catalog

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.CorpusStats
import graft.sources.EventsSource

import Support._

/** Catalog family: corpus statistics ([[graft.operators.CorpusStats]])
  * and text functions: n-grams, vocabularies, language models, BPE,
  * winnowing, readability and source-level text reports. */
object CorpusText {

  /** q215 oracle: the BPE merge loop replayed as chained CTEs. `v0` is the
    * hapax-pruned word-count table with every word symbolized `|c||c||…|`;
    * step i explodes adjacent symbol pairs of `v{i-1}` weighted by word
    * count, takes the (count desc, left asc, right asc) argmax — a total
    * order, so ties are deterministic — and applies the merge as the same
    * literal left-to-right non-overlapping `replace` Spark runs. All
    * counts are integers; nothing floats. */
  private def bpeCtes(merges: Int, minCount: Long): String = {
    val base =
      s"""bw AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
             FROM documents),
         v0 AS (SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS syms,
                  count(*)::BIGINT AS cnt
                FROM bw GROUP BY word HAVING count(*) >= $minCount)"""
    val iters = (1 to merges).map { i =>
      val prev = s"v${i - 1}"
      s"""e$i AS (SELECT a, cnt, unnest(range(1, len(a))) AS j
             FROM (SELECT string_split(trim(syms, '|'), '||') AS a, cnt
                   FROM $prev) t),
         p$i AS (SELECT a[j] AS l, a[j+1] AS r, CAST(sum(cnt) AS BIGINT) AS pc
             FROM e$i GROUP BY 1, 2),
         m$i AS (SELECT l, r, pc, l || r AS mg FROM p$i
             ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
         v$i AS (SELECT replace(syms, '|' || l || '||' || r || '|',
                    '|' || mg || '|') AS syms, cnt
             FROM $prev CROSS JOIN m$i)"""
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  val cases: Seq[Case] = Seq(
    // ---- text analysis (extensions) -------------------------------------
    Case("q19_text_stats", (s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("text_len"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[\\p{Punct}]", ""))).as("n_punct"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, length(text) AS text_len,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             x -> len(x) > 0)) AS n_tokens,
         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
         FROM documents ORDER BY doc_id"""),

    // ---- BPE tokenizer merge training (CorpusStats) ---------------------
    // 6 merges over the [a-z]+ word-count table (hapax pruned): the
    // oracle replays every step in SQL — the weighted pair statistics,
    // the (count desc, left asc, right asc) argmax, and the literal
    // left-to-right non-overlapping replace — so the learned merge table
    // must agree row for row; integer counts, no floats anywhere
    Case("q215_bpe_train", (s, dir) => {
      CorpusStats.bpeTrain(read(s, dir, "documents"), "text", merges = 6,
        minWordCount = 2L)
        .orderBy(col("step"))
    },
      // BPE merge loop replayed as chained CTEs: v0 is the pruned
      // word-count table symbolized with pipe delimiters; each step
      // recomputes pair statistics from v{i-1}, takes the same total-order
      // argmax, applies the same literal replace. Integer counts and a
      // total argmax order — the replay is exact
      s"""WITH ${bpeCtes(merges = 6, minCount = 2L)}
         SELECT * FROM (
           ${(1 to 6).map(i =>
        s"""SELECT $i AS step, l AS "left", r AS "right", pc AS pair_count,
               mg AS merged FROM m$i""").mkString("\n           UNION ALL ")}
         ) u ORDER BY step"""),

    // ---- BPE fertility under the learned vocab (CorpusStats) ------------
    // train-then-apply composition: the 6 learned merges replayed over the
    // corpus as one codegen'd projection (no explode, no shuffle), rolled
    // up per language — the fertility report a tokenizer team reads.
    // Counts are integers; fertility is one double division rounded at 4dp
    Case("q216_bpe_fertility", (s, dir) => {
      val docs = read(s, dir, "documents")
      val merges = CorpusStats.bpeTrain(docs, "text", merges = 6,
        minWordCount = 2L)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // a lang whose docs contain no [a-z]+ word has no fertility (the
      // oracle unnests words first, so such a lang never reaches its
      // GROUP BY) — drop zero-word docs so both sides agree by shape
      CorpusStats.bpeEncode(docs, "text", merges)
        .filter(col("bpe_words") > 0)
        .groupBy(col("lang"))
        .agg(sum(col("bpe_words")).as("n_words"),
          sum(col("bpe_subwords")).as("n_subwords"))
        .withColumn("fertility",
          round(col("n_subwords") / col("n_words"), 4))
        .orderBy(col("lang"))
    },
      // BPE train-then-apply: the same 6-merge replay, then every word
      // re-encoded through the learned chain (the m1…m6 rows applied as the
      // same sequential literal replaces) and symbol counts rolled up per
      // language. Pipe counting: a word with n symbols carries exactly 2n
      // pipes, so n = (len − len-without-pipes)/2 — integer-exact
      s"""WITH ${bpeCtes(merges = 6, minCount = 2L)},
         d0 AS (SELECT lang,
                  unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                FROM documents),
         s0 AS (SELECT lang, regexp_replace(w, '(.)', '|\\1|', 'g') AS e
                FROM d0),
         ${(1 to 6).map(i =>
        s"""s$i AS (SELECT lang, replace(e, '|' || m$i.l || '||' || m$i.r || '|',
                  '|' || m$i.mg || '|') AS e
                FROM s${i - 1} CROSS JOIN m$i)""").mkString(",\n         ")}
         SELECT lang, count(*)::BIGINT AS n_words,
           CAST(sum(CAST((len(e) - len(replace(e, '|', ''))) / 2 AS BIGINT))
             AS BIGINT) AS n_subwords,
           round(sum(CAST((len(e) - len(replace(e, '|', ''))) / 2 AS BIGINT))
                 / count(*)::DOUBLE, 4) AS fertility
         FROM s6 GROUP BY lang ORDER BY lang"""),
    Case("q27_lang_quality", (s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))
    },
      // langId / qualityScore / subwordCount re-expressed in DuckDB SQL; the
      // stopword lists are interpolated from TextFunctions.stopwords (single
      // source of truth). Subword boundaries: Spark splits on lookarounds at
      // letter↔digit transitions; RE2 has no lookarounds, so the oracle inserts
      // spaces at transitions (two backref replaces) then splits on non-alnum.
      {
        val langs = TextFunctions.stopwords.toSeq.sortBy(_._1) // de, en, es, fr
        val allStops = TextFunctions.stopwords.values.flatten.toSeq.distinct.sorted
        val scoreCols = langs.map { case (lang, words) =>
          s"len(list_intersect(toks, ${sqlList(words)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_$lang"
        }.mkString(",\n             ")
        val gs = "greatest(s_de, s_en, s_es, s_fr)"
        s"""WITH t AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> len(x) > 0) AS toks
           FROM documents),
         sc AS (
           SELECT doc_id, text, toks,
             $scoreCols,
             len(list_intersect(toks, ${sqlList(allStops)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_all,
             (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
               / greatest(length(text), 1)::DOUBLE AS pr,
             length(regexp_replace(text, '[^\\pL]', '', 'g'))::DOUBLE
               / greatest(length(text), 1)::DOUBLE AS ar
           FROM t)
         SELECT doc_id,
           CASE WHEN $gs = 0 THEN 'und'
                WHEN s_fr = $gs THEN 'fr'
                WHEN s_es = $gs THEN 'es'
                WHEN s_en = $gs THEN 'en'
                ELSE 'de' END AS lang_pred,
           round(least(len(toks)::DOUBLE / 20.0, 1.0) * 0.25
               + greatest(1.0 - pr * 4.0, 0.0) * 0.25
               + ar * 0.25
               + least(s_all * 3.0, 1.0) * 0.25, 6) AS quality,
           len(list_filter(regexp_split_to_array(
                 regexp_replace(regexp_replace(lower(trim(text)),
                   '(\\pL)(\\pN)', '\\1 \\2', 'g'), '(\\pN)(\\pL)', '\\1 \\2', 'g'),
                 '[^\\pL\\pN]+'), x -> len(x) > 0)) AS n_subwords
         FROM sc ORDER BY doc_id"""
      }),
    Case("q28_fingerprint", (s, dir) => {
      // md5-based fingerprints so DuckDB can recompute them bit-for-bit;
      // the xxhash64/rolling-kernel family stays spec-tested (KernelSpec).
      val d = read(s, dir, "documents")
      d.select(col("doc_id"),
        TextFunctions.md5Fingerprint(col("text")).as("fp"),
        TextFunctions.minShingleMd5(col("text"), 3).as("min_shingle_fp"),
        // arithmetic, not size(shingles(...)): building the shingle-string
        // array just to count it costs interpreted O(tokens²) per row
        greatest(TextFunctions.tokenCount(col("text")) - lit(2), lit(0)).as("n_shingles"))
        .gateOrdered(col("doc_id"))
    },
      // q29's LSH candidate net (16 bands × 2 bits) empirically contains every
      // true top-5 neighbor at oracle scale, so the re-ranked output equals
      // exact brute force — same oracle as q21.
      // md5 normalization mirror of TextFunctions.tokens: trim → lower →
      // split \s+; shingles = 3-token windows joined by single spaces.
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN []
                       ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
           FROM documents)
         SELECT doc_id,
                md5(array_to_string(t, ' ')) AS fp,
                CASE WHEN len(t) >= 3
                     THEN list_aggregate(list_transform(range(1, len(t) - 1),
                          i -> md5(array_to_string(t[i:i+2], ' '))), 'min')
                     ELSE NULL END AS min_shingle_fp,
                CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS n_shingles
         FROM toks ORDER BY doc_id"""),

    // ---- corpus boilerplate mining: top n-grams -------------------------
    Case("q71_top_ngrams", (s, dir) => {
      CorpusStats.topNgrams(read(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 50)
        .gateOrdered(col("total_count").desc, col("ngram"))
    },
      // Top trigrams by corpus occurrence count, n-gram string tiebreak
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         grams AS (
           SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS ngram
           FROM t, unnest(range(1, len(toks) - 1)) AS u(i))
         SELECT ngram, count(*)::BIGINT AS total_count,
                count(DISTINCT doc_id)::BIGINT AS doc_freq
         FROM grams GROUP BY ngram
         ORDER BY total_count DESC, ngram LIMIT 50"""),

    // ---- per-source curation scorecard ----------------------------------
    Case("q199_source_scorecard", (s, dir) => {
      CorpusStats.sourceScorecard(read(s, dir, "documents"), "text",
          sourceCol = "source", langCol = "lang", targetLang = "en")
        .gateOrdered(col("source"))
    },
      // Per-source scorecard: md5 fingerprint distinct (q28's normalized
      // form), token counts (q19's tokenizer), integer-exact shares
      """WITH t AS (
           SELECT source, lang,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
           FROM documents)
         SELECT source,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT md5(array_to_string(toks, ' ')))::BIGINT AS n_distinct,
           round(1.0 - count(DISTINCT md5(array_to_string(toks, ' ')))
                 / count(*)::DOUBLE, 4) AS dup_rate,
           sum(len(toks))::BIGINT AS total_tokens,
           round(avg(len(toks)), 2) AS avg_tokens,
           round(avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 4) AS target_lang_share
         FROM t GROUP BY source ORDER BY source"""),

    // ---- ingestion novelty curve (CorpusStats) ----------------------------
    // new-fingerprint rate per doc_id batch; the cumulative distinct count
    // rides the deterministic-bucket cumsum (no global window at any scale)
    Case("q224_novelty_curve", (s, dir) => {
      CorpusStats.noveltyCurve(read(s, dir, "documents"), "doc_id", "text",
          batchSize = 100L)
        .orderBy(col("batch"))
    },
      // Fingerprint = the q150 whitespace-normalized md5; first-seen batch
      // per fingerprint, inclusive running distinct count over the batch
      // spine (batches are distinct rows, so RANGE ≡ ROWS here)
      """WITH b AS (SELECT floor(doc_id / 100)::BIGINT AS batch,
                  md5(array_to_string(
                    CASE WHEN length(trim(text)) = 0 THEN []
                         ELSE string_split_regex(lower(trim(text)), '\s+') END,
                    ' ')) AS fp
                FROM documents),
         pb AS (SELECT batch, count(*)::BIGINT AS n_docs FROM b GROUP BY 1),
         fs AS (SELECT fp, min(batch) AS batch FROM b GROUP BY 1),
         nn AS (SELECT batch, count(*)::BIGINT AS n_new FROM fs GROUP BY 1),
         c AS (SELECT pb.batch, pb.n_docs, coalesce(nn.n_new, 0)::BIGINT AS n_new
               FROM pb LEFT JOIN nn USING (batch))
         SELECT batch, n_docs, n_new,
           (sum(n_new) OVER (ORDER BY batch))::BIGINT AS cum_new,
           round(n_new::DOUBLE / n_docs, 6) AS novelty_rate
         FROM c ORDER BY batch"""),

    // ---- source/lang concentration report (CorpusStats) ------------------
    // Gini + HHI + top-share of docs per language — the diversity gate a
    // mixture designer reads before trusting per-source weights
    Case("q233_concentration", (s, dir) => {
      CorpusStats.concentrationReport(read(s, dir, "documents"), "lang")
        .select(cols("n_rows", "n_keys") ++
          rounded(6)("gini", "hhi", "top_share"): _*)
    },
      // Gini over per-key counts: sum of i*x_i is order-invariant within
      // tied counts, so any deterministic row_number tiebreak agrees with
      // the closed-form tie-block expression the Spark side evaluates
      """WITH c AS (SELECT lang, count(*)::BIGINT AS c FROM documents
                    WHERE lang IS NOT NULL GROUP BY 1),
         w AS (SELECT c, row_number() OVER (ORDER BY c, lang) AS i FROM c),
         t AS (SELECT count(*)::DOUBLE AS k, sum(c)::DOUBLE AS tt,
                 sum(i * c::DOUBLE) AS s,
                 sum(c::DOUBLE * c::DOUBLE) AS q,
                 max(c)::DOUBLE AS mx
               FROM w)
         SELECT tt::BIGINT AS n_rows, k::BIGINT AS n_keys,
           CASE WHEN k > 1
                THEN round(2 * s / (k * tt) - (k + 1) / k, 6) + 0.0 END AS gini,
           round(q / (tt * tt), 6) + 0.0 AS hhi,
           round(mx / tt, 6) + 0.0 AS top_share
         FROM t"""),

    // ---- per-source boilerplate heads (CorpusStats) -----------------------
    // scraper-template detector: the share of a source one normalized
    // 40-char document head dominates; keyed window only, never global
    Case("q237_boilerplate", (s, dir) => {
      CorpusStats.boilerplateHeads(read(s, dir, "documents"),
          "text", "source", headChars = 40)
        .orderBy(col("source"))
    },
      // head fingerprint = first 40 chars of lowercased whitespace-collapsed
      // text; top head per source by (count desc, head asc)
      """WITH h AS (SELECT source,
             substr(regexp_replace(lower(trim(text)), '[ \t\n\r]+', ' ', 'g'),
               1, 40) AS hd
           FROM documents WHERE source IS NOT NULL),
         c AS (SELECT source, hd, count(*)::BIGINT AS hc FROM h GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY hc DESC, hd ASC) AS rk FROM c)
         SELECT source, sum(hc)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_distinct_heads,
           max(CASE WHEN rk = 1 THEN hc END)::BIGINT AS top_count,
           round(max(CASE WHEN rk = 1 THEN hc END) / sum(hc)::DOUBLE, 6)
             AS top_share,
           max(CASE WHEN rk = 1 THEN hd END) AS top_head
         FROM r GROUP BY source ORDER BY source"""),

    // ---- per-source lexical KL vs the corpus (CorpusStats) ----------------
    // token-distribution distinctiveness over the global top-200 vocab +
    // OTHER bucket; one corpus scan, |sources|x(V+1)-bounded aggregation
    Case("q245_source_divergence", (s, dir) => {
      CorpusStats.sourceDivergence(read(s, dir, "documents"),
          "text", "source", topV = 200)
        .select(cols("source", "n_tokens") ++ rounded(6)("kl_nats"): _*)
        .orderBy(col("source"))
    },
      // same q72-convention tokenizer; OTHER bucket keyed by '' (impossible
      // as a real token), global support contains every source's support
      """WITH toks AS (SELECT source,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents WHERE source IS NOT NULL),
         vocab AS (SELECT term FROM (
             SELECT term, count(*) AS c FROM toks
             GROUP BY 1 ORDER BY c DESC, term ASC LIMIT 200)),
         b AS (SELECT t.source,
                 CASE WHEN v.term IS NOT NULL THEN t.term ELSE '' END AS t
               FROM toks t LEFT JOIN vocab v ON t.term = v.term),
         ps AS (SELECT source, t, count(*)::BIGINT AS cs FROM b GROUP BY 1, 2),
         ts AS (SELECT source, sum(cs) AS ts FROM ps GROUP BY 1),
         g AS (SELECT t, sum(cs) AS cg FROM ps GROUP BY 1),
         tg AS (SELECT sum(cg) AS tg FROM g)
         SELECT ps.source, max(ts.ts)::BIGINT AS n_tokens,
           round(greatest(sum((cs / ts.ts::DOUBLE)
             * ln((cs / ts.ts::DOUBLE) / (cg / tg.tg::DOUBLE))), 0.0), 6)
             + 0.0 AS kl_nats
         FROM ps JOIN ts USING (source) JOIN g USING (t) CROSS JOIN tg
         GROUP BY ps.source ORDER BY ps.source"""),

    // ---- Chao1 + Good-Turing vocabulary richness (CorpusStats) ------------
    // unseen-vocabulary estimators from the term frequency-of-frequencies
    Case("q252_vocab_richness", (s, dir) => {
      CorpusStats.vocabRichness(read(s, dir, "documents"), "text")
        .select(cols("n_tokens", "n_types", "f1", "f2") ++ rounded(4)("chao1") ++
          rounded(6)("gt_unseen_mass"): _*)
    },
      // frequency-of-frequencies -> Chao1 + Good-Turing; same q72 tokenizer
      """WITH toks AS (SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         tc AS (SELECT term, count(*)::BIGINT c FROM toks GROUP BY 1),
         ff AS (SELECT c, count(*)::BIGINT m FROM tc GROUP BY 1),
         t AS (SELECT sum(c * m)::BIGINT n_tokens, sum(m)::BIGINT n_types,
                 coalesce(sum(CASE WHEN c = 1 THEN m END), 0)::BIGINT f1,
                 coalesce(sum(CASE WHEN c = 2 THEN m END), 0)::BIGINT f2
               FROM ff)
         SELECT n_tokens, n_types, f1, f2,
           round(n_types + f1::DOUBLE * (f1 - 1) / (2.0 * (f2 + 1)), 4)
             + 0.0 AS chao1,
           (CASE WHEN n_tokens > 0
             THEN round(f1::DOUBLE / n_tokens, 6) END) + 0.0
             AS gt_unseen_mass
         FROM t"""),

    // ---- Hill tail-index of the term-frequency law (CorpusStats) ----------
    // the heavy-tail exponent from the top-50 order statistics
    Case("q253_hill_tail", (s, dir) => {
      // k = 20: the synthetic corpus draws from a ~31-term pool, so the
      // estimator needs k + 1 <= vocabulary
      CorpusStats.hillTailIndex(read(s, dir, "documents"), "text", k = 20)
        .select(cols("k", "x_tail") ++ rounded(6)("alpha"): _*)
    },
      // top-51 counts under (count desc, term asc); boundary ties contribute
      // ln(1)=0 so the 51-row sum equals the top-50 sum exactly
      """WITH toks AS (SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         tc AS (SELECT term, count(*)::BIGINT c FROM toks GROUP BY 1),
         top AS (SELECT c FROM tc ORDER BY c DESC, term ASC LIMIT 21),
         t AS (SELECT min(c)::BIGINT xt FROM top),
         s AS (SELECT sum(ln(c::DOUBLE / t.xt)) ls FROM top, t)
         SELECT 20 AS k, t.xt AS x_tail,
           (CASE WHEN s.ls > 0 THEN round(20.0 / s.ls, 6) END) + 0.0 AS alpha
         FROM t, s"""),

    // ---- per-source lexical diversity: TTR + hapax share (CorpusStats) ----
    Case("q257_lexical_diversity", (s, dir) => {
      CorpusStats.lexicalDiversity(read(s, dir, "documents"), "text", "source")
        .select(Seq(col("group").as("source"), col("n_tokens"), col("n_types")) ++
          rounded(6)("ttr", "hapax_rate"): _*)
        .orderBy(col("source"))
    },
      // per-source type/token/hapax counts; same q72 tokenizer
      """WITH toks AS (SELECT source, unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents WHERE source IS NOT NULL),
         gt AS (SELECT source, term, count(*)::BIGINT c FROM toks
                GROUP BY 1, 2),
         g AS (SELECT source, sum(c)::BIGINT n_tokens,
                 count(*)::BIGINT n_types,
                 sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT hapax
               FROM gt GROUP BY 1)
         SELECT source, n_tokens, n_types,
           round(n_types::DOUBLE / n_tokens, 6) + 0.0 AS ttr,
           round(hapax::DOUBLE / n_types, 6) + 0.0 AS hapax_rate
         FROM g ORDER BY source"""),

    // ---- term burstiness: Fisher dispersion of top terms (CorpusStats) ----
    // variance-to-mean of per-doc counts, zeros in closed form
    Case("q258_burstiness", (s, dir) => {
      CorpusStats.termBurstiness(read(s, dir, "documents"), "doc_id", "text",
          k = 20)
        .select(cols("term", "total", "doc_freq") ++ rounded(6)("vmr"): _*)
        .gateOrdered(col("total").desc, col("term"))
    },
      // per-(term, doc) counts; zero docs enter the dispersion in closed
      // form (VMR = sq/total - total/D)
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         td AS (SELECT term, doc_id, count(*)::BIGINT c FROM toks
                GROUP BY 1, 2),
         dd AS (SELECT count(*)::BIGINT nd FROM documents),
         t AS (SELECT term, sum(c)::BIGINT total, count(*)::BIGINT doc_freq,
                 sum(c * c)::BIGINT sq FROM td GROUP BY 1)
         SELECT term, total, doc_freq,
           round(sq::DOUBLE / total - total::DOUBLE / dd.nd, 6) + 0.0 AS vmr
         FROM t, dd ORDER BY total DESC, term ASC LIMIT 20"""),

    // ---- top-k bigram collocations by PMI (CorpusStats) --------------------
    // adjacent-pair pointwise mutual information — linear in corpus size,
    // never a co-occurrence pair explosion
    Case("q263_pmi", (s, dir) => {
      CorpusStats.pmiCollocations(read(s, dir, "documents"), "text",
          k = 20, minCount = 5)
        .select(cols("w1", "w2", "count") ++ rounded(6)("pmi", "npmi"): _*)
        .gateOrdered(col("count").desc, col("w1"), col("w2"))
    },
      // adjacent bigram + unigram counts -> PMI/NPMI for the top-20
      // (count desc, bigram asc) qualifying pairs
      """WITH t AS (SELECT list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0) toks
           FROM documents),
         bi AS (SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) bigram
               FROM t WHERE len(toks) >= 2),
         bc AS (SELECT bigram, count(*)::BIGINT c12 FROM bi GROUP BY 1),
         un AS (SELECT unnest(toks) term FROM t),
         uc AS (SELECT term, count(*)::BIGINT cu FROM un GROUP BY 1),
         tot AS (SELECT (SELECT sum(c12) FROM bc)::BIGINT nb,
                   (SELECT sum(cu) FROM uc)::BIGINT nu),
         top AS (SELECT bigram, c12, split_part(bigram, ' ', 1) w1,
                   split_part(bigram, ' ', 2) w2
                 FROM bc WHERE c12 >= 5
                 ORDER BY c12 DESC, bigram ASC LIMIT 20)
         SELECT w1, w2, c12 AS "count",
           round(ln((c12 / nb::DOUBLE)
             / ((u1.cu / nu::DOUBLE) * (u2.cu / nu::DOUBLE))), 6) + 0.0
             AS pmi,
           (CASE WHEN -ln(c12 / nb::DOUBLE) > 0 THEN
             round(ln((c12 / nb::DOUBLE)
               / ((u1.cu / nu::DOUBLE) * (u2.cu / nu::DOUBLE)))
               / (-ln(c12 / nb::DOUBLE)), 6) END) + 0.0 AS npmi
         FROM top JOIN uc u1 ON u1.term = top.w1
           JOIN uc u2 ON u2.term = top.w2 CROSS JOIN tot
         ORDER BY "count" DESC, w1, w2"""),

    // ---- Heaps'-law vocabulary growth fit (CorpusStats) -------------------
    // first-occurrence curve over the doc_id-ordered token stream at 10
    // checkpoints + the closed-form log-log OLS. The synthetic corpus's
    // 31-token vocabulary saturates before the first checkpoint (flat
    // curve, fit undefined), so the query appends one per-doc unique
    // token — the id-minting corpus shape the operator exists to flag
    Case("q285_heaps_law", (s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" uid"), col("doc_id")))
      CorpusStats.heapsLaw(docs, "doc_id", "text", checkpoints = 10)
        .select(cols("i", "n_prefix", "v_types") ++
          rounded(6)("beta", "log_k", "r2"): _*)
        .gateOrdered(col("i"))
    },
      // same doc_id-ordered token positions, first-occurrence minima,
      // checkpoint prefix counts and log-log OLS
      """WITH t AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(
                    text || ' uid' || doc_id::VARCHAR)), '\s+'),
                    x -> len(x) > 0) toks
                FROM documents),
         d AS (SELECT doc_id, toks, len(toks) len FROM t),
         o AS (SELECT doc_id, toks,
                 coalesce(sum(len) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) doff
               FROM d),
         tok AS (SELECT doff + i gpos, toks[i] term
                FROM o, unnest(range(1, len(toks) + 1)) r(i)),
         fo AS (SELECT term, min(gpos) fp FROM tok GROUP BY 1),
         nt AS (SELECT sum(len)::BIGINT n FROM d),
         spine AS (SELECT i::INT i, (i * n) // 10 np
                FROM nt, unnest(range(1, 11)) s(i)),
         curve AS (SELECT s.i, s.np, count(fo.term)::BIGINT v
                FROM spine s LEFT JOIN fo ON fo.fp <= s.np GROUP BY 1, 2),
         pts AS (SELECT ln(np::DOUBLE) x, ln(v::DOUBLE) y FROM curve
                WHERE np > 0 AND v > 0),
         mm AS (SELECT avg(x) mx, avg(y) my FROM pts),
         ss AS (SELECT sum((x - mx) * (x - mx)) sxx,
                 sum((x - mx) * (y - my)) sxy,
                 sum((y - my) * (y - my)) syy
               FROM pts, mm),
         fit AS (SELECT CASE WHEN sxx > 0 AND syy > 0 THEN sxy / sxx END beta,
                 CASE WHEN sxx > 0 AND syy > 0 THEN my - sxy / sxx * mx END lk,
                 CASE WHEN sxx > 0 AND syy > 0
                   THEN sxy * sxy / (sxx * syy) END r2
               FROM ss, mm)
         SELECT i, np AS n_prefix, v AS v_types,
           round(beta, 6) + 0.0 AS beta, round(lk, 6) + 0.0 AS log_k,
           round(r2, 6) + 0.0 AS r2
         FROM curve, fit ORDER BY i"""),

    // ---- inequality panel over per-user event loads (CorpusStats) ---------
    // Theil/Atkinson/CV2 from one moment pass on the keyed count table
    Case("q331_inequality", (s, dir) => {
      val perUser = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      CorpusStats.inequalityPanel(perUser, "c")
        .select(cols("n") ++ rounded(6)("mean", "theil_t", "atkinson_1", "cv2"): _*)
    },
      // one moment pass over the positive per-user loads
      """WITH u AS (SELECT count(*)::DOUBLE x FROM events
                WHERE user_id IS NOT NULL GROUP BY user_id),
         m AS (SELECT count(*)::BIGINT n, sum(x) sx, sum(x * ln(x)) sxlx,
                 sum(ln(x)) slx, sum(x * x) sxx
               FROM u WHERE x > 0)
         SELECT n, round(sx / n, 6) + 0.0 AS mean,
           round(sxlx / sx - ln(sx / n), 6) + 0.0 AS theil_t,
           round(1 - exp(slx / n) / (sx / n), 6) + 0.0 AS atkinson_1,
           round(((sxx - sx * (sx / n)) / (n - 1)) / pow(sx / n, 2), 6)
             + 0.0 AS cv2
         FROM m"""),

    // ---- Kneser-Ney bigram LM perplexity by language (CorpusStats) --------
    // train on even docs, score odd docs: the perplexity-filtering signal;
    // every probability is a ratio of exact counts, replayed bit-identically
    Case("q298_kn_bigram", (s, dir) => {
      val docs = read(s, dir, "documents").filter(col("lang").isNotNull)
      CorpusStats.knBigramPerplexity(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", "lang")
        .select(cols("lang", "n_docs", "n_bigrams") ++ rounded(6)("avg_nll") ++
          rounded(4)("ppl"): _*)
        .gateOrdered(col("lang"))
    },
      // identical bigram extraction (toks[i], toks[i+1]), count tables,
      // interpolated-KN formula with the same discount and floor
      """WITH dd AS (SELECT doc_id, lang,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> len(x) > 0) toks
                FROM documents WHERE lang IS NOT NULL),
         tb AS (SELECT toks[i] v, toks[i+1] w
                FROM dd, unnest(range(1, len(toks))) r(i)
                WHERE doc_id % 2 = 0),
         bc AS (SELECT v, w, count(*)::BIGINT cvw FROM tb GROUP BY 1, 2),
         ctx AS (SELECT v, sum(cvw)::BIGINT cv, count(*)::BIGINT n1v
                FROM bc GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT tbn FROM bc),
         cont AS (SELECT w, count(*)::DOUBLE / (SELECT tbn FROM tot) pc
                FROM bc GROUP BY 1),
         te AS (SELECT doc_id, lang, toks[i] v, toks[i+1] w
                FROM dd, unnest(range(1, len(toks))) r(i)
                WHERE doc_id % 2 = 1),
         j AS (SELECT te.doc_id, te.lang,
                 greatest(CASE WHEN ctx.cv IS NOT NULL AND ctx.cv > 0 THEN
                     (greatest(coalesce(bc.cvw, 0)::DOUBLE - 0.75, 0)
                      + 0.75 * ctx.n1v * coalesce(cont.pc, 0)) / ctx.cv
                   ELSE coalesce(cont.pc, 0) END, 1e-10) p
               FROM te
               LEFT JOIN bc ON te.v = bc.v AND te.w = bc.w
               LEFT JOIN ctx ON te.v = ctx.v
               LEFT JOIN cont ON te.w = cont.w)
         SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_bigrams,
           round(avg(-ln(p)), 6) + 0.0 AS avg_nll,
           round(exp(avg(-ln(p))), 4) + 0.0 AS ppl
         FROM j GROUP BY 1 ORDER BY 1"""),

    // ---- OOV rate vs a reference vocabulary (CorpusStats) -----------------
    // top-500 English terms as the vocab; per-language coverage gate
    Case("q241_oov_rate", (s, dir) => {
      val docs = read(s, dir, "documents")
      val ref = docs.filter(col("lang") === "en")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(500)
      CorpusStats.oovRate(docs, "text", "lang", ref, "term")
        .select(cols("lang", "n_tokens", "n_oov") ++ rounded(6)("oov_rate"): _*)
        .orderBy(col("lang"))
    },
      // top-500 en vocabulary (count desc, term asc — deterministic cut),
      // per-lang token coverage; same q72-convention tokenizer
      """WITH toks AS (SELECT lang,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents WHERE lang IS NOT NULL),
         ref AS (SELECT term FROM (
             SELECT term, count(*) AS cnt FROM toks WHERE lang = 'en'
             GROUP BY 1 ORDER BY cnt DESC, term ASC LIMIT 500)),
         m AS (SELECT t.lang, t.term, (r.term IS NULL) AS oov
               FROM toks t LEFT JOIN ref r ON t.term = r.term)
         SELECT lang, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN oov THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           round(sum(CASE WHEN oov THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6)
             + 0.0 AS oov_rate
         FROM m GROUP BY lang ORDER BY lang"""),

    // ---- trending terms between snapshots --------------------------------
    Case("q115_trending_terms", (s, dir) => {
      val docs = read(s, dir, "documents")
      CorpusStats.trendingTerms(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text", k = 50)
    },
      // Smoothed log rate ratio per term between snapshot halves; the
      // 6-dp-rounded score is the ranking key on both engines so the k
      // boundary survives last-ulp ln() differences
      """WITH t AS (
           SELECT doc_id % 2 = 0 AS is_a,
                  unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> len(x) > 0)) AS term
           FROM documents),
         c AS (SELECT term, count(*) FILTER (WHERE is_a) AS n_a,
                      count(*) FILTER (WHERE NOT is_a) AS n_b
               FROM t GROUP BY term),
         tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c),
         s AS (SELECT term, n_a, n_b,
                 round(ln(((n_b + 1) / (tb + 1)) / ((n_a + 1) / (ta + 1))), 6) AS score
               FROM c CROSS JOIN tot)
         SELECT term, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b, score
         FROM s ORDER BY score DESC, term LIMIT 50"""),

    // ---- categorical diversity per source -------------------------------
    Case("q129_source_entropy", (s, dir) => {
      CorpusStats.categoricalDiversity(read(s, dir, "documents"),
          "source", "lang")
        .select(col("group"), col("n_rows"), col("n_categories"),
          round(col("entropy"), 6).as("entropy"),
          round(col("gini"), 6).as("gini"))
        .orderBy(col("group"))
    },
      // Shannon entropy (nats) + Gini over each source's language mix;
      // shares from exact integer counts, terms rounded 6dp
      """WITH c AS (SELECT source, lang, count(*) AS n FROM documents
                    WHERE source IS NOT NULL AND lang IS NOT NULL
                    GROUP BY 1, 2),
         t AS (SELECT source, sum(n) AS tot FROM c GROUP BY source)
         SELECT c.source AS "group", t.tot::BIGINT AS n_rows,
                count(*)::BIGINT AS n_categories,
                round(-sum((n / tot) * ln(n / tot)), 6) AS entropy,
                round(1.0 - sum((n / tot) * (n / tot)), 6) AS gini
         FROM c JOIN t USING (source)
         GROUP BY c.source, t.tot ORDER BY "group""""),

    // ---- corpus-level shingle overlap -----------------------------------
    Case("q130_corpus_overlap", (s, dir) => {
      val docs = read(s, dir, "documents")
      CorpusStats.corpusOverlap(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text", shingleSize = 3)
    },
      // Distinct 3-shingle sets per half (hashes Spark-side ≡ strings
      // oracle-side, q88's established equivalence), set-overlap counts
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         ga AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 2 = 0),
         gb AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 2 <> 0)
         SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
                n_i::BIGINT AS n_intersect,
                (n_a + n_b - n_i)::BIGINT AS n_union,
                round(n_i::DOUBLE / (n_a + n_b - n_i), 6) AS jaccard
         FROM (SELECT (SELECT count(*) FROM ga) AS n_a,
                      (SELECT count(*) FROM gb) AS n_b,
                      (SELECT count(*) FROM ga JOIN gb USING (g)) AS n_i)"""),

    // ---- sentence segmentation stats ------------------------------------
    Case("q135_sentence_stats", (s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.sentenceCount(col("text")).as("n_sentences"),
          TextFunctions.tokenCount(col("text")).as("n_words"))
        .withColumn("words_per_sentence",
          when(col("n_sentences") > 0,
            round(col("n_words").cast("double") / col("n_sentences"), 4)))
        .orderBy(col("doc_id"))
    },
      // Sentence contract mirror: split on [.!?]+ runs, count segments with
      // an ASCII alphanumeric; words from the shared tokenizer mirror
      """WITH t AS (
           SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '[.!?]+'),
               s -> regexp_matches(s, '[A-Za-z0-9]'))) AS n_sentences,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS n_words
           FROM documents)
         SELECT doc_id, n_sentences::INT AS n_sentences, n_words::INT AS n_words,
                CASE WHEN n_sentences > 0
                     THEN round(n_words::DOUBLE / n_sentences, 4) END
                  AS words_per_sentence
         FROM t ORDER BY doc_id"""),

    // ---- readability scoring --------------------------------------------
    Case("q136_readability", (s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          round(TextFunctions.readingEase(col("text")), 4).as("reading_ease"))
        .gateOrdered(col("doc_id"))
    },
      // Flesch proxy: same sentence/word mirrors + [aeiouy]+ vowel-group
      // count (regexp_extract_all ≡ regexp_count, non-overlapping greedy)
      """WITH t AS (
           SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '[.!?]+'),
               s -> regexp_matches(s, '[A-Za-z0-9]'))) AS s,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS w,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS v
           FROM documents)
         SELECT doc_id,
                CASE WHEN s > 0 AND w > 0
                     THEN round(206.835 - 1.015 * (w::DOUBLE / s)
                                - 84.6 * (v::DOUBLE / w), 4) END
                  AS reading_ease
         FROM t ORDER BY doc_id"""),

    // ---- winnowed (MOSS) document signatures ----------------------------
    Case("q143_winnow", (s, dir) => {
      // signature size + extremal fingerprints pin the selected-hash SET
      // per document cross-engine, not just its cardinality
      CorpusStats.winnowedFingerprints(read(s, dir, "documents"),
          "doc_id", "text", k = 3, window = 4)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
        .gateOrdered(col("doc_id"))
    },
      // Winnowing re-derived in SQL: same md5 k-gram hashes (k=3), same
      // w=4 window minima (1-based positions here, 0-based in Spark — the
      // complete-window filters pos <= m-3 / pos <= m-4 are equivalent),
      // same distinct-per-doc signature; min/max pin the actual hash values
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_transform(range(1, len(toks) - 1),
                  i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
           FROM t WHERE len(toks) >= 3),
         e AS (
           SELECT doc_id, len(hs) AS m,
                  unnest(list_transform(range(1, len(hs) + 1),
                    i -> struct_pack(pos := i, h := hs[i]))) AS u
           FROM s WHERE len(hs) >= 4),
         w AS (
           SELECT doc_id, m, u.pos AS pos,
                  min(u.h) OVER (PARTITION BY doc_id ORDER BY u.pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM e),
         f AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= m - 3)
         SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp, max(fp) AS max_fp
         FROM f GROUP BY doc_id ORDER BY doc_id"""),

    // ---- char-LM perplexity quality scoring -----------------------------
    Case("q145_charlm_score", (s, dir) => {
      // LM trained on the English slice, every document scored against it —
      // the CCNet-style perplexity filter; non-English docs score high nll
      val docs = read(s, dir, "documents")
      val lm = CorpusStats.charLmCounts(docs.filter(col("lang") === "en"), "text", n = 3)
      CorpusStats.charLmScore(docs, "doc_id", "text", lm, n = 3)
        .select(col("id").as("doc_id"), col("n_grams"),
          round(col("avg_nll"), 4).as("avg_nll"))
        .gateOrdered(col("doc_id"))
    },
      // Char-trigram LM re-derived in SQL: same ASCII normalization
      // (strip-then-lower — [A-Za-z] kept, all else one space), same add-1
      // smoothed conditional P(c3|c1c2) with vocab 27, natural log in both
      """WITH nd AS (
           SELECT doc_id, lang,
                  trim(lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g'))) AS norm
           FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(norm) - 2, 0) + 1),
                    i -> substr(norm, i, 3))) AS gram
           FROM nd),
         ref AS (
           SELECT gram, count(*) AS gc
           FROM (SELECT unnest(list_transform(range(1, greatest(len(norm) - 2, 0) + 1),
                   i -> substr(norm, i, 3))) AS gram
                 FROM nd WHERE lang = 'en')
           GROUP BY gram),
         pre AS (
           SELECT substr(gram, 1, 2) AS prefix, sum(gc) AS pc
           FROM ref GROUP BY 1),
         scored AS (
           SELECT g.doc_id, count(*) AS n_grams,
                  avg(-ln((coalesce(ref.gc, 0) + 1.0) /
                          (coalesce(pre.pc, 0) + 27.0))) AS nll
           FROM g LEFT JOIN ref ON g.gram = ref.gram
                  LEFT JOIN pre ON substr(g.gram, 1, 2) = pre.prefix
           GROUP BY g.doc_id)
         SELECT d.doc_id, coalesce(s.n_grams, 0)::BIGINT AS n_grams,
                round(s.nll, 4) AS avg_nll
         FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
         ORDER BY d.doc_id"""),

    // ---- tokenizer fertility per language -------------------------------
    Case("q159_fertility", (s, dir) => {
      CorpusStats.tokenizerFertility(read(s, dir, "documents"), "lang", "text")
        .orderBy(col("lang"))
    },
      // Words via \s+ tokens, subwords via the q27 lookaround-free transition
      // mirror; fertility on the exact integer sums
      """WITH t AS (
           SELECT lang,
                  len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                      x -> len(x) > 0)) AS nw,
                  len(list_filter(regexp_split_to_array(
                      regexp_replace(regexp_replace(lower(trim(text)),
                        '(\pL)(\pN)', '\1 \2', 'g'), '(\pN)(\pL)', '\1 \2', 'g'),
                      '[^\pL\pN]+'), x -> len(x) > 0)) AS ns
           FROM documents)
         SELECT lang, count(*)::BIGINT AS n_docs, sum(nw)::BIGINT AS n_words,
                sum(ns)::BIGINT AS n_subwords,
                CASE WHEN sum(nw) > 0
                     THEN round(sum(ns)::DOUBLE / sum(nw)::DOUBLE, 4) END AS fertility
         FROM t GROUP BY lang ORDER BY lang"""),

    // ---- winnow candidate pairs (MOSS overlap report) -------------------
    Case("q167_winnow_pairs", (s, dir) => {
      CorpusStats.winnowCandidates(read(s, dir, "documents"),
          "doc_id", "text", k = 3, window = 4, minShared = 2)
        .select(col("id_a"), col("id_b"), col("n_shared"))
        .gateOrdered(col("id_a"), col("id_b"))
    },
      // q143's winnowed signatures self-joined on the fingerprint: pairs
      // sharing >= 2 selected hashes, with the shared count
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_transform(range(1, len(toks) - 1),
                  i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
           FROM t WHERE len(toks) >= 3),
         e AS (
           SELECT doc_id, len(hs) AS m,
                  unnest(list_transform(range(1, len(hs) + 1),
                    i -> struct_pack(pos := i, h := hs[i]))) AS u
           FROM s WHERE len(hs) >= 4),
         w AS (
           SELECT doc_id, m, u.pos AS pos,
                  min(u.h) OVER (PARTITION BY doc_id ORDER BY u.pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM e),
         f AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= m - 3)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
         FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY id_a, id_b"""),

    // ---- Zipf head-vocabulary fit ---------------------------------------
    Case("q95_zipf_fit", (s, dir) => {
      CorpusStats.zipfFit(read(s, dir, "documents"), "text", topK = 1000)
        .select(col("n_terms"), round(col("slope"), 4).as("slope"),
          round(col("intercept"), 4).as("intercept"),
          round(col("r2"), 4).as("r2"))
    },
      // Zipf fit: identical rank construction (count desc, term asc) and
      // natural-log regression on both engines
      """WITH t AS (
           SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ex AS (SELECT unnest(toks) AS term FROM t),
         c AS (SELECT term, count(*) AS c FROM ex GROUP BY term),
         top AS (SELECT term, c FROM c ORDER BY c DESC, term LIMIT 1000),
         r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rank
               FROM top)
         SELECT count(*)::BIGINT AS n_terms,
                round(regr_slope(ln(c), ln(rank)), 4) AS slope,
                round(regr_intercept(ln(c), ln(rank)), 4) AS intercept,
                round(regr_r2(ln(c), ln(rank)), 4) AS r2
         FROM r"""),

    // ---- per-document novelty (corpus-unique shingle share) -------------
    Case("q88_novelty_score", (s, dir) => {
      CorpusStats.noveltyScore(read(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_unique"),
          round(col("novelty"), 4).as("novelty"))
        .orderBy(col("doc_id"))
    },
      // Novelty: df over distinct 3-shingles (hashes Spark-side, strings
      // oracle-side — identical absent 64-bit collisions), per-doc share of
      // df=1 shingles
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         ex AS (SELECT doc_id, unnest(sh) AS h FROM s),
         dfq AS (SELECT h, count(*) AS df FROM ex GROUP BY h)
         SELECT e.doc_id, count(*)::BIGINT AS n_shingles,
                sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
                round(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
                  AS novelty
         FROM ex e JOIN dfq d USING (h)
         GROUP BY e.doc_id ORDER BY e.doc_id"""),

    // ---- unigram cross-entropy (statistical quality proxy) --------------
    Case("q79_unigram_loss", (s, dir) => {
      CorpusStats.unigramLogLoss(read(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("log_loss"), 4).as("log_loss"),
          round(col("perplexity"), 4).as("perplexity"))
        .gateOrdered(col("doc_id"))
    },
      // Unigram cross-entropy under the corpus's own distribution; mean of
      // -ln p over token occurrences, perplexity = exp(mean)
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
         cnt AS (SELECT term, count(*) AS c FROM ex GROUP BY term),
         tot AS (SELECT count(*) AS n_total FROM ex),
         doc AS (
           SELECT e.doc_id, count(*) AS n_tokens,
                  sum(-ln(c.c::DOUBLE / tot.n_total)) AS s
           FROM ex e JOIN cnt c USING (term) CROSS JOIN tot
           GROUP BY e.doc_id)
         SELECT doc_id, n_tokens::BIGINT AS n_tokens,
                round(s / n_tokens, 4) AS log_loss,
                round(exp(s / n_tokens), 4) AS perplexity
         FROM doc ORDER BY doc_id"""),

    // ---- shingle document-frequency histogram (cap diagnostic) ----------
    Case("q76_df_histogram", (s, dir) => {
      CorpusStats.shingleDfHistogram(read(s, dir, "documents"), "text",
        shingleSize = 3)
        .orderBy(col("doc_freq"))
    },
      // Distinct-shingle doc-frequency histogram (8-byte hashes Spark-side,
      // strings oracle-side — identical absent 64-bit collisions)
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         dfq AS (
           SELECT h, count(*) AS doc_freq
           FROM (SELECT doc_id, unnest(sh) AS h FROM s) e GROUP BY h)
         SELECT doc_freq, count(*)::BIGINT AS n_shingles
         FROM dfq GROUP BY doc_freq ORDER BY doc_freq"""))
}
