package graft.catalog

import org.apache.spark.sql.functions._

import graft.functions.TextClean
import graft.operators.{Decontaminate, Packing, Repetition, Sampling}

import Support._

/** Catalog family: training-data curation: sampling and mixtures
  * ([[graft.operators.Sampling]]), packing and chunking, decontamination,
  * repetition and quality rules, text cleaning and PII, and the
  * end-to-end corpus pipeline. */
object CorpusCuration {

  /** Shared q191/q197 oracle CTEs: the DSIR hashed-unigram pipeline up to
    * the per-document weight `pd(doc_id, n_toks, wt)` — see
    * [[graft.operators.Sampling.dsirWeights]] for the contract. */
  private val dsirCtes: String =
    """tb AS (
           SELECT doc_id, lang = 'en' AS t,
             (length(term)*31 + ascii(term)) % 64 AS b
           FROM (SELECT doc_id, lang,
                   unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> len(x) > 0)) AS term
                 FROM documents) s),
         hist AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS ct,
                    sum(CASE WHEN t THEN 0 ELSE 1 END)::BIGINT AS cr
                  FROM tb GROUP BY b),
         tot AS (SELECT sum(ct)::BIGINT AS tt, sum(cr)::BIGINT AS tr FROM hist),
         llr AS (SELECT g.b::INT AS b,
                   CAST(ln((coalesce(h.ct, 0) + 1.0) / (tot.tt + 64.0))
                      - ln((coalesce(h.cr, 0) + 1.0) / (tot.tr + 64.0))
                     AS DECIMAL(28,15)) AS w
                 FROM range(64) g(b) LEFT JOIN hist h ON h.b = g.b CROSS JOIN tot),
         dc AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM tb GROUP BY doc_id, b),
         pd AS (SELECT dc.doc_id, sum(dc.c)::BIGINT AS n_toks,
                  CAST(sum(CAST(dc.c AS DECIMAL(9,0)) * llr.w) AS DOUBLE) AS wt
                FROM dc JOIN llr USING (b) GROUP BY dc.doc_id)"""

  /** q358 oracle: the raking (IPF) loop replayed as unrolled CTEs — one
    * row-scaling and one column-scaling half-step per iteration, cell
    * masses re-quantized to DECIMAL(28,12) after each half-step so every
    * margin total is an exact decimal sum on both engines. */
  private def rakeCtes(iterations: Int, shares: Seq[(String, Double)])
      : String = {
    val vals = shares.map { case (k, v) => s"('$k', $v::DOUBLE)" }
      .mkString(", ")
    val base = s"""ce AS (SELECT lang r, source c, count(*)::BIGINT n
           FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         nn AS (SELECT sum(n)::BIGINT nt FROM ce),
         kk AS (SELECT count(DISTINCT c)::BIGINT k FROM ce),
         tr (r, sh) AS (VALUES $vals),
         w0 AS (SELECT r, c, n, CAST(n AS DECIMAL(28,12)) w FROM ce)"""
    val iters = (1 to iterations).map { i =>
      val prev = s"w${i - 1}"
      s"""rr$i AS (SELECT r, sum(w) tot FROM $prev GROUP BY 1),
         aa$i AS (SELECT t.r, t.c, t.n,
             CAST(round(CAST(t.w AS DOUBLE)
               * (sh * nt / CAST(tot AS DOUBLE)), 12)
               AS DECIMAL(28,12)) w
           FROM $prev t JOIN rr$i USING (r) JOIN tr USING (r), nn),
         cc$i AS (SELECT c, sum(w) tot FROM aa$i GROUP BY 1),
         w$i AS (SELECT t.r, t.c, t.n,
             CAST(round(CAST(t.w AS DOUBLE)
               * (1.0::DOUBLE / k * nt / CAST(tot AS DOUBLE)), 12)
               AS DECIMAL(28,12)) w
           FROM aa$i t JOIN cc$i USING (c), kk, nn)"""
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  val cases: Seq[Case] = Seq(
    // ---- PII rate report (detection side of the redaction pass) ---------
    // synthetic docs carry no PII, so deterministic addresses/URLs/IPs are
    // injected keyed on doc_id and the per-language PII rate is reported;
    // the oracle replays injection, the redaction chain and the counts
    Case("q213_pii_stats", (s, dir) => {
      val docs = read(s, dir, "documents")
      val injected = docs.withColumn("text2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" see http://site"), col("doc_id"), lit(".example/page"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" from 10.0.0."), col("doc_id") % 255)).otherwise(lit(""))))
      injected
        .withColumn("p", graft.functions.TextClean.piiCounts(col("text2")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.n_urls")).as("n_urls"),
          sum(col("p.n_emails")).as("n_emails"),
          sum(col("p.n_ips")).as("n_ips"),
          sum(when(col("p.n_pii") > 0, 1L).otherwise(0L)).as("docs_with_pii"))
        .orderBy(col("lang"))
    },
      // PII replay: identical injection, the SAME ordered redaction chain
      // (URL consumes the email inside it), placeholder-split counting
      // the redaction chain is GENERATED from TextClean.piiPatterns (one
      // definition for Spark and the oracle); sums CAST to BIGINT so the
      // oracle engine's integer-sum widening (HUGEINT in DuckDB) cannot
      // change the hashed value text
      s"""WITH inj AS (
           SELECT lang,
                  text
                  || CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || doc_id || '@example.com' ELSE '' END
                  || CASE WHEN doc_id % 11 = 0
                          THEN ' see http://site' || doc_id || '.example/page' ELSE '' END
                  || CASE WHEN doc_id % 13 = 0
                          THEN ' from 10.0.0.' || (doc_id % 255) ELSE '' END AS t
           FROM documents),
         red AS (
           SELECT lang,
                  ${graft.functions.TextClean.redactSqlChain("t")} AS r
           FROM inj),
         cnt AS (
           SELECT lang,
                  len(string_split(r, '<URL>')) - 1 AS u,
                  len(string_split(r, '<EMAIL>')) - 1 AS e,
                  len(string_split(r, '<IP>')) - 1 AS i,
                  len(string_split(r, '<PHONE>')) - 1 AS p
           FROM red)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(u) AS BIGINT) AS n_urls,
                CAST(sum(e) AS BIGINT) AS n_emails,
                CAST(sum(i) AS BIGINT) AS n_ips,
                CAST(sum(CASE WHEN u + e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS docs_with_pii
         FROM cnt GROUP BY lang ORDER BY lang"""),

    // ---- training-data sampling (Sampling extensions) -------------------
    Case("q42_hash_split", (s, dir) => {
      Sampling.hashSplit(read(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },
      // split boundaries interpolated from Sampling.splitThresholdsHex — the
      // md5-hex bucket contract is the single source of truth on both sides
      {
        val th = Sampling.splitThresholdsHex(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val cases = th.init.map { case (name, hex) =>
          s"WHEN substring(md5(doc_id::VARCHAR), 1, 4) < '$hex' THEN '$name'"
        }.mkString(" ")
        s"""SELECT doc_id, CASE $cases ELSE '${th.last._1}' END AS split
          FROM documents ORDER BY doc_id"""
      }),
    Case("q43_domain_quota", (s, dir) => {
      Sampling.quotaPerGroup(read(s, dir, "documents"), Seq("source"),
        Seq(col("n_chars").desc, col("doc_id").asc), k = 3)
        .select(col("source"), col("doc_id"), col("n_chars"), col("quota_rank"))
        .orderBy(col("source"), col("quota_rank"))
    },
      """SELECT source, doc_id, n_chars, quota_rank FROM (
           SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS quota_rank
           FROM documents) t
         WHERE quota_rank <= 3 ORDER BY source, quota_rank"""),
    Case("q44_data_mixture", (s, dir) => {
      val docs = read(s, dir, "documents")
      Sampling.weightedMixture(Seq(
        docs.filter(col("lang") === "en") -> 0.5,
        docs.filter(col("lang") =!= "en") -> 0.25), "doc_id", salt = "mix:")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      {
        val en = Sampling.fractionHex(0.5)
        val rest = Sampling.fractionHex(0.25)
        s"""SELECT doc_id, lang FROM documents
          WHERE (lang = 'en' AND substring(md5('mix:' || doc_id::VARCHAR), 1, 4) < '$en')
             OR (lang <> 'en' AND substring(md5('mix:' || doc_id::VARCHAR), 1, 4) < '$rest')
          ORDER BY doc_id"""
      }),

    // ---- sequence packing (Packing extension) ---------------------------
    Case("q47_pack_sequences", (s, dir) => {
      // small blockSize so the hierarchical (block-level) prefix-sum path
      // actually exercises multiple blocks at verify scale
      Packing.packByBudget(
          read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 65536, blockSize = 512)
        .select(col("doc_id"), col("n_chars"), col("start_offset"), col("pack_id"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, n_chars, start_offset, (start_offset // 65536)::BIGINT AS pack_id
         FROM (SELECT doc_id, n_chars,
                 coalesce(sum(n_chars) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
               FROM documents) t
         ORDER BY doc_id"""),

    // ---- decontamination (Decontaminate extension) ----------------------
    Case("q48_decontaminate", (s, dir) => {
      // held-out "eval set" = every 20th doc; flag train docs sharing
      // word-3-grams with it (test-set leakage detection)
      val docs = read(s, dir, "documents")
      Decontaminate.ngramOverlap(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "text",
          shingleSize = 3)
        .select(col("id").as("train_id"), col("n_ngrams"), col("n_hit"),
          round(col("contam_frac"), 4).as("contam_frac"), col("contaminated"))
        .orderBy(col("train_id"))
    },
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
               THEN list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               ELSE []::VARCHAR[] END AS sh
           FROM t),
         te AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 20 = 0),
         tr AS (SELECT doc_id, sh FROM s WHERE doc_id % 20 <> 0),
         hit AS (
           SELECT doc_id, count(*) AS n_hit
           FROM (SELECT doc_id, unnest(sh) AS g FROM tr) x JOIN te USING (g)
           GROUP BY doc_id)
         SELECT tr.doc_id AS train_id, len(tr.sh) AS n_ngrams,
           coalesce(hit.n_hit, 0) AS n_hit,
           round(CASE WHEN len(tr.sh) = 0 THEN 0.0
             ELSE coalesce(hit.n_hit, 0)::DOUBLE / len(tr.sh)::DOUBLE END, 4) AS contam_frac,
           coalesce(hit.n_hit, 0) >= 1 AS contaminated
         FROM tr LEFT JOIN hit USING (doc_id) ORDER BY train_id"""),

    // ---- intra-doc repetition (Repetition extension) --------------------
    Case("q49_repetition", (s, dir) => {
      Repetition.stats(read(s, dir, "documents"), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("type_token_ratio"), 4).as("type_token_ratio"),
          round(col("dup_ngram_frac"), 4).as("dup_ngram_frac"),
          round(col("top_ngram_share"), 4).as("top_ngram_share"))
        .gateOrdered(col("doc_id"))
    },
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE []::VARCHAR[] END AS grams
           FROM t),
         tops AS (
           SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS share
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, unnest(grams) AS gram FROM g) x
                 GROUP BY doc_id, gram) y
           GROUP BY doc_id)
         SELECT g.doc_id, len(g.toks) AS n_tokens,
           round(CASE WHEN len(g.toks) = 0 THEN 0.0
             ELSE len(list_distinct(g.toks))::DOUBLE / len(g.toks)::DOUBLE END, 4)
             AS type_token_ratio,
           round(CASE WHEN len(g.grams) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(g.grams))::DOUBLE / len(g.grams)::DOUBLE END, 4)
             AS dup_ngram_frac,
           round(coalesce(tops.share, 0.0), 4) AS top_ngram_share
         FROM g LEFT JOIN tops USING (doc_id) ORDER BY g.doc_id"""),

    // ---- flagship composition: the full training-corpus pipeline --------
    Case("q52_corpus_pipeline", (s, dir) => {
      // quality gate → decontaminate vs held-out eval split → per-source
      // quota cap → sequence packing: every stage is one of the library's
      // oracle-checked operators, composed end-to-end
      val docs = read(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 20 === 0)
      val train = docs.filter(col("doc_id") % 20 =!= 0)
      val quality = train.filter(
        Repetition.typeTokenRatio(col("text")) >= 0.40 &&
        Repetition.topNgramShare(col("text"), 3) <= 0.05)
      val clean = Decontaminate.removeContaminated(quality, "doc_id", "text",
        evalSet, "text", shingleSize = 3, minOverlap = 10)
      val capped = Sampling.quotaPerGroup(
        clean.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), Seq(col("n_chars").desc, col("doc_id").asc), k = 20)
      Packing.packByBudget(capped, "doc_id", "n_chars",
          budget = 16384, blockSize = 256)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("quota_rank"), col("pack_id"))
        .orderBy(col("doc_id"))
    },
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE []::VARCHAR[] END AS grams
           FROM t),
         tops AS (
           SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS share
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, unnest(grams) AS gram FROM g) x
                 GROUP BY doc_id, gram) y
           GROUP BY doc_id),
         m AS (
           SELECT g.doc_id,
             CASE WHEN len(g.toks) = 0 THEN 0.0
               ELSE len(list_distinct(g.toks))::DOUBLE / len(g.toks)::DOUBLE END AS ttr,
             coalesce(tops.share, 0.0) AS share
           FROM g LEFT JOIN tops USING (doc_id)),
         te AS (SELECT DISTINCT unnest(grams) AS gm FROM g WHERE doc_id % 20 = 0),
         hit AS (
           SELECT doc_id, count(*) AS n_hit
           FROM (SELECT doc_id, unnest(list_distinct(grams)) AS gm
                 FROM g WHERE doc_id % 20 <> 0) x JOIN te USING (gm)
           GROUP BY doc_id),
         base AS (
           SELECT d.doc_id, d.source, d.n_chars
           FROM documents d
           JOIN m ON d.doc_id = m.doc_id
           LEFT JOIN hit ON d.doc_id = hit.doc_id
           WHERE d.doc_id % 20 <> 0 AND m.ttr >= 0.40 AND m.share <= 0.05
             AND coalesce(hit.n_hit, 0) < 10),
         capped AS (
           SELECT * FROM (
             SELECT base.*, row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS quota_rank
             FROM base) z
           WHERE quota_rank <= 20),
         packed AS (
           SELECT capped.*,
             coalesce(sum(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
           FROM capped)
         SELECT doc_id, source, n_chars, quota_rank,
           (start_offset // 16384)::BIGINT AS pack_id
         FROM packed ORDER BY doc_id"""),

    // ---- stratified sampling (Sampling extension) -----------------------
    Case("q53_stratified_sample", (s, dir) => {
      Sampling.stratifiedSample(read(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25),
        defaultFraction = 0.1)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // thresholds are floor(fraction*65536) in hex: 0.8→cccc, 0.5→8000,
      // 0.25→4000, 0.1→1999 (Sampling.fractionHex is the source of truth)
      """SELECT doc_id, source FROM documents
         WHERE substring(md5(doc_id::VARCHAR), 1, 4) <
           CASE source WHEN 'src0' THEN 'cccc' WHEN 'src1' THEN '8000'
                       WHEN 'src2' THEN '4000' ELSE '1999' END
         ORDER BY doc_id"""),

    // ---- epoch mixture (upsampling; Sampling extension) -----------------
    Case("q55_epoch_mixture", (s, dir) => {
      // curated (en) docs repeated 1.5 epochs, the rest downsampled to 0.5
      val docs = read(s, dir, "documents")
      Sampling.epochMixture(Seq(
          docs.filter(col("lang") === "en") -> 1.5,
          docs.filter(col("lang") =!= "en") -> 0.5), "doc_id")
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    },
      // epoch 0 = full en pass; epoch 1 = en half sample (md5 bucket <
      // 0.5*65536 = 0x8000); non-en gets a single half-sampled epoch 0
      """SELECT doc_id, lang, epoch FROM (
           SELECT doc_id, lang, 0 AS epoch FROM documents WHERE lang = 'en'
           UNION ALL
           SELECT doc_id, lang, 1 FROM documents
           WHERE lang = 'en' AND substring(md5(doc_id::VARCHAR), 1, 4) < '8000'
           UNION ALL
           SELECT doc_id, lang, 0 FROM documents
           WHERE lang <> 'en' AND substring(md5(doc_id::VARCHAR), 1, 4) < '8000') t
         ORDER BY doc_id, epoch"""),

    // ---- text cleaning (TextClean) --------------------------------------
    Case("q59_text_clean", (s, dir) => {
      // synthesize PII + decomposed-unicode text deterministically from row
      // values, then run the full hygiene pass; the oracle rebuilds the
      // same strings and cleans them with DuckDB's RE2 + nfc_normalize
      val synth = concat(
        substring(col("text"), 1, 40),
        lit(" caf"), lit("\u0065\u0301"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://site"), (col("doc_id") % 7).cast("string"),
        lit(".io at 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
      read(s, dir, "documents")
        .select(col("doc_id"), TextClean.clean(synth).as("cleaned"))
        .orderBy(col("doc_id"))
    },
      // the redaction chain is GENERATED from TextClean.piiPatterns (one
      // definition for Spark and the oracle), then the explicit-class
      // whitespace squash (TextClean.wsClass — `\s` differs between Java
      // regex and RE2 on \x0B)
      s"""WITH synth AS (
           SELECT doc_id,
             substring(text, 1, 40) || ' caf' || 'e' || chr(769) ||
             ' contact user' || doc_id::VARCHAR ||
             '@example.com via https://site' || (doc_id % 7)::VARCHAR ||
             '.io at 10.0.' || (doc_id % 256)::VARCHAR || '.1' AS t
           FROM documents)
         SELECT doc_id,
           trim(regexp_replace(
             ${graft.functions.TextClean.redactSqlChain("nfc_normalize(t)")},
             '[${graft.functions.TextClean.wsClass}]+', ' ', 'g')) AS cleaned
         FROM synth ORDER BY doc_id"""),

    // ---- uniform per-group sampling (Sampling extension) ----------------
    Case("q61_uniform_per_group", (s, dir) => {
      Sampling.uniformPerGroup(read(s, dir, "documents"), Seq("source"),
        "doc_id", k = 5)
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy(col("source"), col("sample_rank"))
    },
      """SELECT source, doc_id, sample_rank FROM (
           SELECT source, doc_id, row_number() OVER (
             PARTITION BY source
             ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS sample_rank
           FROM documents) t
         WHERE sample_rank <= 5
         ORDER BY source, sample_rank"""),

    // ---- DSIR importance weights toward a target domain -----------------
    // target = the English slice; every document scored by the smoothed
    // log-likelihood ratio of its hashed token features (engine-portable
    // bucket hash; decimal-exact per-doc sums — see Sampling.dsirWeights)
    Case("q191_dsir_weights", (s, dir) => {
      Sampling.dsirWeights(read(s, dir, "documents"), "doc_id", "text",
          isTarget = col("lang") === "en", numBuckets = 64)
        .select(col("id").as("doc_id"), col("n_toks"), col("dsir_weight"))
        .gateOrdered(col("doc_id"))
    },
      // DSIR weights: same portable bucket hash ((len*31+codepoint) mod 64),
      // same add-one smoothing, and the same DECIMAL(28,15) log-ratio cast
      // so the per-doc sum is exact on both engines (Sampling.dsirWeights)
      s"""WITH $dsirCtes
         SELECT d.doc_id, pd.n_toks, round(pd.wt, 6) AS dsir_weight
         FROM documents d LEFT JOIN pd USING (doc_id)
         ORDER BY doc_id"""),

    // ---- deterministic word-dropout augmentation ------------------------
    Case("q204_word_dropout", (s, dir) => {
      Sampling.wordDropout(read(s, dir, "documents"), "doc_id", "text",
          p = 0.1, salt = "wd:")
        .select(col("id").as("doc_id"), col("n_orig"), col("n_kept"),
          col("text_aug"))
        .gateOrdered(col("doc_id"))
    },
      // Word dropout: the same md5 keep-decision per (salt, id, pos, token),
      // survivors re-joined in position order on both engines
      {
        val thr = Sampling.fractionHex(0.1)
        s"""WITH t AS (SELECT doc_id, list_filter(
              regexp_split_to_array(trim(lower(text)), '\\s+'),
              x -> len(x) > 0) AS toks
            FROM documents),
          tk AS (SELECT doc_id, i AS pos, toks[i] AS tok
                 FROM t, unnest(range(1, len(toks) + 1)) u(i)),
          kept AS (SELECT doc_id, pos, tok FROM tk
                   WHERE substr(md5('wd:' || doc_id || ':' || pos || ':' || tok),
                         1, 4) >= '$thr'),
          agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                    string_agg(tok, ' ' ORDER BY pos) AS text_aug
                  FROM kept GROUP BY doc_id)
          SELECT t.doc_id, len(t.toks)::BIGINT AS n_orig,
                 coalesce(agg.n_kept, 0)::BIGINT AS n_kept,
                 coalesce(agg.text_aug, '') AS text_aug
          FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""
      }),

    // ---- DSIR selection: Gumbel-top-k over the importance logits --------
    // the resampling endpoint the weights exist for: draw 100 docs with
    // probability ∝ exp(weight) — Gumbel-max keys (log-domain E–S), the
    // right construction for logits that are legitimately negative
    Case("q197_dsir_select", (s, dir) => {
      val w = Sampling.dsirWeights(read(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", numBuckets = 64)
      Sampling.gumbelTopK(w, "id", "dsir_weight", k = 100, salt = "dsir:")
        .select(col("id").as("doc_id"), col("dsir_weight"),
          round(col("sample_key"), 6).as("sample_key"))
        .orderBy(col("doc_id"))
    },
      // DSIR selection endpoint: Gumbel-top-k over the same weights —
      // key = logit − ln(−ln(u)), u from the q102-pattern md5 uniform
      s"""WITH $dsirCtes,
         w AS (SELECT d.doc_id, round(pd.wt, 6) AS dsir_weight
               FROM documents d JOIN pd USING (doc_id)),
         g AS (SELECT doc_id, dsir_weight,
                 dsir_weight - ln(-ln(
                   (('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 8))::UBIGINT + 0.5)
                   / 4294967296.0)) AS k
               FROM w)
         SELECT doc_id, dsir_weight, round(k, 6) AS sample_key
         FROM (SELECT * FROM g ORDER BY k DESC, doc_id LIMIT 100) t
         ORDER BY doc_id"""),

    // ---- leakage-safe split (near-dups share a side) --------------------
    Case("q83_leakage_safe_split", (s, dir) => {
      Sampling.leakageSafeSplit(read(s, dir, "documents"), "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), threshold = 0.7)
        .select(col("doc_id"), col("component"), col("split"))
        .gateOrdered(col("doc_id"))
    },
      // Near-dup components (q63's recursive CTE) hashed with q42's split
      // boundaries: every cluster member shares the component, hence the side
      {
        val th = Sampling.splitThresholdsHex(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val cases = th.init.map { case (name, hex) =>
          s"WHEN substring(md5(component::VARCHAR), 1, 4) < '$hex' THEN '$name'"
        }.mkString(" ")
        s"""WITH RECURSIVE pairs AS (${jaccardPairsSql(0.7)}),
          e AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
          reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
          comp AS (SELECT a AS doc_id, min(b) AS component
                   FROM reach GROUP BY a)
          SELECT doc_id, component,
                 CASE $cases ELSE '${th.last._1}' END AS split
          FROM comp ORDER BY doc_id"""
      }),

    // ---- weighted sampling without replacement --------------------------
    Case("q102_weighted_sample", (s, dir) => {
      Sampling.weightedSample(read(s, dir, "documents"), "doc_id", "n_chars",
          k = 100, salt = "ws:")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // Efraimidis–Spirakis keys from the same md5-uint32 construction:
      // u = (first-8-hex-as-uint32 + 1) / 2^32, key = ln(u) / weight,
      // top-k by key — membership is the compared output
      """SELECT doc_id, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars,
                  ln((('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 8))::UBIGINT + 0.5)
                     / 4294967296.0) / n_chars AS k
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
           ORDER BY k DESC LIMIT 100) t
         ORDER BY doc_id"""),

    // ---- Gopher quality-rule panel: per-rule pass counts (Curation) -------
    // the published MassiveText thresholds as codegen'd projections; one
    // summary row of per-rule pass counts
    Case("q319_gopher_rules", (s, dir) => {
      graft.operators.Curation
        .gopherQualityFlags(read(s, dir, "documents")
          .filter(col("text").isNotNull), "doc_id", "text")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pass_words").cast("int")).as("pass_words"),
          sum(col("pass_mean_word").cast("int")).as("pass_mean_word"),
          sum(col("pass_symbol").cast("int")).as("pass_symbol"),
          sum(col("pass_bullet").cast("int")).as("pass_bullet"),
          sum(col("pass_ellipsis").cast("int")).as("pass_ellipsis"),
          sum(col("pass_alpha").cast("int")).as("pass_alpha"),
          sum(col("pass_stopwords").cast("int")).as("pass_stopwords"),
          sum(col("pass").cast("int")).as("pass_all"),
          (round(avg(col("mean_word_len")), 6) + lit(0.0))
            .as("avg_mean_word_len"))
    },
      // identical counting conventions: \s+ tokens of the trimmed lowered
      // text, chr(10) lines, replace-based symbol counts
      """WITH d AS (SELECT doc_id, text, lower(trim(text)) lt FROM documents
                WHERE text IS NOT NULL),
         s AS (SELECT doc_id, text,
                 list_filter(regexp_split_to_array(lt, '\s+'),
                   w -> len(w) > 0) toks,
                 string_split(text, chr(10)) ls
               FROM d),
         sig AS (SELECT len(toks) nw,
                 CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE len(regexp_replace(lower(trim(text)), '\s+', '',
                     'g'))::DOUBLE / len(toks) END mw,
                 (len(text) - len(replace(text, '#', ''))
                   + len(text) - len(replace(text, '…', ''))
                   + (len(text) - len(replace(text, '...', ''))) / 3.0)
                   / greatest(len(toks), 1) sym,
                 len(list_filter(ls, l -> regexp_matches(trim(l),
                   '^[-*•‣▪]')))::DOUBLE / greatest(len(ls), 1) bf,
                 len(list_filter(ls, l -> regexp_matches(trim(l),
                   '(\.\.\.|…)$')))::DOUBLE / greatest(len(ls), 1) ef,
                 len(list_filter(toks, w -> regexp_matches(w,
                   '\p{L}')))::DOUBLE / greatest(len(toks), 1) af,
                 len(list_intersect(toks, ['the', 'be', 'to', 'of', 'and',
                   'that', 'have', 'with'])) sh
               FROM s)
         SELECT count(*)::BIGINT n_docs,
           sum(CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0
             END)::BIGINT pass_words,
           sum(CASE WHEN mw >= 3 AND mw <= 10 THEN 1 ELSE 0
             END)::BIGINT pass_mean_word,
           sum(CASE WHEN sym < 0.1 THEN 1 ELSE 0 END)::BIGINT pass_symbol,
           sum(CASE WHEN bf < 0.9 THEN 1 ELSE 0 END)::BIGINT pass_bullet,
           sum(CASE WHEN ef < 0.3 THEN 1 ELSE 0 END)::BIGINT pass_ellipsis,
           sum(CASE WHEN af > 0.8 THEN 1 ELSE 0 END)::BIGINT pass_alpha,
           sum(CASE WHEN sh >= 2 THEN 1 ELSE 0 END)::BIGINT pass_stopwords,
           sum(CASE WHEN nw >= 50 AND nw <= 100000 AND mw >= 3 AND mw <= 10
             AND sym < 0.1 AND bf < 0.9 AND ef < 0.3 AND af > 0.8
             AND sh >= 2 THEN 1 ELSE 0 END)::BIGINT pass_all,
           round(avg(mw), 6) + 0.0 AS avg_mean_word_len
         FROM sig"""),

    // ---- C4 line filter over synthesized line structure (Curation) --------
    // the corpus has no newlines, so the query manufactures them with a
    // deterministic replace; the operator's keep/drop rules do the rest
    Case("q320_c4_filter", (s, dir) => {
      val docs = read(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("text2", replace(col("text"), lit(" table "), lit(".\n")))
      graft.operators.Curation.c4LineFilter(docs, "doc_id", "text2")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text_clean")).as("clean_md5"))
        .gateOrdered(col("doc_id"))
    },
      // the same synthesized '.\n' line structure, then the C4 keep rules
      // per line and doc-level lorem/brace drops
      """WITH d AS (SELECT doc_id,
                  replace(text, ' table ', '.' || chr(10)) t
                FROM documents WHERE text IS NOT NULL),
         f AS (SELECT doc_id, lower(t) low FROM d
               WHERE lower(t) NOT LIKE '%lorem ipsum%'
                 AND lower(t) NOT LIKE '%{%'),
         k AS (SELECT doc_id, string_split(low, chr(10)) ls,
                 list_filter(string_split(low, chr(10)), l ->
                   regexp_matches(trim(l), '[.!?"”]$')
                   AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
                   AND l NOT LIKE '%javascript%') kept
               FROM f)
         SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept,
           md5(array_to_string(kept, chr(10))) AS clean_md5
         FROM k WHERE len(kept) > 0 ORDER BY doc_id"""),

    // ---- balanced class downsampling by md5 rank (Sampling) ---------------
    // every lang kept at the smallest lang's count; id-sum pins the
    // exact kept SET, not just its size
    Case("q340_balanced_downsample", (s, dir) => {
      val bal = Sampling.downsampleToBalance(
        read(s, dir, "documents").filter(col("lang").isNotNull),
        "lang", "doc_id")
      bal.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .gateOrdered(col("lang"))
    },
      // the same salted md5 per-class rank; id-sum pins the kept set
      """WITH m AS (SELECT min(c) mn FROM
                (SELECT count(*) c FROM documents WHERE lang IS NOT NULL
                 GROUP BY lang)),
         r AS (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5('balance' || '|' || doc_id::VARCHAR),
                     doc_id) rk
               FROM documents WHERE lang IS NOT NULL)
         SELECT lang, count(*)::BIGINT n_kept, sum(doc_id)::BIGINT id_sum
         FROM r, m WHERE rk <= mn GROUP BY lang ORDER BY lang"""),

    // ---- Raking: lang x source mixture weights via IPF (Sampling) ---------
    // hit TWO margins at once (40% en / 15% each other lang, uniform
    // sources): 5 alternating-scaling rounds on the cell table, masses
    // re-quantized to 12-dp decimals so both engines iterate identically
    Case("q358_rake_weights", (s, dir) => {
      Sampling.rakeWeights(read(s, dir, "documents"), "lang", "source",
          Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
            "zh" -> 0.15), iterations = 5)
        .select(col("row_key"), col("col_key"), col("n"),
          (round(col("weight"), 6) + lit(0.0)).as("weight"),
          (round(col("cell_share"), 6) + lit(0.0)).as("cell_share"))
        .gateOrdered(col("row_key"), col("col_key"))
    },
      // the IPF replay (rakeCtes): 5 unrolled alternating-scaling rounds,
      // exact decimal margin sums, 12-dp re-quantization per half-step
      s"""WITH ${rakeCtes(iterations = 5,
        Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
          "zh" -> 0.15))}
         SELECT r AS row_key, c AS col_key, n,
           round(CAST(w AS DOUBLE) / n, 6) + 0.0 AS weight,
           round(CAST(w AS DOUBLE) / nt, 6) + 0.0 AS cell_share
         FROM w5, nn ORDER BY row_key, col_key"""),

    // ---- Neyman allocation: spend a 1000-doc budget across languages ------
    // n_h ~ N_h * s_h(n_chars): big AND internally-variable strata get
    // more; the design table a stratified corpus sampler starts from
    Case("q378_neyman_allocation", (s, dir) => {
      Sampling.neymanAllocation(read(s, dir, "documents"), "lang",
          "n_chars", budget = 1000L)
        .select(col("stratum"), col("n_rows"),
          (round(col("stddev"), 6) + lit(0.0)).as("stddev"),
          (round(col("weight_share"), 6) + lit(0.0)).as("weight_share"),
          col("alloc"),
          (round(col("rate"), 6) + lit(0.0)).as("rate"))
        .gateOrdered(col("stratum"))
    },
      // per-stratum exact integer moment sums, textbook sample stddev,
      // HALF_UP-rounded budget*share clamped to the stratum size
      """WITH g AS (SELECT lang stratum, count(*)::BIGINT n_rows,
                 sum(n_chars::HUGEINT) s, sum(n_chars::HUGEINT * n_chars) q
               FROM documents
               WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         m AS (SELECT stratum, n_rows,
                 CASE WHEN n_rows < 2 THEN 0.0
                   ELSE sqrt(greatest(0.0,
                     (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                       * CAST(s AS DOUBLE) / n_rows) / (n_rows - 1.0)))
                   END sd
               FROM g),
         t AS (SELECT sum(n_rows * sd) tw FROM m),
         f AS (SELECT stratum, n_rows, sd,
                 CASE WHEN tw > 0 THEN n_rows * sd / tw ELSE 0.0 END wsh
               FROM m, t),
         a AS (SELECT *, least(n_rows,
                 round(1000 * wsh)::BIGINT) alloc FROM f)
         SELECT stratum, n_rows, round(sd, 6) + 0.0 AS stddev,
           round(wsh, 6) + 0.0 AS weight_share, alloc,
           round(CAST(alloc AS DOUBLE) / n_rows, 6) + 0.0 AS rate
         FROM a ORDER BY stratum"""),

    // ---- Kish design effect: what the q358 raking weights cost ------------
    // deff = 1 + cv^2 of the unit weights; n_eff is what the weighted
    // corpus is WORTH for any weighted mean — the honest price tag every
    // reweighting scheme should publish next to its margins
    Case("q391_design_effect", (s, dir) => {
      val rake = Sampling.rakeWeights(read(s, dir, "documents"), "lang",
        "source", Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
          "fr" -> 0.15, "zh" -> 0.15), iterations = 5)
      Sampling.designEffect(rake, "weight", Some("n"))
        .select(col("n_units"),
          (round(col("sum_w"), 6) + lit(0.0)).as("sum_w"),
          (round(col("deff"), 6) + lit(0.0)).as("deff"),
          (round(col("n_eff"), 6) + lit(0.0)).as("n_eff"),
          (round(col("cv_weights"), 6) + lit(0.0)).as("cv_weights"))
    },
      // the q358 IPF replay (rakeCtes w5), per-cell unit weight w/n, and
      // the 12/9-dp quantized Kish sums
      s"""WITH ${rakeCtes(iterations = 5,
        Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
          "zh" -> 0.15))},
         wu AS (SELECT n, CAST(w AS DOUBLE) / n u FROM w5),
         ag AS (SELECT sum(n)::BIGINT nu,
             CAST(sum(CAST(round(n * u, 12) AS DECIMAL(28,12)))
               AS DOUBLE) s1,
             CAST(sum(CAST(round(n * u * u, 9) AS DECIMAL(28,9)))
               AS DOUBLE) s2
           FROM wu),
         f AS (SELECT nu, s1, s2, nu * s2 / (s1 * s1) deff FROM ag)
         SELECT nu AS n_units, round(s1, 6) + 0.0 AS sum_w,
           round(deff, 6) + 0.0 AS deff,
           round(s1 * s1 / s2, 6) + 0.0 AS n_eff,
           round(sqrt(greatest(deff - 1.0, 0.0)), 6) + 0.0 AS cv_weights
         FROM f"""),

    // ---- survey-weighted mean: what the raked corpus actually measures ----
    // the q358 weights put to work: Hajek mean of n_chars under the
    // lang-margin design with the Taylor-linearized SE
    Case("q400_weighted_mean", (s, dir) => {
      val docs = read(s, dir, "documents")
      val rake = Sampling.rakeWeights(docs, "lang", "source",
          Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
            "zh" -> 0.15), iterations = 5)
        .select(col("row_key"), col("col_key"), col("weight"))
      val joined = docs.join(rake,
        docs("lang") === rake("row_key") &&
          docs("source") === rake("col_key"))
      Sampling.weightedMeanSurvey(joined, "n_chars", "weight")
        .select(col("n"),
          (round(col("sum_w"), 6) + lit(0.0)).as("sum_w"),
          (round(col("wmean"), 6) + lit(0.0)).as("wmean"),
          (round(col("se"), 6) + lit(0.0)).as("se"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    },
      // the q358 IPF replay joined back onto documents by cell, then the
      // two-pass Hajek mean + linearized-residual reduce (ipwAte recipe)
      s"""WITH ${rakeCtes(iterations = 5,
        Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
          "zh" -> 0.15))},
         wu AS (SELECT r, c, CAST(w AS DOUBLE) / n u FROM w5),
         j AS (SELECT d.n_chars y, wu.u w FROM documents d
               JOIN wu ON d.lang = wu.r AND d.source = wu.c),
         m AS (SELECT count(*)::BIGINT n,
             CAST(sum(CAST(round(w, 12) AS DECIMAL(28,12)))
               AS DOUBLE) sw,
             CAST(sum(CAST(round(w * y, 12) AS DECIMAL(28,12)))
               AS DOUBLE) swy
           FROM j),
         mm AS (SELECT n, sw, round(swy / sw, 12) wm FROM m),
         v AS (SELECT CAST(sum(CAST(round((w * (y - wm))
                 * (w * (y - wm)), 9) AS DECIMAL(28,9))) AS DOUBLE) sr
               FROM j, mm),
         f AS (SELECT n, sw, wm,
                 sqrt(greatest(sr, 0.0)) / sw se FROM mm, v)
         SELECT n, round(sw, 6) + 0.0 AS sum_w,
           round(wm, 6) + 0.0 AS wmean, round(se, 6) + 0.0 AS se,
           round(wm - 1.959963985 * se, 6) + 0.0 AS ci_lo,
           round(wm + 1.959963985 * se, 6) + 0.0 AS ci_hi
         FROM f"""),

    // ---- per-group weighted sampling ------------------------------------
    Case("q117_weighted_group_sample", (s, dir) => {
      Sampling.weightedSamplePerGroup(read(s, dir, "documents"),
          Seq("lang"), "doc_id", "n_chars", k = 10, salt = "wg:")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("quota_rank"))
        .orderBy(col("doc_id"))
    },
      // Per-group E-S keys (q102's md5-uint32 construction) ranked by the
      // same (key desc, id) row_number per lang
      """WITH s AS (
           SELECT doc_id, lang, n_chars,
                  ln((('0x' || substr(md5('wg:' || doc_id::VARCHAR), 1, 8))::UBIGINT + 0.5)
                     / 4294967296.0) / n_chars AS k
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         r AS (SELECT doc_id, lang, n_chars,
                 row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id)
                   AS quota_rank
               FROM s)
         SELECT doc_id, lang, n_chars, quota_rank
         FROM r WHERE quota_rank <= 10 ORDER BY doc_id"""),

    // ---- embedding-space decontamination --------------------------------
    Case("q144_embed_decontam", (s, dir) => {
      // test = vec_id < 20; train side includes vec_id 10–19 verbatim, so
      // exactly those rows must flag at cosine ≈ 1 (threshold 0.8 sits in
      // the [0.50, 1.0] gap of the max-cosine distribution — boundary-safe)
      val emb = read(s, dir, "embeddings")
      Decontaminate.embeddingOverlap(
          emb.filter(col("vec_id") >= 10), "vec_id", "embedding",
          emb.filter(col("vec_id") < 20), "embedding",
          threshold = 0.8)
        .select(col("id"), round(col("max_cosine"), 4).as("max_cosine"),
          col("contaminated"))
        .gateOrdered(col("id"))
    },
      // Exact max-cosine per train vector over the broadcast test set
      """SELECT t.vec_id AS id,
                round(max(list_cosine_similarity(
                  t.embedding::DOUBLE[], q.embedding::DOUBLE[])), 4) AS max_cosine,
                max(list_cosine_similarity(
                  t.embedding::DOUBLE[], q.embedding::DOUBLE[])) >= 0.8 AS contaminated
         FROM (SELECT * FROM embeddings WHERE vec_id >= 10) t
         CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q
         GROUP BY t.vec_id ORDER BY id"""),

    // ---- packing efficiency report --------------------------------------
    Case("q96_packing_stats", (s, dir) => {
      val packed = Packing.packByBudget(
        read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", budget = 65536, blockSize = 512)
      Packing.packingStats(packed, "n_chars", budget = 65536)
        .select(col("pack_id"), col("n_docs"), col("total_size"),
          round(col("fill"), 4).as("fill"))
        .orderBy(col("pack_id"))
    },
      // Per-pack rollup of the q47 offset-packing construction
      """WITH p AS (
           SELECT doc_id, n_chars, (start_offset // 65536)::BIGINT AS pack_id
           FROM (SELECT doc_id, n_chars,
                   coalesce(sum(n_chars) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                     AS start_offset
                 FROM documents) t)
         SELECT pack_id, count(*)::BIGINT AS n_docs,
                sum(n_chars)::BIGINT AS total_size,
                round(sum(n_chars)::DOUBLE / 65536, 4) AS fill
         FROM p GROUP BY pack_id ORDER BY pack_id"""),

    // ---- contamination pair attribution ---------------------------------
    Case("q93_contamination_pairs", (s, dir) => {
      // q48's fixture: eval set = every 20th doc; report which eval doc
      // each train doc shares >= 2 distinct word-3-grams with
      val docs = read(s, dir, "documents")
      Decontaminate.contaminationPairs(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
          shingleSize = 3, minShared = 2)
        .gateOrdered(col("train_id"), col("test_id"))
    },
      // Pair attribution over the q48 shingle construction: distinct
      // 3-gram intersection counts per (train, eval) pair
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         te AS (SELECT doc_id AS test_id, unnest(sh) AS g FROM s WHERE doc_id % 20 = 0),
         tr AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM s WHERE doc_id % 20 <> 0)
         SELECT train_id, test_id, count(*)::BIGINT AS n_shared
         FROM tr JOIN te USING (g)
         GROUP BY train_id, test_id
         HAVING count(*) >= 2
         ORDER BY train_id, test_id"""),

    // ---- per-group token budget (mixture in token units) ----------------
    Case("q94_token_budget", (s, dir) => {
      Sampling.tokenBudgetPerGroup(
          read(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("lang"), Seq(col("n_chars").desc, col("doc_id").asc),
          "n_chars", budget = 50000L)
        .orderBy(col("doc_id"))
    },
      // Inclusive running-cost window per lang, biggest-first, hard cap
      """SELECT doc_id, lang, n_chars, budget_used::BIGINT AS budget_used FROM (
           SELECT doc_id, lang, n_chars,
                  sum(n_chars) OVER (PARTITION BY lang
                    ORDER BY n_chars DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) AS budget_used
           FROM documents) t
         WHERE budget_used <= 50000
         ORDER BY doc_id"""),

    // ---- temperature-rebalanced language mixture ------------------------
    Case("q84_temperature_mixture", (s, dir) => {
      Sampling.temperatureMixture(read(s, dir, "documents"), "doc_id", "lang",
        alpha = 0.5, salt = "t:")
        .select(col("doc_id"), col("lang"),
          round(col("keep_rate"), 4).as("keep_rate"))
        .orderBy(col("doc_id"))
    },
      // Temperature rebalancing: rate_g = (n_min/n_g)^(1-alpha); membership
      // is the shared md5-hex bucket contract, threshold rendered in-plan
      // with printf('%04x') on both engines
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         m AS (SELECT min(n) AS nmin FROM c),
         r AS (SELECT lang, pow(nmin::DOUBLE / n::DOUBLE, 0.5) AS rate
               FROM c CROSS JOIN m)
         SELECT d.doc_id, d.lang, round(r.rate, 4) AS keep_rate
         FROM documents d JOIN r USING (lang)
         WHERE r.rate >= 1.0
            OR substring(md5('t:' || d.doc_id::VARCHAR), 1, 4) <
               printf('%04x', CAST(least(floor(r.rate * 65536), 65535) AS BIGINT))
         ORDER BY d.doc_id"""),

    // ---- long-document chunking (pre-packing split) ---------------------
    Case("q74_chunk_documents", (s, dir) => {
      Packing.chunkDocuments(read(s, dir, "documents"), "doc_id", "text",
        maxTokens = 32, overlapTokens = 8)
        .select(col("id").as("doc_id"), col("chunk_index"),
          col("chunk_text"), col("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_index"))
    },
      // Token chunks: 32-token windows every 24 tokens (8-token overlap),
      // short tail included; chunk k spans toks[24k+1 .. min(24k+32, n)]
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0)
         SELECT doc_id, k AS chunk_index,
           array_to_string(toks[k*24+1 : least(k*24+32, n)], ' ') AS chunk_text,
           least(k*24+32, n) - k*24 AS n_chunk_tokens
         FROM d, unnest(range(0, CAST(ceil(n / 24.0) AS BIGINT))) AS u(k)
         ORDER BY doc_id, chunk_index"""))
}
