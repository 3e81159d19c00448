package graft.catalog

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}

import Support._

/** Catalog family: image, audio and video decoding
  * ([[graft.operators.Multimodal]]) and the perceptual-hash near-dup
  * pipelines built on it. */
object Media {

  val cases: Seq[Case] = Seq(
    Case("q30_multimodal_features", (s, dir) => {
      // REAL media round-trip: synthesize a tiny PNG per doc (dimensions +
      // gray level are pure functions of doc_id), decode with javax.imageio,
      // emit what the decoder recovered — DuckDB re-derives the expectation
      // from doc_id alone, so the oracle checks actual decode output.
      val d = read(s, dir, "documents").select(col("doc_id"))
      val media = Multimodal.withGeneratedPng(d, "doc_id",
        pmod(col("doc_id"), lit(13)) + lit(4),
        pmod(col("doc_id"), lit(7)) + lit(3),
        pmod(col("doc_id"), lit(256)))
      Multimodal.decodeImages(media, "media_bytes", "doc_id", featureDim = 16)
        .select(col("id"), col("width"), col("height"),
          round(element_at(col("features"), 1) * 255).cast("int").as("gray"),
          col("decoded"))
        .gateOrdered(col("id"))
    },
      """SELECT doc_id AS id, (doc_id % 13 + 4)::INT AS width,
                (doc_id % 7 + 3)::INT AS height, (doc_id % 256)::INT AS gray,
                true AS decoded
         FROM documents ORDER BY id"""),

    // ---- real image resize (Multimodal) ---------------------------------
    Case("q56_image_resize", (s, dir) => {
      // real PNGs with row-determined dimensions, resized through the real
      // decoder — the post-resize dimensions are pure arithmetic, so the
      // oracle can verify the whole generate→decode→resize loop
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 200)
      val media = Multimodal.withGeneratedPng(
        docs.select(col("doc_id")), "doc_id",
        lit(20) + col("doc_id") % 80, lit(10) + col("doc_id") % 40,
        col("doc_id") % 256)
      Multimodal.resizeImages(media, "media_bytes", "doc_id", maxSide = 32)
        .select(col("id").as("doc_id"), col("width"), col("height"), col("resized"))
        .orderBy(col("doc_id"))
    },
      // mirrors Multimodal.resizeOne: scale = min(1, 32/max(w,h)),
      // dims = max(1, floor(d*scale + 0.5)) — pure IEEE double arithmetic,
      // identical on both engines
      """WITH src AS (
           SELECT doc_id, (20 + doc_id % 80)::INT AS w, (10 + doc_id % 40)::INT AS h
           FROM documents WHERE doc_id <= 200)
         SELECT doc_id,
           CASE WHEN greatest(w, h) <= 32 THEN w
             ELSE greatest(1, CAST(floor(w * (32.0 / greatest(w, h)) + 0.5) AS INT)) END
             AS width,
           CASE WHEN greatest(w, h) <= 32 THEN h
             ELSE greatest(1, CAST(floor(h * (32.0 / greatest(w, h)) + 0.5) AS INT)) END
             AS height,
           true AS resized
         FROM src ORDER BY doc_id"""),

    // ---- real audio decode (Multimodal) ---------------------------------
    Case("q57_audio_decode", (s, dir) => {
      // real PCM WAV sine tones with row-determined frequency/duration/
      // amplitude, decoded back through javax.sound.sampled; the oracle
      // recomputes the exact quantized samples and their RMS in SQL
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 200)
      val media = Multimodal.withGeneratedWav(
        docs.select(col("doc_id")), "doc_id",
        lit(100.0) + (col("doc_id") % 20) * lit(50.0),
        lit(50) + (col("doc_id") % 10) * lit(10),
        lit(0.1) + (col("doc_id") % 9) * lit(0.1))
      Multimodal.decodeAudio(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
          col("duration_ms"), round(col("rms"), 4).as("rms"), col("decoded"))
        .orderBy(col("doc_id"))
    },
      // mirrors withGeneratedWav + decodeAudio: sample s_i =
      // trunc(amp * sin(2*pi*f*i/8000) * 32767) / 32768, rms = sqrt(mean(s^2))
      """WITH src AS (
           SELECT doc_id,
             100.0 + (doc_id % 20) * 50.0 AS f,
             (50 + (doc_id % 10) * 10)::INT AS ms,
             0.1 + (doc_id % 9) * 0.1 AS amp
           FROM documents WHERE doc_id <= 200),
         samples AS (
           SELECT doc_id, f, amp,
             unnest(range(0, (8000 * ms / 1000)::BIGINT)) AS i
           FROM src),
         r AS (
           SELECT doc_id,
             sqrt(avg(pow(trunc(amp * sin(2 * pi() * f * i / 8000.0) * 32767.0)
               / 32768.0, 2))) AS rms
           FROM samples GROUP BY doc_id)
         SELECT src.doc_id, 8000 AS sample_rate, 1 AS channels,
           src.ms::BIGINT AS duration_ms, round(r.rms, 4) AS rms, true AS decoded
         FROM src JOIN r USING (doc_id) ORDER BY src.doc_id"""),

    // ---- real multi-frame extraction (Multimodal "video") ---------------
    Case("q58_video_frames", (s, dir) => {
      // animated GIFs (real multi-frame containers) with row+frame-
      // determined gray levels, decoded frame by frame; the recovered gray
      // level is integer-exact, so the oracle is pure modular arithmetic
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 100)
      val media = Multimodal.withGeneratedGif(
        docs.select(col("doc_id")), "doc_id", frames = 4)
      Multimodal.sampleFramesReal(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("frame_index"),
          col("width"), col("height"),
          round(col("mean_luminance") * 255).cast("long").as("gray"))
        .orderBy(col("doc_id"), col("frame_index"))
    },
      """SELECT doc_id, fi::INT AS frame_index, 16 AS width, 16 AS height,
           ((doc_id * 7 + fi * 13) % 256)::BIGINT AS gray
         FROM (SELECT doc_id, unnest(range(0, 4)) AS fi
               FROM documents WHERE doc_id <= 100) t
         ORDER BY doc_id, frame_index"""),
    // ---- real MP4 container decode (IsoBmff demux + per-sample PNG) -----
    Case("q68_mp4_frames", (s, dir) => {
      // real ISO BMFF files (ftyp/mdat/moov with full sample tables),
      // video track in the QuickTime png codec; the demuxer walks the
      // actual stsd/stsz/stsc/stco boxes and the recovered gray level is
      // integer-exact, so the oracle is pure modular arithmetic
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 100)
      val media = Multimodal.withGeneratedMp4(
        docs.select(col("doc_id")), "doc_id", frames = 4)
      Multimodal.sampleFramesMp4(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("codec"), col("frame_index"),
          col("width"), col("height"),
          round(col("mean_luminance") * 255).cast("long").as("gray"))
        .orderBy(col("doc_id"), col("frame_index"))
    },
      // MP4 demux: gray per (doc, frame) is the generator's modular formula,
      // recovered losslessly through the png-codec samples
      """SELECT doc_id, 'png ' AS codec, fi::INT AS frame_index,
           16 AS width, 16 AS height,
           ((doc_id * 11 + fi * 17) % 256)::BIGINT AS gray
         FROM (SELECT doc_id, unnest(range(0, 4)) AS fi
               FROM documents WHERE doc_id <= 100) t
         ORDER BY doc_id, frame_index"""),

    // ---- Motion-JPEG MP4 decode (real lossy-codec samples) --------------
    Case("q173_mjpeg_frames", (s, dir) => {
      // same container + demux as q68 but the samples are REAL JPEG
      // bitstreams (QuickTime Motion-JPEG): uniform-gray frames survive
      // the lossy codec exactly (DC-only blocks; verified for all 256
      // levels in MultimodalSpec), so the oracle stays modular arithmetic
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 100)
      val media = Multimodal.withGeneratedMjpegMp4(
        docs.select(col("doc_id")), "doc_id", frames = 4)
      Multimodal.sampleFramesMp4(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("codec"), col("frame_index"),
          col("width"), col("height"),
          round(col("mean_luminance") * 255).cast("long").as("gray"))
        .orderBy(col("doc_id"), col("frame_index"))
    },
      // Motion-JPEG demux: gray survives the lossy codec exactly on uniform
      // frames (DC-only blocks, chroma zero; verified for all 256 levels in
      // MultimodalSpec), so the oracle is q68's formula with the Motion-JPEG
      // sample-entry fourcc
      """SELECT doc_id, 'jpeg' AS codec, fi::INT AS frame_index,
           16 AS width, 16 AS height,
           ((doc_id * 11 + fi * 17) % 256)::BIGINT AS gray
         FROM (SELECT doc_id, unnest(range(0, 4)) AS fi
               FROM documents WHERE doc_id <= 100) t
         ORDER BY doc_id, frame_index"""),

    // ---- perceptual image hash (dHash) through the real decoder ---------
    Case("q146_image_dhash", (s, dir) => {
      // 4-tone 16×8 PNGs: the pooled 9×8 grid and therefore every dHash
      // bit is closed-form in the tone ordering — the oracle recomputes
      // the exact 64-bit hash the decode→pool→compare→pack loop must emit
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 200)
        .select(col("doc_id"))
      val media = Multimodal.withGeneratedQuarterPng(docs, "doc_id", 16, 8,
        col("doc_id") % 256, (col("doc_id") * 3 + 17) % 256,
        (col("doc_id") * 5 + 89) % 256, (col("doc_id") * 11 + 201) % 256)
      Multimodal.dhashImages(media, "media_bytes", "doc_id")
        .select(col("id").as("doc_id"), col("dhash"), col("decoded"))
        .orderBy(col("doc_id"))
    },
      // dHash of the 4-tone 16×8 layout, derived cell by cell: pooled cells
      // are (a a b b c c (c+d)/2 d d), so row bits 1,3,5,6 encode b>a, c>b,
      // d>c, d>c; all 8 grid rows are identical, hence the ×0x0101010101010101
      """WITH p AS (
           SELECT doc_id,
                  doc_id % 256 AS a, (doc_id * 3 + 17) % 256 AS b,
                  (doc_id * 5 + 89) % 256 AS c, (doc_id * 11 + 201) % 256 AS d
           FROM documents WHERE doc_id <= 200)
         SELECT doc_id,
                ((CASE WHEN b > a THEN 2 ELSE 0 END) +
                 (CASE WHEN c > b THEN 8 ELSE 0 END) +
                 (CASE WHEN d > c THEN 96 ELSE 0 END))::BIGINT
                  * 72340172838076673 AS dhash,
                true AS decoded
         FROM p ORDER BY doc_id"""),

    // ---- audio segment-energy hash through the real decoder -------------
    Case("q148_audio_dhash", (s, dir) => {
      // step-amplitude sine WAVs: adjacent segment levels differ by 7 mod 9
      // (never equal), so every energy-comparison bit is closed-form in the
      // integer level sequence — the oracle recomputes the exact 63-bit hash
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 200)
        .select(col("doc_id"))
      val levels = transform(sequence(lit(0), lit(63)),
        j => (col("doc_id") + j * 7) % 9 + 1)
      val media = Multimodal.withGeneratedStepWav(docs, "doc_id", levels)
      Multimodal.dhashAudio(media, "media_bytes", "doc_id", segments = 64)
        .select(col("id").as("doc_id"), col("ahash"), col("decoded"))
        .gateOrdered(col("doc_id"))
    },
      // Audio energy hash, derived bit by bit from the generated level
      // sequence: bit j compares segments j+1 and j, whose integer levels
      // are (doc_id + 7j + 7) % 9 + 1 vs (doc_id + 7j) % 9 + 1
      """SELECT doc_id,
                list_sum(list_transform(range(0, 63),
                  j -> CASE WHEN (doc_id + 7*j + 7) % 9 > (doc_id + 7*j) % 9
                       THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS ahash,
                true AS decoded
         FROM documents WHERE doc_id <= 200 ORDER BY doc_id"""),

    // ---- image near-dup end-to-end (decode → dHash → banded pairs) ------
    Case("q155_image_neardup", (s, dir) => {
      // same 4-tone layout as q146; hamming 0 pairs = identical tone
      // orderings, so the oracle derives the pair set arithmetically
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 120)
        .select(col("doc_id"))
      val media = Multimodal.withGeneratedQuarterPng(docs, "doc_id", 16, 8,
        col("doc_id") % 256, (col("doc_id") * 3 + 17) % 256,
        (col("doc_id") * 5 + 89) % 256, (col("doc_id") * 11 + 201) % 256)
      val hashes = Multimodal.dhashImages(media, "media_bytes", "doc_id")
      Dedup.hamming64Pairs(hashes, "id", "dhash", maxHamming = 0, numChunks = 1)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // Identical-hash image pairs derived from the q146 closed form: two
      // images collide iff their three tone-order predicates agree
      """WITH p AS (
           SELECT doc_id,
                  ((CASE WHEN (doc_id*3+17) % 256 > doc_id % 256 THEN 2 ELSE 0 END) +
                   (CASE WHEN (doc_id*5+89) % 256 > (doc_id*3+17) % 256 THEN 8 ELSE 0 END) +
                   (CASE WHEN (doc_id*11+201) % 256 > (doc_id*5+89) % 256 THEN 96 ELSE 0 END)) AS rb
           FROM documents WHERE doc_id <= 120)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM p a JOIN p b ON a.rb = b.rb AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b"""),

    // ---- audio near-dup end-to-end (decode → energy hash → pairs) -------
    Case("q164_audio_neardup", (s, dir) => {
      // the q148 level pattern has period 9 in doc_id, and its 9 rotations
      // are distinct — so two clips collide iff doc_id ≡ doc_id (mod 9)
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 120)
        .select(col("doc_id"))
      val levels = transform(sequence(lit(0), lit(63)),
        j => (col("doc_id") + j * 7) % 9 + 1)
      val media = Multimodal.withGeneratedStepWav(docs, "doc_id", levels)
      val hashes = Multimodal.dhashAudio(media, "media_bytes", "doc_id", segments = 64)
      Dedup.hamming64Pairs(hashes, "id", "ahash", maxHamming = 0, numChunks = 1)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // Audio collision structure: bit j is a function of (doc_id + 7j) mod 9
      // and the 9 rotations of that period-9 pattern are distinct, so clips
      // collide exactly on doc_id mod 9
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM (SELECT doc_id FROM documents WHERE doc_id <= 120) a
         JOIN (SELECT doc_id FROM documents WHERE doc_id <= 120) b
           ON a.doc_id % 9 = b.doc_id % 9 AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b"""),

    // ---- multimodal admission gate (image × audio, one pipeline) --------
    Case("q168_multimodal_gate", (s, dir) => {
      // both media decode paths joined on the doc: admit documents whose
      // image has a rising first tone step (dhash bit 1) AND whose audio
      // opens on a rising energy step (ahash bit 0) — every predicate is
      // closed-form in the generator arithmetic, so the oracle re-derives
      // the admitted set exactly
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 120)
        .select(col("doc_id"))
      val img = Multimodal.dhashImages(
        Multimodal.withGeneratedQuarterPng(docs, "doc_id", 16, 8,
          col("doc_id") % 256, (col("doc_id") * 3 + 17) % 256,
          (col("doc_id") * 5 + 89) % 256, (col("doc_id") * 11 + 201) % 256),
        "media_bytes", "doc_id")
        .select(col("id"), col("dhash"))
      val levels = transform(sequence(lit(0), lit(63)),
        j => (col("doc_id") + j * 7) % 9 + 1)
      val aud = Multimodal.dhashAudio(
        Multimodal.withGeneratedStepWav(docs, "doc_id", levels),
        "media_bytes", "doc_id", segments = 64)
        .select(col("id"), col("ahash"))
      img.join(aud, Seq("id"))
        .filter((col("dhash").bitwiseAND(2L) =!= 0L) &&
          (col("ahash").bitwiseAND(1L) =!= 0L))
        .select(col("id").as("doc_id"), col("dhash"), col("ahash"))
        .orderBy(col("doc_id"))
    },
      // The q146/q148 closed forms with the gate predicates applied: dhash
      // bit 1 ⇔ b > a, ahash bit 0 ⇔ (id+7)%9 > id%9
      """WITH p AS (
           SELECT doc_id,
                  doc_id % 256 AS a, (doc_id*3+17) % 256 AS b,
                  (doc_id*5+89) % 256 AS c, (doc_id*11+201) % 256 AS d
           FROM documents WHERE doc_id <= 120)
         SELECT doc_id,
                ((CASE WHEN b > a THEN 2 ELSE 0 END) +
                 (CASE WHEN c > b THEN 8 ELSE 0 END) +
                 (CASE WHEN d > c THEN 96 ELSE 0 END))::BIGINT
                  * 72340172838076673 AS dhash,
                list_sum(list_transform(range(0, 63),
                  j -> CASE WHEN (doc_id + 7*j + 7) % 9 > (doc_id + 7*j) % 9
                       THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS ahash
         FROM p
         WHERE b > a AND (doc_id + 7) % 9 > doc_id % 9
         ORDER BY doc_id"""),

    // ---- multimodal near-dup clusters (image hash → components) ---------
    Case("q169_image_clusters", (s, dir) => {
      // transitive clustering over the q155 identical-hash pair graph;
      // clusters = the 8 tone-ordering classes, labeled by their min id
      val docs = read(s, dir, "documents").filter(col("doc_id") <= 120)
        .select(col("doc_id"))
      val media = Multimodal.withGeneratedQuarterPng(docs, "doc_id", 16, 8,
        col("doc_id") % 256, (col("doc_id") * 3 + 17) % 256,
        (col("doc_id") * 5 + 89) % 256, (col("doc_id") * 11 + 201) % 256)
      val hashes = Multimodal.dhashImages(media, "media_bytes", "doc_id")
      val pairs = Dedup.hamming64Pairs(hashes, "id", "dhash",
        maxHamming = 0, numChunks = 1).select(col("id_a"), col("id_b"))
      graft.operators.Components.connectedComponents(
          hashes.select(col("id")), pairs)
        .select(col("id").as("doc_id"), col("component"))
        .gateOrdered(col("doc_id"))
    },
      // Components over identical-hash cliques = the tone-ordering classes,
      // labeled by each class's minimum doc_id
      """WITH p AS (
           SELECT doc_id,
                  ((CASE WHEN (doc_id*3+17) % 256 > doc_id % 256 THEN 2 ELSE 0 END) +
                   (CASE WHEN (doc_id*5+89) % 256 > (doc_id*3+17) % 256 THEN 8 ELSE 0 END) +
                   (CASE WHEN (doc_id*11+201) % 256 > (doc_id*5+89) % 256 THEN 96 ELSE 0 END)) AS rb
           FROM documents WHERE doc_id <= 120)
         SELECT p.doc_id, (SELECT min(p2.doc_id) FROM p p2 WHERE p2.rb = p.rb) AS component
         FROM p ORDER BY doc_id"""))
}
