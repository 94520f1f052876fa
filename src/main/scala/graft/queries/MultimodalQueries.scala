package graft.queries

import graft.Q
import graft.core.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column operators: binary payload plumbing + batch feature
  * extraction via `mapPartitions`, with REAL spec-level WAV/BMP codecs
  * (graft.multimodal.Codecs — round 9 replaced the former decode stub).
  * The harness tables carry no media files, so containers are synthesized
  * deterministically from the document bytes (Multimodal.mediaPayload) and
  * parsed back; the oracles recompute every decoded field — container
  * size, width/height, sample rate/count, RMS/mean level — from the
  * synthesis rule, so a header-layout or parser bug hash-fails. The
  * pixel-level ops (phash, frame sampling) run on the decoded byte buffer
  * directly.
  */
object MultimodalQueries {

  /** DuckDB CTE chain reproducing the payload aHash + banded candidate
    * pairs (mm_phash_dedup, mm_crossmodal_dedup); yields
    * `cand(a_id, b_id, ph_a, ph_b)`. Corpus is pure ASCII so
    * `unicode(text[j])` IS the payload byte. */
  private val duckPhashPairs: String =
    """u AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
      |    unnest(generate_series(0, CAST(length(text) AS INTEGER) - 1)) AS i, text
      |  FROM documents),
      |ch AS (SELECT doc_id, (i * 48) // n AS j,
      |    CAST(sum(unicode(text[CAST(i AS INTEGER) + 1])) AS BIGINT) AS s
      |  FROM u GROUP BY 1, 2),
      |tot AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS total FROM ch GROUP BY 1),
      |ph AS (SELECT ch.doc_id,
      |    CAST(sum(CASE WHEN 48 * ch.s >= t.total
      |                  THEN CAST(1 AS BIGINT) << CAST(ch.j AS INTEGER)
      |                  ELSE 0 END) AS BIGINT) AS ph
      |  FROM ch JOIN tot t USING (doc_id) GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, ph, b AS band_idx, (ph >> (b * 12)) % 4096 AS band_val
      |  FROM ph, (SELECT unnest(generate_series(0, 3)) AS b)),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |    a.ph AS ph_a, b.ph AS ph_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |   AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared DuckDB CTE reproducing the media-synthesis rule
    * (Multimodal.mediaPayload): format by doc parity (empty → bin), BMP
    * geometry w = least(n, 12), ht = n div w. Yields
    * `meta(doc_id, n, text, format, w, ht)`. */
  private val duckMediaMeta: String =
    """m AS (
      |  SELECT doc_id, CAST(length(text) AS INTEGER) AS n, text,
      |    CASE WHEN length(text) = 0 THEN 'bin'
      |         WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'bmp' END AS format
      |  FROM documents),
      |meta AS (
      |  SELECT doc_id, n, text, format,
      |    CASE WHEN format = 'bmp' THEN least(n, 12) ELSE 0 END AS w,
      |    CASE WHEN format = 'bmp' THEN n // least(n, 12) ELSE 0 END AS ht
      |  FROM m)""".stripMargin

  def all: Seq[Q] = Seq(

    // Every decoded field is read back from the container HEADERS by the
    // spec-level parser (never passed through), while the oracle predicts
    // it arithmetically from the synthesis rule — so the hash check covers
    // the full encode→decode chain: RIFF/fmt/data chunk walk and sizes,
    // BITMAPINFOHEADER dims, 4-byte row padding, PCM RMS, gray mean.
    Q("mm_media_features", Seq("multimodal", "S8", "P9"),
      (s, dir) => {
        val meta = Multimodal.extractFeatures(s, Tables.documents(s, dir))
        meta.toDF()
          .select(col("docId").as("doc_id"), col("format"),
                  col("nBytes").as("n_bytes"), col("width"), col("height"),
                  col("sampleRate").as("sample_rate"),
                  col("nSamples").as("n_samples"), col("level"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckMediaMeta
              |SELECT doc_id, format,
              |  CAST(CASE WHEN format = 'wav' THEN 44 + n + n % 2
              |            WHEN format = 'bmp' THEN 54 + ((w * 3 + 3) // 4) * 4 * ht
              |            ELSE 0 END AS INTEGER) AS n_bytes,
              |  CAST(w AS INTEGER) AS width, CAST(ht AS INTEGER) AS height,
              |  CAST(CASE WHEN format = 'wav' THEN 8000 ELSE 0 END AS INTEGER) AS sample_rate,
              |  CAST(CASE WHEN format = 'wav' THEN n ELSE 0 END AS BIGINT) AS n_samples,
              |  CASE WHEN format = 'wav' THEN
              |         sqrt(CAST(list_sum(list_transform(generate_series(1, n),
              |           j -> CAST((unicode(text[j]) - 128) * (unicode(text[j]) - 128) AS BIGINT))) AS DOUBLE) / n)
              |       WHEN format = 'bmp' THEN
              |         CAST(list_sum(list_transform(generate_series(1, w * ht),
              |           j -> CAST(unicode(text[j]) AS BIGINT))) AS DOUBLE) / (w * ht)
              |       ELSE 0.0 END AS level
              |FROM meta ORDER BY doc_id""".stripMargin),
      note = "real WAV/BMP containers synthesized per doc, spec-level parse in mapPartitions; width/height/rate/RMS all header-derived and oracle-predicted"),

    // The per-format totals pin the encoder's byte layout in aggregate:
    // total_bytes sums every container's actual encoded length (RIFF pad
    // bytes, BMP row padding included), which the oracle reconstructs from
    // the size formulas alone.
    Q("mm_format_rollup", Seq("multimodal", "A4"),
      (s, dir) => {
        val meta = Multimodal.extractFeatures(s, Tables.documents(s, dir))
        meta.toDF()
          .groupBy("format")
          .agg(count(lit(1)).as("n"),
               sum(col("nBytes").cast("long")).as("total_bytes"),
               sum((col("width") * col("height")).cast("long")).as("total_px"),
               sum(col("nSamples")).as("total_samples"))
          .orderBy("format")
      },
      Some(s"""WITH $duckMediaMeta
              |SELECT format, count(*) AS n,
              |  CAST(sum(CASE WHEN format = 'wav' THEN 44 + n + n % 2
              |                WHEN format = 'bmp' THEN 54 + ((w * 3 + 3) // 4) * 4 * ht
              |                ELSE 0 END) AS BIGINT) AS total_bytes,
              |  CAST(sum(w * ht) AS BIGINT) AS total_px,
              |  CAST(sum(CASE WHEN format = 'wav' THEN n ELSE 0 END) AS BIGINT) AS total_samples
              |FROM meta GROUP BY format ORDER BY format""".stripMargin),
      note = "per-format rollup over decoded metadata; container sizes incl. padding reconstructed by the oracle"),

    // Frame sampling: the payload is a sequence of fixed 16-byte frames;
    // keep every 4th frame (a video keyframe / audio window sample) and emit
    // per-frame features. The explode is map-side — no shuffle until the
    // final presentation sort; at scale frames stay with their partition.
    Q("mm_frame_sample", Seq("multimodal", "P9", "F9"),
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .withColumn("frame_idx",
            explode(expr("filter(sequence(0, CAST(ceil(length(text) / 16.0) AS INT) - 1), i -> i % 4 = 0)")))
          .withColumn("frame", expr("substring(text, frame_idx * 16 + 1, 16)"))
          .select(col("doc_id"), col("frame_idx"),
                  length(col("frame")).as("frame_len"),
                  expr("aggregate(transform(sequence(1, length(frame)), i -> CAST(ascii(substring(frame, i, 1)) AS BIGINT)), 0L, (a, x) -> a + x)").as("checksum"))
          .orderBy("doc_id", "frame_idx"),
      Some("""WITH idx AS (
             |  SELECT doc_id, text,
             |    unnest(generate_series(0, CAST(ceil(length(text) / 16.0) AS INTEGER) - 1)) AS i
             |  FROM documents),
             |f AS (SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
             |        substring(text, CAST(i AS INTEGER) * 16 + 1, 16) AS frame
             |      FROM idx WHERE i % 4 = 0)
             |SELECT doc_id, frame_idx, CAST(length(frame) AS INTEGER) AS frame_len,
             |  CAST(list_sum(list_transform(generate_series(1, CAST(length(frame) AS INTEGER)), j -> unicode(frame[j]))) AS BIGINT) AS checksum
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin),
      note = "strided keyframe sampling over the byte payload; map-side explode"),

    // Resize: average-pool each DECODED buffer (PCM samples for wav docs,
    // gray pixels for bmp docs — real container parse, round 9) down to a
    // fixed 8-slot signature, the 1-D analog of image resize-by-area.
    // Pooling runs inside the decode pass, map-side. Slot boundaries are
    // the floor(b·m/8) grid over the buffer length m (= n samples for wav,
    // w·ht pixels for bmp — the oracle reconstructs m from the synthesis
    // rule); the mean is exact (integer sum, one double division). Empty
    // slots (m < 8) emit no rows so the mean is always defined.
    Q("mm_resize_pool", Seq("multimodal", "P9", "A13"),
      (s, dir) =>
        Multimodal.resizePool(s, Tables.documents(s, dir)).toDF()
          .select(col("docId").as("doc_id"), col("slot"),
                  col("nBytes").as("n_bytes"), col("meanCode").as("mean_code"))
          .orderBy("doc_id", "slot"),
      Some(s"""WITH $duckMediaMeta,
              |e AS (SELECT doc_id, text,
              |        CASE WHEN format = 'wav' THEN n
              |             WHEN format = 'bmp' THEN w * ht
              |             ELSE 0 END AS mlen
              |      FROM meta),
              |sl AS (SELECT doc_id, text, mlen, unnest(generate_series(0, 7)) AS slot
              |       FROM e WHERE mlen > 0),
              |b AS (SELECT doc_id, CAST(slot AS INTEGER) AS slot,
              |        CAST((slot * mlen) // 8 AS INTEGER) AS lo,
              |        CAST(((slot + 1) * mlen) // 8 AS INTEGER) AS hi, text
              |      FROM sl)
              |SELECT doc_id, slot, CAST(hi - lo AS INTEGER) AS n_bytes,
              |  CAST(CAST(list_sum(list_transform(generate_series(lo + 1, hi), j -> unicode(text[j]))) AS BIGINT) AS DOUBLE) / (hi - lo) AS mean_code
              |FROM b WHERE hi > lo ORDER BY doc_id, slot""".stripMargin),
      note = "1-D average-pooling resize over the decoded PCM/pixel buffer, fused into the decode pass"),

    // Perceptual-hash near-dup for media payloads — aHash over the stubbed
    // decode: pool the payload bytes into 48 chunks (chunk of byte i is
    // i·48 div n), set bit j iff chunk j's sum is ≥ the mean (integer
    // cross-multiplication 48·s_j ≥ total — no float boundary), giving a
    // 48-bit fingerprint. Near-dups are found exactly like dedup_simhash:
    // 4 bands × 12 bits, band-equality join, Hamming ≤ 3 verify (pigeonhole-
    // complete: 3 flips can't touch all 4 bands). The hash runs inside the
    // multimodal mapPartitions decode path — at scale each payload is
    // decoded once, map-side, and only 8-byte hashes shuffle.
    Q("mm_phash_dedup", Seq("multimodal", "dedup", "P2", "J2"),
      (s, dir) => {
        // n = 0 guard keeps Spark aligned with the oracle: an empty payload
        // would otherwise hash to all-ones (0 >= 0 per bit) while the
        // oracle's generate_series(0, -1) drops the row entirely. The hash
        // itself is the codegen'd payload_phash Expression — a column op
        // inside WholeStageCodegen on the scan, no Dataset encoder boundary
        // (the mapPartitions decode path remains in mm_media_features).
        val hashed = Multimodal.withPayload(Tables.documents(s, dir))
          .where(length(col("text")) > 0)
          .select(col("doc_id"), expr("payload_phash(payload)").as("ph"))
          .cache() // both sides of the band self-join read it
        graft.dedup.Banding
          .bandedHammingJoin(hashed, "doc_id", "ph",
                             bits = 48, bands = 4, maxHamming = 3)
          .select(col("a_id"), col("b_id"),
                  col("sig_a").as("ph_a"), col("sig_b").as("ph_b"), col("hamming"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $duckPhashPairs
              |SELECT a_id, b_id, ph_a, ph_b,
              |  CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming
              |FROM cand
              |WHERE bit_count(xor(ph_a, ph_b)) <= 3
              |ORDER BY a_id, b_id""".stripMargin),
      note = "aHash-style 48-bit payload fingerprint in the decode path; banded Hamming join, d<=3 complete"),

    // Cross-modal duplicate agreement — the pattern an image+caption
    // training-data pipeline runs before dropping "duplicate" samples:
    // perceptual near-dup on the MEDIA payload (banded 48-bit aHash,
    // Hamming ≤ 3) cross-checked against textual near-dup on the CAPTION
    // (word-3-gram Jaccard). A pair flagged by pixels but not by words (or
    // vice versa) is exactly the case a keep-rule must not collapse —
    // cropped screenshots with different alt text, mirrored uploads with
    // translated captions. Scale shape: the media side is the banded
    // equi-join (bounded buckets, only 8-byte hashes shuffle); the caption
    // verify is PAIR-BOUNDED — shingles are joined only against the media
    // candidates, never all-pairs.
    Q("mm_crossmodal_dedup", Seq("multimodal", "dedup", "J2", "A12"),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val hashed = Multimodal.withPayload(docs)
          .where(length(col("text")) > 0)
          .select(col("doc_id"), expr("payload_phash(payload)").as("ph"))
          .cache()
        val imgPairs = graft.dedup.Banding
          .bandedHammingJoin(hashed, "doc_id", "ph",
                             bits = 48, bands = 4, maxHamming = 3)
          .select(col("a_id"), col("b_id"), col("hamming"))
        val sh = docs
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .where(size(col("t")) >= 3)
          .select(col("doc_id"),
                  explode(expr("transform(sequence(1, size(t)-2), i -> concat_ws(' ', slice(t, i, 3)))")).as("shingle"))
          .distinct()
        val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val shared = imgPairs
          .join(sh.select(col("doc_id").as("a_id"), col("shingle")), "a_id")
          .join(sh.select(col("doc_id").as("b_id"), col("shingle")), Seq("b_id", "shingle"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
        imgPairs
          .join(shared, Seq("a_id", "b_id"), "left")
          .join(cnt.select(col("doc_id").as("a_id"), col("n_sh").as("na")), "a_id")
          .join(cnt.select(col("doc_id").as("b_id"), col("n_sh").as("nb")), "b_id")
          .withColumn("shared", coalesce(col("shared"), lit(0L)))
          .withColumn("jaccard",
            col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
          .withColumn("caption_dup", col("jaccard") >= 0.5)
          .select("a_id", "b_id", "hamming", "shared", "jaccard", "caption_dup")
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $duckPhashPairs,
              |img AS (SELECT a_id, b_id,
              |    CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming
              |  FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 3),
              |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
              |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks)),
              |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
              |shr AS (SELECT i.a_id, i.b_id, count(*) AS shared
              |        FROM img i
              |        JOIN sh a ON a.doc_id = i.a_id
              |        JOIN sh b ON b.doc_id = i.b_id AND b.shingle = a.shingle
              |        GROUP BY 1, 2)
              |SELECT i.a_id, i.b_id, i.hamming,
              |  coalesce(shr.shared, 0) AS shared,
              |  CAST(coalesce(shr.shared, 0) AS DOUBLE)
              |    / (ca.n_sh + cb.n_sh - coalesce(shr.shared, 0)) AS jaccard,
              |  CAST(coalesce(shr.shared, 0) AS DOUBLE)
              |    / (ca.n_sh + cb.n_sh - coalesce(shr.shared, 0)) >= 0.5 AS caption_dup
              |FROM img i
              |LEFT JOIN shr ON i.a_id = shr.a_id AND i.b_id = shr.b_id
              |JOIN cnt ca ON i.a_id = ca.doc_id
              |JOIN cnt cb ON i.b_id = cb.doc_id
              |ORDER BY i.a_id, i.b_id""".stripMargin),
      note = "media-phash candidates cross-checked by caption Jaccard; pair-bounded text verify"),

    // Voice-activity segmentation over REAL decoded audio (round 9): each
    // WAV doc's container is parsed (RIFF chunk walk) and its PCM samples
    // sliced into 16-sample frames with an integer energy Σ (s−128)² — the
    // squared deviation from the 8-bit PCM midpoint, exact in any engine —
    // via mapPartitions batch decode; frames above threshold merge into
    // maximal runs with the islands trick (wIdx − row_number is constant
    // within a run). BMP/empty docs emit no windows. Per-doc state never
    // exceeds one frame on the decode side and one window partition on the
    // merge side — the 100 TB shape for segmenting petabytes of audio is
    // exactly this: frame-parallel featurization, then a per-key ordered
    // merge.
    Q("mm_audio_vad_segments", Seq("multimodal", "W3", "F1", "A12", "session"),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("docId").orderBy("wIdx")
        Multimodal.vadWindows(s, Tables.documents(s, dir)).toDF()
          .where(col("energy") >= 36000)
          .withColumn("isl", col("wIdx") - row_number().over(w))
          .groupBy(col("docId").as("doc_id"), col("isl"))
          .agg(min("wIdx").as("seg_start"), max("wIdx").as("seg_end"),
               count(lit(1)).as("n_windows"), sum("energy").as("tot_energy"))
          .select("doc_id", "seg_start", "seg_end", "n_windows", "tot_energy")
          .orderBy("doc_id", "seg_start")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    unnest(generate_series(0, CAST(length(text) AS INTEGER) - 1)) AS i, text
             |  FROM documents WHERE doc_id % 2 = 0 AND length(text) > 0),
             |w AS (SELECT doc_id, CAST(i // 16 AS INTEGER) AS w_idx,
             |        CAST(sum((unicode(text[CAST(i AS INTEGER) + 1]) - 128)
             |                 * (unicode(text[CAST(i AS INTEGER) + 1]) - 128)) AS BIGINT) AS energy
             |      FROM u WHERE i < (length(text) // 16) * 16 GROUP BY 1, 2),
             |a AS (SELECT doc_id, w_idx, energy,
             |        w_idx - row_number() OVER (PARTITION BY doc_id ORDER BY w_idx) AS isl
             |      FROM w WHERE energy >= 36000)
             |SELECT doc_id, min(w_idx) AS seg_start, max(w_idx) AS seg_end,
             |  count(*) AS n_windows, CAST(sum(energy) AS BIGINT) AS tot_energy
             |FROM a GROUP BY doc_id, isl ORDER BY doc_id, seg_start""".stripMargin),
      note = "VAD over parsed WAV PCM: frame-parallel integer energy (midpoint 128) + islands merge into runs")
  )
}
