package graft
package queries

import graft.sources.Multimodal
import org.apache.spark.sql.functions._

/** Media fixtures ([[graft.sources.Multimodal]]): PNG decode, perceptual
  * hashes and their pairings.
  */
object MultimodalQueries {

  /** The dHash chain over the synthetic PNG fixture (9x8 nearest-neighbor
    * grid on the md5-pixel raster, id-derived dimensions), ending in
    * ph(media_id, phash_lo, phash_hi) — single source of truth for
    * q178/q304. q179 inlines a twin-augmented variant. */
  private val PhashSql: String =
    """xs AS (SELECT unnest(range(0, 8)) AS x),
      |ys AS (SELECT unnest(range(0, 8)) AS y),
      |m AS (SELECT doc_id AS media_id, text,
      |             CAST(4 + (doc_id % 5) * 2 AS BIGINT) AS w,
      |             CAST(4 + (doc_id % 7) * 2 AS BIGINT) AS h
      |      FROM documents),
      |c AS (SELECT media_id, text, x, y,
      |             ((y * h) // 8) * w + ((x * w) // 9) AS ia,
      |             ((y * h) // 8) * w + (((x + 1) * w) // 9) AS ib
      |      FROM m CROSS JOIN xs CROSS JOIN ys),
      |v AS (SELECT media_id, x, y,
      |             ('0x' || substr(md5(text || '#' || CAST(ia // 16 AS VARCHAR)),
      |                             CAST((ia % 16) * 2 + 1 AS INT), 2))::BIGINT AS a,
      |             ('0x' || substr(md5(text || '#' || CAST(ib // 16 AS VARCHAR)),
      |                             CAST((ib % 16) * 2 + 1 AS INT), 2))::BIGINT AS b
      |      FROM c),
      |bits AS (SELECT media_id, y * 8 + x AS idx,
      |                CASE WHEN b > a THEN 1 ELSE 0 END AS bit FROM v),
      |ph AS (SELECT media_id,
      |              CAST(sum(CASE WHEN bit = 1 AND idx < 32
      |                            THEN CAST(pow(2, idx) AS BIGINT) ELSE 0 END) AS BIGINT)
      |                AS phash_lo,
      |              CAST(sum(CASE WHEN bit = 1 AND idx >= 32
      |                            THEN CAST(pow(2, idx - 32) AS BIGINT) ELSE 0 END) AS BIGINT)
      |                AS phash_hi
      |       FROM bits GROUP BY media_id)""".stripMargin

  val entries: Seq[Entry] = Seq(
    // real ImageIO pixel decode of fixture PNGs; the oracle recomputes
    // width/height/brightness from the same md5-derived pixel bytes, so a
    // faithful PNG round-trip is what hash-matching proves (n_bytes and
    // checksum are encoder-dependent → left out of the oracle projection)
    Query("q43_media_features", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.fromDocuments(Tables.documents(s, dir)))
        .toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"), col("brightness"))
        .orderBy("media_id"),
      """WITH idx AS (SELECT unnest(range(0, 192)) AS i),
        |m AS (SELECT doc_id AS media_id, text,
        |             CAST(4 + (doc_id % 5) * 2 AS INT) AS w,
        |             CAST(4 + (doc_id % 7) * 2 AS INT) AS h
        |      FROM documents),
        |px AS (
        |  SELECT media_id, w, h,
        |         coalesce(('0x' || substr(md5(text || '#' || CAST(i // 16 AS VARCHAR)),
        |                         CAST((i % 16) * 2 + 1 AS INT), 2))::BIGINT, 0) AS v
        |  FROM m JOIN idx ON idx.i < m.w * m.h),
        |s AS (SELECT media_id, w, h, sum(v) AS sv, count(*) AS n
        |      FROM px GROUP BY media_id, w, h)
        |SELECT media_id, 'png' AS format, w AS width, h AS height,
        |       CAST((2 * sv * 1000000 + n * 255) // (2 * n * 255) AS DOUBLE)
        |         / 1000000.0 AS brightness
        |FROM s ORDER BY media_id""".stripMargin),
    // real javax.sound.sampled WAV round-trip; the oracle recomputes the
    // header fields from the id-derived shape and the PCM stats from the
    // same md5-derived sample bytes (the q43 pattern, second modality;
    // n_bytes is container-dependent → left out of the oracle projection)
    Query("q59_audio_features", (s, dir) =>
      Multimodal.extractAudioFeatures(Multimodal.audioFromDocuments(Tables.documents(s, dir)))
        .toDF()
        .select(col("media_id"), col("format"), col("sample_rate"), col("channels"),
          col("frames"), col("duration_sec"), col("mean_abs"), col("peak_abs"))
        .orderBy("media_id"),
      """WITH m AS (SELECT doc_id AS media_id, text,
        |                  CAST(8000 + (doc_id % 4) * 4000 AS INT) AS rate,
        |                  CAST(1 + (doc_id % 2) AS INT) AS ch,
        |                  CAST(50 + (doc_id % 10) * 10 AS BIGINT) AS frames
        |           FROM documents),
        |idx AS (SELECT unnest(range(0, 280)) AS i),
        |smp AS (
        |  SELECT media_id, rate, ch, frames,
        |         coalesce(('0x' || substr(md5(text || '#' || CAST((i*2) // 16 AS VARCHAR)),
        |                         CAST(((i*2) % 16) * 2 + 1 AS INT), 2))::BIGINT
        |         + 256 * ('0x' || substr(md5(text || '#' || CAST((i*2+1) // 16 AS VARCHAR)),
        |                                 CAST(((i*2+1) % 16) * 2 + 1 AS INT), 2))::BIGINT, 0) AS u
        |  FROM m JOIN idx ON idx.i < m.frames * m.ch),
        |sv AS (SELECT media_id, rate, ch, frames,
        |              abs(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS a
        |       FROM smp),
        |agg AS (SELECT media_id, rate, ch, frames, sum(a) AS sa, max(a) AS pk, count(*) AS n
        |        FROM sv GROUP BY media_id, rate, ch, frames)
        |SELECT media_id, 'wav' AS format, rate AS sample_rate, ch AS channels, frames,
        |       CAST((2 * frames * 1000000 + rate) // (2 * rate) AS DOUBLE)
        |         / 1000000.0 AS duration_sec,
        |       CAST((2 * sa * 1000000 + n * 32768) // (2 * n * 32768) AS DOUBLE)
        |         / 1000000.0 AS mean_abs,
        |       CAST((2 * pk * 1000000 + 32768) // 65536 AS DOUBLE)
        |         / 1000000.0 AS peak_abs
        |FROM agg ORDER BY media_id""".stripMargin),
    // third modality: metadata-driven frame sampling (700ms interval so
    // frame numbers exercise the integer div; durations both under and
    // over the 8-frame cap exist in the fixture)
    Query("q80_frame_sample_plan", (s, dir) =>
      Multimodal.frameSamplePlan(
        Multimodal.videoFromDocuments(Tables.documents(s, dir)))
        .orderBy("media_id", "sample_idx"),
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         2000 + (doc_id % 20) * 500 AS duration_ms,
        |         24 + (doc_id % 3) * 6 AS fps
        |  FROM documents),
        |n AS (SELECT media_id, fps,
        |             least((duration_ms + 699) // 700, 8) AS n_samples FROM m),
        |s AS (SELECT media_id, fps, unnest(range(0, n_samples)) AS sample_idx
        |      FROM n WHERE n_samples > 0)
        |SELECT media_id, CAST(sample_idx AS BIGINT) AS sample_idx,
        |       CAST(sample_idx * 700 AS BIGINT) AS sample_ts_ms,
        |       CAST((sample_idx * 700 * fps) // 1000 AS BIGINT) AS frame_number
        |FROM s ORDER BY media_id, sample_idx""".stripMargin),
    // the third modality DECODED for real: genuine YUV4MPEG2 containers
    // (uncompressed 4:2:0), header + sampled-frame luma stats all parsed
    // from bytes — the oracle recomputes every luma byte from the same
    // md5 stream (the q43/q59 recipe; stride 2 samples frames 0,2,4)
    Query("q97_video_features", (s, dir) =>
      Multimodal.extractVideoFrameFeatures(
        Multimodal.videoY4mFromDocuments(Tables.documents(s, dir)))
        .toDF()
        .orderBy("media_id", "frame_index"),
      // Y4M frame bytes are pixelBytes(text, n*frameSize) laid out frame
      // after frame, so luma byte p of frame f is md5-stream byte
      // f*(w*h*3//2) + p; stride-2 sampling keeps frames 0, 2, 4
      """WITH m AS (SELECT doc_id AS media_id, text,
        |                  CAST(4 + (doc_id % 5) * 2 AS INT) AS w,
        |                  CAST(4 + (doc_id % 7) * 2 AS INT) AS h,
        |                  CAST(24 + (doc_id % 3) * 6 AS BIGINT) AS fps,
        |                  CAST(3 + (doc_id % 4) AS BIGINT) AS nf
        |           FROM documents),
        |fidx AS (SELECT unnest(range(0, 6)) AS f),
        |fr AS (SELECT m.*, fidx.f FROM m
        |       JOIN fidx ON fidx.f < m.nf AND fidx.f % 2 = 0),
        |pidx AS (SELECT unnest(range(0, 192)) AS p),
        |px AS (
        |  SELECT media_id, w, h, fps, nf, f,
        |         coalesce(('0x' || substr(md5(text || '#' || CAST((f * (w * h * 3 // 2) + p) // 16 AS VARCHAR)),
        |                         CAST(((f * (w * h * 3 // 2) + p) % 16) * 2 + 1 AS INT), 2))::BIGINT, 0) AS b
        |  FROM fr JOIN pidx ON pidx.p < fr.w * fr.h),
        |agg AS (SELECT media_id, w, h, fps, nf, f,
        |               sum(b) AS sb, max(b) AS mb, count(*) AS n
        |        FROM px GROUP BY media_id, w, h, fps, nf, f)
        |SELECT media_id, w AS width, h AS height, CAST(fps AS DOUBLE) AS fps,
        |       nf AS n_frames, f AS frame_index,
        |       CAST((2 * sb * 1000000 + n * 255) // (2 * n * 255) AS DOUBLE)
        |         / 1000000.0 AS luma_mean,
        |       CAST((2 * mb * 1000000 + 255) // 510 AS DOUBLE)
        |         / 1000000.0 AS luma_peak
        |FROM agg ORDER BY media_id, frame_index""".stripMargin),
    // scene-cut detection on ALL decoded frames (stride 1): 6dp luma
    // micro-ticks, |Δ| ≥ 0.04 flags a cut; per-video cut census
    Query("q182_scene_cuts", (s, dir) => {
      val frames = Multimodal.extractVideoFrameFeatures(
        Multimodal.videoY4mFromDocuments(Tables.documents(s, dir)), stride = 1)
        .toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_index"))
      frames
        .withColumn("__lm", floor(col("luma_mean") * 1000000 + 0.5).cast("long"))
        .withColumn("__prev", lag(col("__lm"), 1).over(w))
        .where(col("__prev").isNotNull)
        .select(col("media_id"), col("frame_index"),
          (abs(col("__lm") - col("__prev")) >= 40000L).cast("long").as("__cut"))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("__cut")).as("n_cuts"),
          min(when(col("__cut") === 1, col("frame_index"))).as("first_cut_idx"))
        .orderBy("media_id")
    },
      // every frame's luma from the q97 md5 stream (stride 1), micro-tick
      // lag deltas, the same integer cut threshold
      """WITH m AS (SELECT doc_id AS media_id, text,
        |                  CAST(4 + (doc_id % 5) * 2 AS INT) AS w,
        |                  CAST(4 + (doc_id % 7) * 2 AS INT) AS h,
        |                  CAST(3 + (doc_id % 4) AS BIGINT) AS nf
        |           FROM documents),
        |fidx AS (SELECT unnest(range(0, 6)) AS f),
        |fr AS (SELECT m.*, fidx.f FROM m JOIN fidx ON fidx.f < m.nf),
        |pidx AS (SELECT unnest(range(0, 192)) AS p),
        |px AS (
        |  SELECT media_id, w, h, f,
        |         coalesce(('0x' || substr(md5(text || '#' || CAST((f * (w * h * 3 // 2) + p) // 16 AS VARCHAR)),
        |                         CAST(((f * (w * h * 3 // 2) + p) % 16) * 2 + 1 AS INT), 2))::BIGINT, 0) AS b
        |  FROM fr JOIN pidx ON pidx.p < fr.w * fr.h),
        |agg AS (SELECT media_id, f,
        |               (2 * sum(b) * 1000000 + count(*) * 255)
        |                 // (2 * count(*) * 255) AS lm
        |        FROM px GROUP BY media_id, f),
        |l AS (SELECT media_id, f, lm,
        |             lag(lm) OVER (PARTITION BY media_id ORDER BY f) AS prev
        |      FROM agg),
        |c AS (SELECT media_id, f,
        |             CASE WHEN abs(lm - prev) >= 40000 THEN 1 ELSE 0 END AS cut
        |      FROM l WHERE prev IS NOT NULL)
        |SELECT media_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |       CAST(sum(cut) AS BIGINT) AS n_cuts,
        |       min(CASE WHEN cut = 1 THEN f END) AS first_cut_idx
        |FROM c GROUP BY media_id ORDER BY media_id""".stripMargin),
    // audio loudness-shape fingerprint through the REAL WAV parse:
    // 16-block integer energies, 15 louder-than-previous bits
    Query("q180_audio_contour", (s, dir) =>
      Multimodal.audioContours(
        Multimodal.audioFromDocuments(Tables.documents(s, dir)))
        .toDF().orderBy("media_id"),
      // the q59 md5 PCM stream re-read as signed LE 16-bit samples,
      // 16 positional blocks, louder-than-previous bits
      """WITH m AS (SELECT doc_id AS media_id, text,
        |                  CAST((50 + (doc_id % 10) * 10) * (1 + (doc_id % 2))
        |                    AS BIGINT) AS n
        |           FROM documents),
        |idx AS (SELECT unnest(range(0, 280)) AS i),
        |sm AS (SELECT media_id, n, i,
        |              ('0x' || substr(md5(text || '#' || CAST((2 * i) // 16 AS VARCHAR)),
        |                              CAST(((2 * i) % 16) * 2 + 1 AS INT), 2))::BIGINT AS b0,
        |              ('0x' || substr(md5(text || '#' || CAST((2 * i + 1) // 16 AS VARCHAR)),
        |                              CAST(((2 * i + 1) % 16) * 2 + 1 AS INT), 2))::BIGINT AS b1
        |       FROM m JOIN idx ON idx.i < m.n),
        |sv AS (SELECT media_id, n, i,
        |              abs(CASE WHEN b1 * 256 + b0 >= 32768
        |                       THEN b1 * 256 + b0 - 65536
        |                       ELSE b1 * 256 + b0 END) AS a
        |       FROM sm),
        |blk AS (SELECT media_id, n, i // (n // 16) AS b, a
        |        FROM sv WHERE i < (n // 16) * 16),
        |e AS (SELECT media_id, n, b, CAST(sum(a) AS BIGINT) AS e
        |      FROM blk GROUP BY 1, 2, 3),
        |bits AS (SELECT media_id, n, b,
        |                CASE WHEN e > lag(e) OVER (PARTITION BY media_id ORDER BY b)
        |                     THEN 1 ELSE 0 END AS bit
        |         FROM e)
        |SELECT media_id, CAST(max(n) AS BIGINT) AS n_samples,
        |       CAST(sum(CASE WHEN b >= 1 AND bit = 1
        |                     THEN CAST(pow(2, b - 1) AS BIGINT) ELSE 0 END) AS BIGINT)
        |         AS contour
        |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin),
    // image dHash through the REAL PNG decode: 9x8 nearest-neighbor
    // sample, horizontal-difference bits, simhash-style lo/hi split
    Query("q178_image_phash", (s, dir) =>
      Multimodal.perceptualHashes(
        Multimodal.fromDocuments(Tables.documents(s, dir)))
        .toDF().orderBy("media_id"),
      // the q43 md5 pixel field sampled on the same integer 9x8 grid;
      // pow-packed lo/hi bits (the simhash oracle pattern)
      s"""WITH $PhashSql
        |SELECT media_id, phash_lo, phash_hi FROM ph
        |ORDER BY media_id""".stripMargin),
    // pHash exact-dup groups over planted byte-identical twins — twin
    // ids shift by a multiple of 35 = lcm(5, 7), so the id-derived
    // dimensions (and hence the PNG payload) are preserved exactly
    Query("q179_phash_groups", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.where(pmod(col("doc_id"), lit(6)) === 0)
        .select((col("doc_id") + 3500000000L).as("doc_id"), col("text"))
      Multimodal.perceptualHashes(
        Multimodal.fromDocuments(docs.unionByName(twins)))
        .toDF()
        .groupBy(col("phash_lo"), col("phash_hi"))
        .agg(count(lit(1)).as("n"), min(col("media_id")).as("min_id"),
          max(col("media_id")).as("max_id"))
        .where(col("n") > 1)
        .orderBy("phash_lo", "phash_hi")
    },
      // same arithmetic over the +35k-shifted twins; byte-identical
      // payloads must collapse to one hash group
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3500000000, text FROM documents WHERE doc_id % 6 = 0),
        |xs AS (SELECT unnest(range(0, 8)) AS x),
        |ys AS (SELECT unnest(range(0, 8)) AS y),
        |m AS (SELECT doc_id AS media_id, text,
        |             CAST(4 + (doc_id % 5) * 2 AS BIGINT) AS w,
        |             CAST(4 + (doc_id % 7) * 2 AS BIGINT) AS h
        |      FROM all_docs),
        |c AS (SELECT media_id, text, x, y,
        |             ((y * h) // 8) * w + ((x * w) // 9) AS ia,
        |             ((y * h) // 8) * w + (((x + 1) * w) // 9) AS ib
        |      FROM m CROSS JOIN xs CROSS JOIN ys),
        |v AS (SELECT media_id, x, y,
        |             ('0x' || substr(md5(text || '#' || CAST(ia // 16 AS VARCHAR)),
        |                             CAST((ia % 16) * 2 + 1 AS INT), 2))::BIGINT AS a,
        |             ('0x' || substr(md5(text || '#' || CAST(ib // 16 AS VARCHAR)),
        |                             CAST((ib % 16) * 2 + 1 AS INT), 2))::BIGINT AS b
        |      FROM c),
        |bits AS (SELECT media_id, y * 8 + x AS idx,
        |                CASE WHEN b > a THEN 1 ELSE 0 END AS bit FROM v),
        |ph AS (SELECT media_id,
        |              CAST(sum(CASE WHEN bit = 1 AND idx < 32
        |                    THEN CAST(pow(2, idx) AS BIGINT) ELSE 0 END) AS BIGINT)
        |                AS phash_lo,
        |              CAST(sum(CASE WHEN bit = 1 AND idx >= 32
        |                    THEN CAST(pow(2, idx - 32) AS BIGINT) ELSE 0 END) AS BIGINT)
        |                AS phash_hi
        |       FROM bits GROUP BY media_id),
        |g AS (SELECT phash_lo, phash_hi, CAST(count(*) AS BIGINT) AS n,
        |             min(media_id) AS min_id, max(media_id) AS max_id
        |      FROM ph GROUP BY 1, 2)
        |SELECT * FROM g WHERE n > 1 ORDER BY phash_lo, phash_hi""".stripMargin),
    // image near-dedup: dHash pairs within Hamming 3 via the shared
    // 4x16 banded pigeonhole join; oracle is brute all-pairs
    Query("q304_phash_pairs", (s, dir) =>
      Multimodal.phashNearDupPairs(
        Multimodal.fromDocuments(Tables.documents(s, dir)))
        .orderBy("media_a", "media_b"),
      // pHash near-dup pairs: INDEPENDENT brute formulation — all pairs
      // with bit_count(xor) <= 3; the engine's 4x16 banded join must
      // lose nothing against it (pigeonhole completeness)
      s"""WITH $PhashSql,
        |pr AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
        |              CAST(bit_count(xor(a.phash_lo, b.phash_lo))
        |                   + bit_count(xor(a.phash_hi, b.phash_hi)) AS BIGINT)
        |                AS hamming
        |       FROM ph a JOIN ph b ON a.media_id < b.media_id)
        |SELECT media_a, media_b, hamming FROM pr WHERE hamming <= 3
        |ORDER BY media_a, media_b""".stripMargin),
  )
}
