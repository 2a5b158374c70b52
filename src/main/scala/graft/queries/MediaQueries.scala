package graft.queries

import graft.operators.{Audio, Multimodal}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions.{col, expr}

/** Image and audio decoding over synthetic byte fixtures: image headers
  * and pixels, perceptual image dedup, PCM and compressed audio.
  */
object MediaQueries {
  val all: Seq[Query] = Seq(

    // ------- multimodal plumbing (deterministic stub decode, oracle-backed:
    // every selected feature is derivable from the fake header contract;
    // the rolling checksum stays engine-side, value-tested in OperatorsSpec)
    Query("q_multimodal_decode", (s, dir) =>
      Multimodal.decode(Multimodal.fakeMediaFromDocs(docs(s, dir)))
        .select(col("media_id"), col("n_bytes"),
          col("meta.mime"), col("meta.width"), col("meta.height"), col("meta.n_frames")),
      Some("""SELECT doc_id AS media_id,
          CAST(octet_length(encode(text)) + 8 AS INTEGER) AS n_bytes,
          'image/fake' AS mime,
          CAST(n_chars % 65536 AS INTEGER) AS width,
          CAST(64 AS INTEGER) AS height,
          CAST(n_chars % 7 + 1 AS INTEGER) AS n_frames
        FROM documents""")),
    // REAL WebP container walk, oracle-backed: synthetic VP8L / VP8 /
    // VP8X-animated containers whose headers are arithmetic on doc_id —
    // the engine parses actual RIFF bytes (signature checks, 14-bit
    // packed dims, 24-bit canvas, ANMF frame count) while DuckDB
    // recomputes mime/dims/frames/length from the generator contract
    Query("q_webp_decode", (s, dir) =>
      Multimodal.decode(Multimodal.syntheticWebpFromDocs(docs(s, dir)))
        .select(col("media_id"), col("n_bytes"),
          col("meta.mime"), col("meta.width"), col("meta.height"), col("meta.n_frames")),
      // WebP: the generator contract (Multimodal.syntheticWebpFromDocs) in
      // arithmetic — variant doc_id % 3 (VP8L 26 B / VP8 30 B / VP8X
      // animated 30 + 8·frames B), dims doc_id % 300 + 1 × doc_id % 200 + 1
      Some("""SELECT doc_id AS media_id,
          CAST(CASE doc_id % 3 WHEN 0 THEN 26 WHEN 1 THEN 30
            ELSE 30 + 8 * (doc_id % 5 + 1) END AS INTEGER) AS n_bytes,
          'image/webp' AS mime,
          CAST(doc_id % 300 + 1 AS INTEGER) AS width,
          CAST(doc_id % 200 + 1 AS INTEGER) AS height,
          CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 5 + 1 ELSE 1 END
            AS INTEGER) AS n_frames
        FROM documents""")),
    // compressed-audio header metadata (r15): REAL FLAC STREAMINFO /
    // MP3 frame-header (+ID3v2 syncsafe skip) / OGG-Vorbis page walks
    // over doc_id-arithmetic containers — the majority of crawl audio,
    // same row-local zero-shuffle posture as q_webp_decode
    Query("q_audio_formats", (s, dir) =>
      Multimodal.decode(Multimodal.syntheticAudioFormatsFromDocs(docsPar(s, dir)))
        .select(col("media_id"), col("n_bytes"),
          col("meta.mime"), col("meta.width"), col("meta.height"), col("meta.n_frames")),
      // compressed audio: the generator contract
      // (Multimodal.syntheticAudioFormatsFromDocs) in arithmetic — variant
      // doc_id % 3 (FLAC 42 B / MP3 kbps·125·seconds (+20 ID3 when
      // doc_id % 6 = 4) / OGG 87 B), fields driven by k = doc_id // 3
      Some("""WITH base AS (
          SELECT doc_id, doc_id % 3 AS v, doc_id // 3 AS k FROM documents),
        m AS (
          SELECT doc_id, v, k,
            list_value(8000, 16000, 22050, 24000, 32000, 44100, 48000)[CAST(k % 7 AS INT) + 1] AS arate,
            list_value(32, 40, 48, 56, 64)[CAST(k % 5 AS INT) + 1] AS kbps,
            CAST(k % 2 + 1 AS INTEGER) AS seconds,
            list_value(44100, 48000, 32000)[CAST(k % 3 AS INT) + 1] AS mrate
          FROM base)
        SELECT doc_id AS media_id,
          CAST(CASE v WHEN 0 THEN 42
            WHEN 1 THEN kbps * 125 * seconds
              + CASE WHEN doc_id % 6 = 4 THEN 20 ELSE 0 END
            ELSE 87 END AS INTEGER) AS n_bytes,
          CASE v WHEN 0 THEN 'audio/flac' WHEN 1 THEN 'audio/mpeg'
            ELSE 'audio/ogg' END AS mime,
          CAST(CASE v WHEN 1 THEN mrate ELSE arate END AS INTEGER) AS width,
          CAST(CASE v WHEN 1 THEN (CASE WHEN k % 2 = 1 THEN 1 ELSE 2 END)
            ELSE k % 2 + 1 END AS INTEGER) AS height,
          CAST(CASE v WHEN 0 THEN doc_id % 90000 + 1000
            WHEN 1 THEN seconds
            ELSE doc_id % 50000 + 500 END AS INTEGER) AS n_frames
        FROM m""")),
    Query("q_frame_sample", (s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decode(Multimodal.fakeMediaFromDocs(docs(s, dir))))
        .select("media_id", "frame_index"),
      Some("""WITH m AS (
          SELECT doc_id AS media_id, CAST(n_chars % 7 + 1 AS INTEGER) AS n_frames
          FROM documents),
        f AS (SELECT media_id, n_frames, unnest(range(0, least(n_frames, 4))) AS i
              FROM m)
        SELECT media_id,
          CAST(floor(CAST(i AS DOUBLE)
            * greatest(CAST(n_frames AS DOUBLE) / 4.0, 1.0)) AS INTEGER) AS frame_index
        FROM f""")),
    // REAL codec round-trip, oracle-backed: each doc_id becomes a
    // solid-color PNG encoded with ImageIO per-partition, then
    // decodePixels (ImageIO again) extracts dims + per-channel means —
    // solid + lossless means every statistic is exactly derivable from
    // doc_id in SQL, so DuckDB can gate a genuine encode→decode cycle
    Query("q_pixel_stats", (s, dir) =>
      Multimodal.decodePixels(Multimodal.syntheticImagesFromDocs(docsPar(s, dir)))
        .select(col("media_id"), col("decode_ok"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"),
          expr("round(mean_luma, 6)").as("mean_luma")),
      Some("""SELECT doc_id AS media_id,
          TRUE AS decode_ok,
          CAST(doc_id % 16 + 1 AS INTEGER) AS width,
          CAST(doc_id % 8 + 1 AS INTEGER) AS height,
          CAST((doc_id * 37) % 256 AS DOUBLE) AS mean_r,
          CAST((doc_id * 59) % 256 AS DOUBLE) AS mean_g,
          CAST((doc_id * 83) % 256 AS DOUBLE) AS mean_b,
          round(0.299 * CAST((doc_id * 37) % 256 AS DOUBLE)
              + 0.587 * CAST((doc_id * 59) % 256 AS DOUBLE)
              + 0.114 * CAST((doc_id * 83) % 256 AS DOUBLE), 6) AS mean_luma
        FROM documents""")),
    // image near-dup dedup (LAION-style): REAL PNGs with planted one-cell
    // perturbations → real ImageIO decode → box-average 9×8 luma grid →
    // 64-bit dHash → Hamming-band pair relation. The generator's cell
    // values are md5-derivable from doc_id, so DuckDB recomputes the
    // EXACT pair relation (grid → gradient bits → band join → popcount)
    // without decoding a byte — the hash gate pins the full decode →
    // resize → hash → band-join chain cross-engine
    Query("q_image_dedup", (s, dir) =>
      Multimodal.imageDupPairs(
        Multimodal.syntheticGridImagesFromDocs(docsPar(s, dir)), maxHamming = 8)
        .select("id_a", "id_b", "hamming"),
      // image near-dup: the oracle rebuilds each doc's 9×8 grid from the
      // generator contract (md5 hex pairs, cell-0 flip for doc_id ≡ 1 mod
      // 50), derives the 64 gradient bits, packs 4 × 16-bit bands, joins on
      // shared bands, and popcounts the xor — the identical deterministic
      // relation the engine computes from real decoded pixels
      Some("""WITH ids AS (
          SELECT doc_id AS d,
            CASE WHEN doc_id % 50 = 1 THEN doc_id - 1 ELSE doc_id END AS base
          FROM documents),
        cells AS (
          SELECT d, c, CASE WHEN d % 50 = 1 AND c = 0 THEN 255 - v ELSE v END AS v
          FROM (
            SELECT d, c,
              (instr('0123456789abcdef', substr(m, (c % 16) * 2 + 1, 1)) - 1) * 16
                + (instr('0123456789abcdef', substr(m, (c % 16) * 2 + 2, 1)) - 1) AS v
            FROM (
              SELECT d, u.c,
                md5(CAST(base AS VARCHAR) || ':' || CAST(c // 16 AS VARCHAR)) AS m
              FROM ids, unnest(generate_series(0, 71)) AS u(c)))),
        bits AS (
          SELECT a.d, (a.c // 9) * 8 + (a.c % 9) AS bit
          FROM cells a JOIN cells b ON b.d = a.d AND b.c = a.c + 1
          WHERE a.c % 9 < 8 AND b.v > a.v),
        bagg AS (
          SELECT d, bit // 16 AS k, sum(CAST(1 AS BIGINT) << (bit % 16)) AS band
          FROM bits GROUP BY 1, 2),
        bands AS (
          SELECT i.d, u.k, coalesce(b.band, 0) AS band
          FROM ids i CROSS JOIN unnest(generate_series(0, 3)) AS u(k)
          LEFT JOIN bagg b ON b.d = i.d AND b.k = u.k),
        sigs AS (
          SELECT d,
            max(CASE WHEN k = 0 THEN band END) AS b0,
            max(CASE WHEN k = 1 THEN band END) AS b1,
            max(CASE WHEN k = 2 THEN band END) AS b2,
            max(CASE WHEN k = 3 THEN band END) AS b3
          FROM bands GROUP BY 1),
        rep AS (SELECT b0, b1, b2, b3, min(d) AS rep
                FROM sigs GROUP BY 1, 2, 3, 4),
        classes AS (
          SELECT r.rep AS id_a, s.d AS id_b, CAST(0 AS INTEGER) AS hamming
          FROM sigs s JOIN rep r USING (b0, b1, b2, b3)
          WHERE s.d != r.rep),
        rbands AS (
          SELECT rep AS d, unnest([b0, b1, b2, b3]) AS band,
            unnest([0, 1, 2, 3]) AS k
          FROM rep),
        pairs AS (
          SELECT DISTINCT a.d AS id_a, b.d AS id_b
          FROM rbands a JOIN rbands b ON a.k = b.k AND a.band = b.band AND a.d < b.d)
        SELECT p.id_a, p.id_b,
          CAST(sum(bit_count(xor(x.band, y.band))) AS INTEGER) AS hamming
        FROM pairs p
        JOIN rbands x ON x.d = p.id_a
        JOIN rbands y ON y.d = p.id_b AND y.k = x.k
        GROUP BY 1, 2
        HAVING sum(bit_count(xor(x.band, y.band))) <= 8
        UNION ALL SELECT id_a, id_b, hamming FROM classes""")),
    // REAL RIFF/WAVE decode, oracle-backed: each doc_id becomes a real
    // PCM16 WAV (md5-derivable samples; planted silence window, planted
    // clipping, and a LIST junk chunk for ids % 5 = 0 so a fixed-offset
    // 44-byte reader would misparse) — wavStats chunk-walks and streams
    // the samples; DuckDB recomputes every exact-integer statistic from
    // doc_id without touching a byte, pinning the full WAV encode →
    // chunk-walk → streaming-decode cycle cross-engine
    Query("q_audio_stats", (s, dir) =>
      Audio.wavStats(Audio.syntheticWavFromDocs(docsPar(s, dir)))
        .select("media_id", "decode_ok", "sample_rate", "n_channels",
          "n_samples", "duration_ms", "peak_abs", "sum_abs", "sum_sq",
          "clip_count", "n_windows", "silent_windows"),
      // audio: samples recomputed from the generator contract — md5 hex
      // pairs as little-endian int16 (8 per block), silence plant (frames
      // 0..63 for d % 23 = 3), then clipping plant (every 50th frame for
      // d % 37 = 2, clip wins on overlap) — then the identical integer
      // aggregates the engine computes from real decoded WAV bytes
      Some("""WITH p AS (
          SELECT doc_id AS d, CAST(doc_id % 120 + 40 AS BIGINT) AS n,
            CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS INTEGER) AS rate
          FROM documents),
        idx AS (
          SELECT d, n, rate, u.i FROM p, unnest(generate_series(0, n - 1)) AS u(i)),
        s AS (
          SELECT d, i,
            CASE
              WHEN d % 37 = 2 AND i % 50 = 0 THEN 32767
              WHEN d % 23 = 3 AND i < 64 THEN 0
              ELSE CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END
            END AS v
          FROM (
            SELECT d, i,
              ( (instr('0123456789abcdef', substr(h, (i % 8) * 4 + 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(h, (i % 8) * 4 + 2, 1)) - 1) )
              + 256 * ( (instr('0123456789abcdef', substr(h, (i % 8) * 4 + 3, 1)) - 1) * 16
                      + (instr('0123456789abcdef', substr(h, (i % 8) * 4 + 4, 1)) - 1) ) AS raw
            FROM (
              SELECT d, i,
                md5(CAST(d AS VARCHAR) || ':' || CAST(i // 8 AS VARCHAR)) AS h
              FROM idx))),
        w AS (
          SELECT d, i // 64 AS win, max(abs(v)) AS wmax FROM s GROUP BY 1, 2),
        agg AS (
          SELECT d,
            CAST(max(abs(v)) AS BIGINT) AS peak_abs,
            CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
            CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
            CAST(sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END) AS BIGINT)
              AS clip_count
          FROM s GROUP BY 1),
        wagg AS (
          SELECT d, CAST(count(*) AS BIGINT) AS n_windows,
            CAST(sum(CASE WHEN wmax < 512 THEN 1 ELSE 0 END) AS BIGINT)
              AS silent_windows
          FROM w GROUP BY 1)
        SELECT p.d AS media_id, TRUE AS decode_ok, p.rate AS sample_rate,
          CAST(1 AS INTEGER) AS n_channels, p.n AS n_samples,
          p.n * 1000 // p.rate AS duration_ms,
          agg.peak_abs, agg.sum_abs, agg.sum_sq, agg.clip_count,
          wagg.n_windows, wagg.silent_windows
        FROM p
        JOIN agg ON agg.d = p.d
        JOIN wagg ON wagg.d = p.d""")))
}
