package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Multimodal rows (`q_multimodal_*`): image, audio and video bytes,
  * decoding, frames and perceptual-hash near-duplicates.
  */
private[graft] object MultimodalQueries {
  import Fixtures.docs

  val queries: Seq[(String, CatalogQuery)] = Seq(
    "q_multimodal_bytes" -> CatalogQuery((s, d) =>
      Multimodal.attachPayload(docs(s, d), "doc_id", "text")
        .select(
          col("media_id"),
          col("meta.n_bytes").as("n_bytes"),
          sha2(col("payload"), 256).as("payload_sha")),
      """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS payload_sha FROM documents""".stripMargin),

    "q_multimodal_decode" -> CatalogQuery((s, d) =>
      Multimodal.decodeFeatures(s, Multimodal.attachPayload(docs(s, d), "doc_id", "text"))
        .toDF()
        .select("media_id", "width", "height", "channels", "n_bytes"),
      """WITH h AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb,
        |    CAST(concat('0x', substr(sha256(text), 1, 8)) AS BIGINT) AS hv
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(CASE WHEN nb = 0 THEN 0 ELSE hv % 1920 + 1 END AS INTEGER) AS width,
        |  CAST(CASE WHEN nb = 0 THEN 0 ELSE (hv // 1920) % 1080 + 1 END AS INTEGER) AS height,
        |  CAST(CASE WHEN nb = 0 THEN 0 ELSE 3 END AS INTEGER) AS channels,
        |  nb AS n_bytes
        |FROM h""".stripMargin),

    // video-shaped frame sampling through the multimodal plumbing: the
    // deterministic metadata-derived frame count explodes into stride-3
    // frame indices (a real pipeline emits frame payloads in this shape)
    "q_multimodal_frames" -> CatalogQuery((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.attachPayload(docs(s, d), "doc_id", "text"), stride = 3)
        .select(col("media_id"), col("frame_no").cast("long").as("frame_no")),
      // frame-count replica: n_frames = n_bytes // 100 + 1 (the engine's
      // double division + int truncation agrees for the non-negative sizes
      // here), stride-3 indices via range (exclusive end ≡ Spark's
      // inclusive sequence to n_frames-1 on the stride grid)
      """WITH m AS (SELECT doc_id AS media_id,
        |    octet_length(encode(text)) // 100 + 1 AS n_frames FROM documents)
        |SELECT media_id, CAST(unnest(range(0, n_frames, 3)) AS BIGINT) AS frame_no
        |FROM m""".stripMargin),

    // REAL codec through the gate: deterministic constant-gray PNGs are
    // encoded AND decoded by javax.imageio inside the query, so the oracle
    // (which computes the same dims/luma closed-form from the id) checks the
    // actual encode→header-parse→pixel-decode round trip — a wrong width,
    // channel count, or luma integration breaks the hash. Ids % 50 == 0
    // carry a truncated payload (PNG magic, no IHDR) and must degrade to
    // (0,0,0)/zeros, pinning the corrupt-payload contract end-to-end.
    "q_multimodal_real_decode" -> CatalogQuery((s, d) =>
      Multimodal.decodeFeatures(
          s, Multimodal.syntheticPngs(s, docs(s, d), "doc_id"),
          featureDim = 1, codec = Multimodal.ImageIoCodec)
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          element_at(col("features"), 1).as("band_luma")),
      // Closed-form mirror of the real-PNG round trip: syntheticPngs paints a
      // constant-gray (v = id%256) image of (id%30+1)×(id%17+1), so the
      // decoded dims are the formulas, channels is 3 (RGB PNG), and the
      // 1-band mean luminance is exactly v/255 (BT.601 luma of r=g=b=v is v;
      // float32 rounding absorbs the double-accumulation error). Truncated
      // payloads (id%50=0) degrade to zeros by the codec contract.
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 30 + 1 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 17 + 1 END AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 3 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0.0
        |       ELSE (doc_id % 256) / 255.0 END AS REAL) AS band_luma
        |FROM documents""".stripMargin),

    // Real AUDIO codec through the gate, same scheme as real_decode: the
    // query writes a constant-amplitude mono 16-bit WAV per id and decodes
    // it back through javax.sound — frames/rate/channels from the header
    // parse, RMS from the PCM decode — all closed-form in the id (RMS is
    // |v|/32768, exact in float). Ids % 50 == 0 carry a truncated RIFF
    // header and must degrade to zeros.
    "q_multimodal_audio" -> CatalogQuery((s, d) =>
      Multimodal.decodeFeatures(
          s, Multimodal.syntheticWavs(s, docs(s, d), "doc_id"),
          featureDim = 1, codec = Multimodal.WavCodec)
        .toDF()
        .select(
          col("media_id"),
          col("width").as("n_frames"),
          col("height").as("sample_rate"),
          col("channels"),
          element_at(col("features"), 1).as("rms")),
      // Closed-form mirror of the real-WAV round trip (see syntheticWavs):
      // n = id%400+50 constant-amplitude frames at 8 kHz mono; RMS of a
      // constant signal is |v|/32768 exactly (power-of-two divisor, 14-bit
      // amplitude — float-exact); truncated payloads degrade to zeros
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 400 + 50 END AS INTEGER) AS n_frames,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 8000 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 1 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0.0
        |       ELSE abs((doc_id % 1024) - 512) * 32 / 32768.0 END AS REAL) AS rms
        |FROM documents""".stripMargin),

    // Real VIDEO decode through the gate, same scheme: each id's payload
    // is an actual MJPEG elementary stream (n = id%4+1 constant-gray JPEG
    // frames of (id%28+8)×(id%20+8)) decoded back by the pure-JDK
    // MjpegVideoCodec — frame splitting walks the real JPEG segment
    // structure, dims come from the first frame's header parse — so
    // width/height/frame count are closed-form in the id (the segment walk
    // is lossless even though JPEG pixels are not). Ids % 50 == 0 carry a
    // truncated stream (SOI + APP0 fragment, no complete frame) and must
    // degrade to (0,0,0). The dims triple reads (width, height, nFrames)
    // for video, per the codec contract.
    "q_multimodal_video" -> CatalogQuery((s, d) =>
      Multimodal.decodeFeatures(
          s, Multimodal.syntheticMjpegs(s, docs(s, d), "doc_id"),
          featureDim = 1, codec = Multimodal.MjpegVideoCodec)
        .toDF()
        .select(
          col("media_id"), col("width"), col("height"),
          col("channels").as("n_frames")),
      // Closed-form mirror of the real-MJPEG round trip (see syntheticMjpegs):
      // n = id%4+1 frames of (id%28+8)×(id%20+8) — dims/count survive JPEG's
      // lossy pixel path because they come from the header walk and segment
      // parse; truncated streams (id%50=0) degrade to zeros
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 28 + 8 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 20 + 8 END AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 4 + 1 END AS INTEGER) AS n_frames
        |FROM documents""".stripMargin),

    // AUDIO near-dup dedup through the REAL PCM decoder: band WAVs whose
    // loud/quiet RMS pattern encodes the same id-derived mask scheme
    // (salt "afp"); decode → 64-band RMS fingerprint → the shared Hamming
    // probe; truncated payloads must be dropped
    "q_multimodal_audio_dedup" -> CatalogQuery((s, d) =>
      Multimodal.audioNearDupPairs(
          s, Multimodal.syntheticBandWavs(s, docs(s, d), "doc_id"), maxHamming = 3)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming")),
      // audio twin of the planted-mask replica (salt 'afp')
      """WITH m AS (SELECT doc_id,
        |    xor(CAST(concat('0x', substr(sha256(concat(CAST(doc_id // 4 AS VARCHAR), ':afp')), 1, 15)) AS BIGINT),
        |        doc_id % 4) AS mask
        |  FROM documents WHERE doc_id % 50 <> 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.mask, b.mask)) AS INTEGER) AS hamming
        |FROM m a JOIN m b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.mask, b.mask)) <= 3""".stripMargin),

    // IMAGE near-dup dedup through the REAL decoder: grid PNGs whose pixel
    // pattern encodes an id-derived 64-bit mask are decoded, aHashed, and
    // probed by the same Manku-style Hamming tables as text simhash — the
    // oracle re-derives every mask from id arithmetic and brute-forces the
    // pair set, so a wrong pixel decode, block mean, threshold, bit order,
    // or probe table breaks the hash; truncated payloads must be DROPPED
    "q_multimodal_image_dedup" -> CatalogQuery((s, d) =>
      Multimodal.imageNearDupPairs(
          s, Multimodal.syntheticGridPngs(s, docs(s, d), "doc_id"), maxHamming = 3)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming")),
      // the planted-mask replica: mask = hash60(id div 4) XOR (id mod 4),
      // brute-force pairs within Hamming 3, corrupt ids (÷50) excluded —
      // equality with the Spark side proves decode→aHash recovered every
      // mask exactly AND the blocked probe achieved exact recall
      """WITH m AS (SELECT doc_id,
        |    xor(CAST(concat('0x', substr(sha256(concat(CAST(doc_id // 4 AS VARCHAR), ':ahash')), 1, 15)) AS BIGINT),
        |        doc_id % 4) AS mask
        |  FROM documents WHERE doc_id % 50 <> 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.mask, b.mask)) AS INTEGER) AS hamming
        |FROM m a JOIN m b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.mask, b.mask)) <= 3""".stripMargin))
}
