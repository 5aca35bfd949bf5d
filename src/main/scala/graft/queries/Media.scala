package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.queries.Shared._

/** Multimodal payload decoding, resizing, frame sampling and
 * fingerprints. */
private[graft] object Media {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("payload_meta", (s, dir) =>
      Multimodal.payloadMeta(t(s, dir, "documents")).orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  sha256(text) AS checksum,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
        |  CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels
        |FROM documents ORDER BY doc_id""".stripMargin),

    // real javax.imageio round-trip: per-doc PNGs are encoded then decoded
    // executor-side; dimensions/band-count/channel sums all come from the
    // DECODED raster, and the oracle predicts them in closed form
    QueryDef("decode_batch", (s, dir) =>
      Multimodal.decodeBatch(s, t(s, dir, "documents")).toDF().orderBy("doc_id"),
      // decode_batch twin: the Spark side decodes real PNG bytes; this side
      // predicts what the decoded raster must contain from the closed-form
      // pattern pixel(x,y) = RGB(x, y, id mod 256) at w = 16 + id mod 17,
      // h = 16 + id mod 13 — a hash match proves the codec round-trip
      """SELECT doc_id,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(h * (w * (w - 1) // 2) AS BIGINT) AS sum_r,
        |  CAST(w * (h * (h - 1) // 2) AS BIGINT) AS sum_g,
        |  CAST(w * h * (doc_id % 256) AS BIGINT) AS sum_b
        |FROM (SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // EXECUTED raster resize: decode + nearest-neighbor resample to
    // 24x24, channel sums over the RESIZED pixels; the oracle predicts
    // the resampled sums closed-form (floor source mapping)
    QueryDef("media_resize", (s, dir) =>
      Multimodal.resizeBatch(s, t(s, dir, "documents")).toDF()
        .orderBy("doc_id"),
      // media_resize twin: nearest-neighbor with the floor mapping
      // src = tgt * srcDim // tgtDim means resized pixel (tx, ty) is
      // RGB(tx*w//24, ty*h//24, id % 256) — sums are list-folds over the
      // 24-wide target range
      """SELECT doc_id,
        |  CAST(w AS BIGINT) AS src_w,
        |  CAST(h AS BIGINT) AS src_h,
        |  CAST(24 AS BIGINT) AS width,
        |  CAST(24 AS BIGINT) AS height,
        |  CAST(576 AS BIGINT) AS n_pixels,
        |  CAST(24 * list_sum(list_transform(range(0, 24),
        |    tx -> (tx * w) // 24)) AS BIGINT) AS sum_r,
        |  CAST(24 * list_sum(list_transform(range(0, 24),
        |    ty -> (ty * h) // 24)) AS BIGINT) AS sum_g,
        |  CAST(576 * (doc_id % 256) AS BIGINT) AS sum_b
        |FROM (SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // EXECUTED frame sampling over real concatenated-PNG containers:
    // chunk-walk split, every 2nd of 6 frames decoded; the oracle
    // predicts each sampled frame's raster in closed form
    QueryDef("frame_sample", (s, dir) =>
      Multimodal.frameSampleBatch(s, t(s, dir, "documents"),
        nFrames = 6, step = 2).toDF()
        .orderBy("doc_id", "frame_idx"),
      // frame_sample twin: sampled frames f in (0,2,4) of 6, blue plane
      // advanced to (doc_id + f) mod 256 — same closed-form raster
      // prediction as decode_batch, per frame
      """SELECT doc_id, f AS frame_idx,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(h * (w * (w - 1) // 2) AS BIGINT) AS sum_r,
        |  CAST(w * (h * (h - 1) // 2) AS BIGINT) AS sum_g,
        |  CAST(w * h * ((doc_id + f) % 256) AS BIGINT) AS sum_b
        |FROM (SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h,
        |        CAST(unnest([0, 2, 4]) AS BIGINT) AS f
        |      FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin),

    QueryDef("media_ops", (s, dir) =>
      Multimodal.mediaOps(t(s, dir, "documents")).orderBy("doc_id"),
      """SELECT doc_id, byte_len, width, height,
        |  round(224.0 / width, 6) AS scale_x,
        |  round(224.0 / height, 6) AS scale_y,
        |  CAST(CASE WHEN byte_len > 0 THEN 1 + (byte_len - 1) // 64
        |       ELSE 0 END AS BIGINT) AS n_frames,
        |  CASE WHEN byte_len > 0
        |    THEN array_to_string(list_transform(
        |      generate_series(CAST(0 AS BIGINT), byte_len - 1, 64),
        |      x -> CAST(x AS VARCHAR)), ',')
        |    ELSE '' END AS frame_offsets
        |FROM (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |    CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
        |    CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS height
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // the mapPartitions feature-extraction surface, scalarized for the
    // driver compare: integer bin counts ride as a comma-joined string
    // (the quantize_int8 pattern), so the row is exact on both engines
    QueryDef("feature_extract", (s, dir) =>
      Multimodal.featureExtractBatch(s, t(s, dir, "documents")).toDF()
        .select(col("doc_id"), col("byte_len"),
          expr("array_join(transform(hist_counts, c -> CAST(c AS STRING)), ',')")
            .as("hist"),
          col("peak_bin").cast("long").as("peak_bin"))
        .orderBy("doc_id"),
      // feature_extract twin: byte i's high nibble is the hex digit at
      // position 2i-1 of hex(payload), so the 16-bin histogram from
      // Multimodal.featureExtractBatch ((byte & 0xff) >>> 4) is recomputable
      // exactly; peak_bin is first-max argmax via list_position.
      s"""WITH $histCtes
         |SELECT doc_id, byte_len,
         |  array_to_string(list_transform(counts, x -> CAST(x AS VARCHAR)), ',')
         |    AS hist,
         |  CAST(list_position(counts, list_max(counts)) - 1 AS BIGINT) AS peak_bin
         |FROM c ORDER BY doc_id""".stripMargin),

    // pre-codec media dedup: quantized byte-histogram fingerprint groups
    QueryDef("media_fingerprint", (s, dir) =>
      Multimodal.mediaFingerprintDedup(s, t(s, dir, "documents"))
        .orderBy("doc_id"),
      // media_fingerprint: permille-quantized histogram + length bucket as
      // the group key; integer floor division on both sides
      s"""WITH $histCtes,
         |f AS (SELECT doc_id,
         |  CAST(length(bin(byte_len)) AS VARCHAR) || ':' ||
         |  array_to_string(list_transform(counts,
         |    c -> CAST(CASE WHEN byte_len > 0
         |              THEN (c * 1000) // byte_len ELSE 0 END AS VARCHAR)),
         |    ',') AS fp
         |  FROM c)
         |SELECT doc_id, fp,
         |  CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same,
         |  doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep
         |FROM f ORDER BY doc_id""".stripMargin),
  )

  /** DuckDB 16-bin byte-histogram CTEs ending in `c(doc_id, byte_len,
   * counts)` — shared by the feature_extract and media_fingerprint oracles
   * (hex-nibble recount of the UTF-8 payload bytes). */
  private val histCtes: String =
    """h AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, byte_len,
      |    list_transform(generate_series(0, 15), b ->
      |      len(list_filter(generate_series(1, CAST(byte_len AS INTEGER)),
      |          i -> substr(hx, 2 * i - 1, 1) =
      |               substr('0123456789ABCDEF', b + 1, 1)))) AS counts
      |  FROM h)""".stripMargin
}
